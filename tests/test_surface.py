"""Surface census: every public top-level definition in the engine is
reached by something other than its own tests, or names a reference
behaviour.

An AST scan (no Spark, no imports of the engine) collects the top-level
functions and classes of ``llm_rankers_spark/``. A definition is *reached*
when a name it binds is used, directly or through other reached
definitions, by a non-test Python file of the repo (the driver entry, the
harness scripts, ``perfbench/``) or by module-level code of the package
itself. A definition that nothing reaches may stay only if a COVERAGE.md
table row names it and that row maps a SURVEY.md operator ID or cites a
reference file (``path.py:lines`` of a file the engine does not have).
Matching is by bare name, so a collision can only let a definition pass."""

import ast
import os
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "llm_rankers_spark"
SKIP_DIRS = {"tests", "__pycache__", "spark-warehouse", "metastore_db"}


def _python_files() -> list[Path]:
    out = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d not in SKIP_DIRS and not d.startswith(".")]
        out += [Path(root) / f for f in files if f.endswith(".py")]
    return out


def _names_used(node: ast.AST) -> set[str]:
    """Names a piece of code uses: loads of bare names and attributes.
    Import statements bind names but use none."""
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
    return used


_DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _census():
    """(public definitions as {name: module}, uses of each top-level
    definition, names used by the roots)."""
    public, uses, roots = {}, {}, set()
    for path in _python_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        if PACKAGE not in path.parents:
            roots |= _names_used(tree)
            continue
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for stmt in tree.body:
            if isinstance(stmt, _DEF_TYPES):
                uses.setdefault(stmt.name, set()).update(_names_used(stmt))
                if not stmt.name.startswith("_"):
                    public[stmt.name] = module
            elif not isinstance(stmt, _IMPORTS):
                roots |= _names_used(stmt)
    return public, uses, roots


def _survey_ids() -> set[str]:
    ids = set()
    for m in re.finditer(r"^\|\s*([A-Z]\d+(?:/[A-Z]\d+)*)\s*\|", (REPO / "SURVEY.md").read_text(), re.MULTILINE):
        ids.update(m.group(1).split("/"))
    return ids


def _cites_reference(row: str, engine_files: set[str]) -> bool:
    return any(Path(f).name not in engine_files for f in re.findall(r"([\w./-]+\.(?:py|toml|sh)):\d+", row))


def _coverage_names() -> set[str]:
    """Identifiers in backticks of the COVERAGE.md table rows that map a
    SURVEY.md operator ID or cite a reference file."""
    ids = _survey_ids()
    engine_files = {p.name for p in PACKAGE.rglob("*.py")}
    names = set()
    for row in (REPO / "COVERAGE.md").read_text().splitlines():
        if not row.startswith("|"):
            continue
        first = row.split("|")[1].strip()
        if set(first.split("/")) <= ids or _cites_reference(row, engine_files):
            for span in re.findall(r"`([^`]*)`", row):
                names.update(re.findall(r"[A-Za-z_]\w*", span))
    return names


def test_every_public_definition_is_reached_or_maps_the_reference():
    public, uses, roots = _census()
    kept = _coverage_names() & set(uses)
    reached, todo = set(), list((roots | kept) & set(uses))
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo += [u for u in uses[name] if u in uses and u not in reached]
    dead = sorted(f"{module}.{name}" for name, module in public.items() if name not in reached)
    assert not dead, f"public definitions only tests reach, mapped to no reference behaviour: {dead}"


def test_census_sees_the_engine():
    public, uses, roots = _census()
    # a sample of each kind of root: the driver entry, the CLI, perfbench
    assert {"entry", "main", "search", "rerank_batched"} <= roots
    assert public["search"] == "operators.bm25" and public["get_spark"] == "session"
    assert {"S1", "T9", "P6", "P7", "M3"} <= _survey_ids()
