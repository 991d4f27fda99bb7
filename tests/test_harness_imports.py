"""The benchmark and plan-capture scripts at the repo root and in BENCH/
are never run by the test suite, so an engine change can break what they
import or call without any test noticing. This parses each script and
checks that every name it imports from ``llm_rankers_spark`` (at any
nesting depth, e.g. inside a function) still exists, that every keyword
argument it passes to an imported engine function is one of that
function's parameters, and that no script pins a literal ``local[N]``
master (the session sizes itself to the box). No Spark session."""

import ast
import importlib
import inspect
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted([REPO / "bench.py", REPO / "bench_extra.py"] + list((REPO / "BENCH").glob("*.py")))


def _engine_imports(tree: ast.AST) -> list[tuple[str, list[ast.alias]]]:
    """(module, imported aliases) of every ``llm_rankers_spark`` import in
    ``tree``; a plain ``import llm_rankers_spark.x`` imports no names."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (node.module or "").split(".")[0] == "llm_rankers_spark":
            out.append((node.module, node.names))
        elif isinstance(node, ast.Import):
            out += [(a.name, []) for a in node.names if a.name.split(".")[0] == "llm_rankers_spark"]
    return out


def _parse(path: Path) -> ast.AST:
    return ast.parse(path.read_text(), filename=str(path))


def _resolve(module: str, name: str):
    """What ``from module import name`` binds, or None when the engine no
    longer has it."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:  # a submodule: ``from llm_rankers_spark.operators import bm25``
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


def test_every_script_is_checked():
    assert {p.name for p in SCRIPTS} == {"bench.py", "bench_extra.py", "capture_plans.py", "gen_sf1.py", "scale_proof.py"}


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(REPO)))
def test_engine_imports_resolve(path):
    missing = []
    for module, aliases in _engine_imports(_parse(path)):
        importlib.import_module(module)  # a plain import must resolve too
        missing += [f"{module}.{a.name}" for a in aliases if _resolve(module, a.name) is None]
    assert not missing, f"{path.name} imports names the engine no longer has: {missing}"


def _called(func: ast.expr, objs: dict):
    """The engine object a call's ``func`` names: ``name(...)`` of an
    imported function or ``module.attr(...)`` of an imported module."""
    if isinstance(func, ast.Name):
        return objs.get(func.id)
    if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        mod = objs.get(func.value.id)
        if inspect.ismodule(mod):
            return getattr(mod, func.attr, None)
    return None


def _bad_keywords(path: Path) -> list[str]:
    tree = _parse(path)
    objs = {a.asname or a.name: _resolve(module, a.name) for module, aliases in _engine_imports(tree) for a in aliases}
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = _called(node.func, objs)
        if fn is None or inspect.ismodule(fn) or not callable(fn):
            continue
        try:
            params = inspect.signature(fn).parameters
        except (TypeError, ValueError):
            continue
        if any(p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values()):
            continue
        bad += [
            f"line {node.lineno}: {fn.__name__}({kw.arg}=...)"
            for kw in node.keywords
            if kw.arg is not None and kw.arg not in params
        ]
    return bad


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(REPO)))
def test_engine_call_keywords_exist(path):
    bad = _bad_keywords(path)
    assert not bad, f"{path.name} passes keywords the engine no longer takes: {bad}"


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(REPO)))
def test_no_literal_local_master(path):
    pinned = [
        f"line {node.lineno}: {node.value!r}"
        for node in ast.walk(_parse(path))
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and re.fullmatch(r"local\[\d+\]", node.value)
    ]
    assert not pinned, f"{path.name} pins a local[N] master instead of the session default: {pinned}"
