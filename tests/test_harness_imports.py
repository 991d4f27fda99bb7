"""The benchmark and plan-capture scripts at the repo root, in BENCH/ and in
plans/r06/ are never run by the test suite, so an engine change can break
what they import without any test noticing. This parses each script and
checks that every name it imports from ``llm_rankers_spark`` (at any
nesting depth, e.g. inside a function) still exists. No Spark session."""

import ast
import importlib
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [REPO / "bench.py", REPO / "bench_extra.py"]
    + list((REPO / "BENCH").glob("*.py"))
    + list((REPO / "plans" / "r06").glob("*.py"))
)


def _engine_imports(path: Path) -> list[tuple[str, list[str]]]:
    """(module, imported names) of every ``llm_rankers_spark`` import in
    ``path``; a plain ``import llm_rankers_spark.x`` imports no names."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (node.module or "").split(".")[0] == "llm_rankers_spark":
            out.append((node.module, [a.name for a in node.names]))
        elif isinstance(node, ast.Import):
            out += [(a.name, []) for a in node.names if a.name.split(".")[0] == "llm_rankers_spark"]
    return out


def test_every_script_is_checked():
    assert {"bench.py", "bench_extra.py", "scale_proof.py", "capture_r06.py"} <= {p.name for p in SCRIPTS}


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(REPO)))
def test_engine_imports_resolve(path):
    missing = []
    for module, names in _engine_imports(path):
        mod = importlib.import_module(module)
        for name in names:
            if hasattr(mod, name):
                continue
            try:  # a submodule: ``from llm_rankers_spark.operators import bm25``
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"{module}.{name}")
    assert not missing, f"{path.name} imports names the engine no longer has: {missing}"
