"""The repo's scripts must keep importing what the library still has.

``tools/*.py``, ``jobs/*.py``, ``perfbench/*.py`` and ``bench.py`` run
outside the test suite, most of their imports sit inside functions, and
nothing else executes them, so a library deletion or rename could break
one silently (``perfbench/`` changes only with the benchmark, so there it
would show only when the benchmark runs). This walks each script's AST
and checks that every ``from bitextor_spark... import name`` names a
module attribute or a submodule, and that every ``import
bitextor_spark...`` names a module. No Spark session starts."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SCRIPTS = sorted([
    *ROOT.glob("tools/*.py"), *ROOT.glob("jobs/*.py"),
    *ROOT.glob("perfbench/*.py"), ROOT / "bench.py",
])


def _library_imports(path: Path):
    """(line, module, name) per imported name; name is None for ``import``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            (node.module or "").split(".")[0] == "bitextor_spark"
        ):
            for alias in node.names:
                yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "bitextor_spark":
                    yield node.lineno, alias.name, None


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT))
)
def test_script_library_imports_resolve(path):
    missing = []
    for line, module, name in _library_imports(path):
        mod = importlib.import_module(module)
        if name is None or name == "*" or hasattr(mod, name):
            continue
        submodule = f"{module}.{name}"
        if not hasattr(mod, "__path__") or (
            importlib.util.find_spec(submodule) is None
        ):
            missing.append(f"{path.name}:{line}: {submodule}")
    assert not missing, missing


def test_scripts_import_the_library():
    """The walk above sees the imports at all (tools and bench.py use
    function-local ``from bitextor_spark... import`` statements)."""
    assert sum(1 for p in SCRIPTS for _ in _library_imports(p)) > 10
