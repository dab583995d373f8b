"""The tools in scripts/ and the bench tools bench.py and bench_extra.py
are run by hand, not by the suite, so a rename in the package would
break them silently. Compile each one and resolve every
``hand_index_spark`` name it imports, at module level or inside a
function, without starting Spark."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import py_compile
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SCRIPTS = sorted((ROOT / "scripts").glob("*.py")) + [ROOT / "bench.py", ROOT / "bench_extra.py"]


def package_imports(path: Path) -> list[tuple[str, str | None]]:
    """(module, name) for each ``from hand_index_spark... import name``
    and (module, None) for each ``import hand_index_spark...``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "hand_index_spark"
        ):
            out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.name, None) for a in node.names if a.name.startswith("hand_index_spark")
            ]
    return out


def test_scripts_found():
    assert {p.name for p in SCRIPTS} >= {"plan_audit.py", "verify_contract.py"}


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_compiles_and_imports_resolve(path, tmp_path):
    py_compile.compile(str(path), cfile=str(tmp_path / "x.pyc"), doraise=True)
    for mod, name in package_imports(path):
        m = importlib.import_module(mod)
        if name is not None:
            assert hasattr(m, name) or importlib.util.find_spec(f"{mod}.{name}"), (
                f"{path.name}: {mod} has no {name}"
            )
