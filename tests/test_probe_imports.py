"""Every name a probe or script imports from the product still exists.

The scripts under ``benchmarks/`` and ``scripts/`` run by hand, so a product
name they import can be deleted or renamed without any test noticing. This
walks their ``from truthound_spark... import X`` and ``from bench import X``
statements with ``ast`` (no Spark session) and resolves each name.
"""

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted([*ROOT.glob("benchmarks/*.py"), *ROOT.glob("scripts/*.py")])


def _product_imports(path: Path) -> list[tuple[int, str, str]]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        (node.lineno, node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module is not None
        and (node.module == "bench" or node.module.split(".")[0] == "truthound_spark")
        for alias in node.names
    ]


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # a submodule: ``from truthound_spark.pipeline import text``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_scripts_are_found():
    assert any(p.parent.name == "benchmarks" for p in SCRIPTS)
    assert any(p.parent.name == "scripts" for p in SCRIPTS)


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: f"{p.parent.name}/{p.name}")
def test_probe_imports_resolve(path):
    missing = [
        f"{path.name}:{line}: from {module} import {name}"
        for line, module, name in _product_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, missing
