"""Static guard over ``tools/``: every script compiles, and every name it
imports from the package still exists.

Nothing imports the scripts, so a package refactor that deletes or
renames a helper breaks them silently until someone next runs one. This
test reads each script's source and resolves its package imports — the
top-level ones and the ones nested in functions — without running the
script or starting a Spark session.
"""

import ast
import importlib
from pathlib import Path

import pytest

PACKAGE = "ethereum_analytical_db_spark"
TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


def _package_imports(tree: ast.AST):
    """(module, name) per ``from <package>... import name``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = node.module or ""
            if mod == PACKAGE or mod.startswith(PACKAGE + "."):
                for alias in node.names:
                    yield mod, alias.name


def _resolves(mod: str, name: str) -> bool:
    if hasattr(importlib.import_module(mod), name):
        return True
    try:  # ``from pkg import submodule`` that the package does not re-export
        importlib.import_module(f"{mod}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_compiles_and_package_imports_resolve(path):
    src = path.read_text()
    compile(src, str(path), "exec")
    missing = [
        f"{mod}.{name}"
        for mod, name in _package_imports(ast.parse(src, str(path)))
        if not _resolves(mod, name)
    ]
    assert not missing, f"{path.name} imports deleted names: {missing}"
