"""Every script under tools/ still resolves what it takes from the package.

No test imports most tools, so deleting a package function a tool uses
would otherwise go unnoticed until someone runs the tool. Each tool is
parsed (never executed) with ``ast``; every ``cocktailsdb_spark`` import,
at module level or inside a function, must name an existing module or
attribute, and so must each ``alias.attr`` read through an imported
package module. No tool may take a stdlib module's name.

No SparkSession needed.
"""

from __future__ import annotations

import ast
import importlib
import sys
from pathlib import Path
from types import ModuleType

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

PKG = "cocktailsdb_spark"
TOOLS = sorted((ROOT / "tools").glob("*.py"))


def _in_pkg(module: str) -> bool:
    return module == PKG or module.startswith(PKG + ".")


def _resolve(module: str, name: str) -> bool:
    try:
        mod = importlib.import_module(module)
    except ModuleNotFoundError:
        return False
    if hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def _missing(tree: ast.AST) -> list[str]:
    missing: list[str] = []
    aliases: dict[str, str] = {}  # local name -> package module it binds
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if not _in_pkg(node.module):
                continue
            for a in node.names:
                if not _resolve(node.module, a.name):
                    missing.append(f"{node.module}.{a.name} (line {node.lineno})")
                    continue
                if isinstance(getattr(importlib.import_module(node.module), a.name), ModuleType):
                    aliases[a.asname or a.name] = f"{node.module}.{a.name}"
        elif isinstance(node, ast.Import):
            for a in node.names:
                if not _in_pkg(a.name):
                    continue
                try:
                    importlib.import_module(a.name)
                except ModuleNotFoundError:
                    missing.append(f"{a.name} (line {node.lineno})")
                    continue
                if a.asname:
                    aliases[a.asname] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
            and not _resolve(aliases[node.value.id], node.attr)
        ):
            missing.append(f"{aliases[node.value.id]}.{node.attr} (line {node.lineno})")
    return missing


def test_tools_directory_is_scanned():
    assert any(p.name == "selfcheck.py" for p in TOOLS)


def test_no_tool_shadows_a_stdlib_module():
    """``python tools/x.py`` puts tools/ first on sys.path, so a tool named
    like a stdlib module replaces it for every tool: a tools/profile.py is
    what ``import cProfile`` (reached from ``import pyspark``) loads."""
    clashes = sorted(p.stem for p in TOOLS if p.stem in sys.stdlib_module_names)
    assert not clashes, f"tools/ files shadow stdlib modules: {clashes}"


@pytest.mark.parametrize("path", TOOLS, ids=[p.name for p in TOOLS])
def test_tool_package_imports_resolve(path):
    missing = _missing(ast.parse(path.read_text(), filename=str(path)))
    assert not missing, f"tools/{path.name} uses names the package no longer has: {missing}"
