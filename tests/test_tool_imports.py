"""Every name a `tools/` script imports from the package exists.

The scripts are parsed, not imported: some read ``sys.argv`` or start
Spark at import time. Deleting or renaming a public operator must fail
here instead of breaking a tool the suite never runs."""

from __future__ import annotations

import ast
import importlib
import pathlib

import pytest

PACKAGE = "dataingestionengineprocess_spark"
TOOLS = sorted((pathlib.Path(__file__).parent.parent / "tools").glob("*.py"))


def _package_imports(path: pathlib.Path) -> list[tuple[str, str]]:
    return [
        (node.module, alias.name)
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.ImportFrom) and node.level == 0
        and (node.module or "").split(".")[0] == PACKAGE
        for alias in node.names
    ]


@pytest.mark.parametrize("tool", TOOLS, ids=lambda p: p.name)
def test_tool_imports_resolve(tool):
    missing = []
    for module, name in _package_imports(tool):
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            try:
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"{module}.{name}")
    assert not missing, f"{tool.name} imports missing names: {missing}"
