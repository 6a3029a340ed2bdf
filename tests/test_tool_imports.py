"""Every name a `tools/` script imports from the package, from a
`perfbench/` module or from another tool exists.

The scripts are parsed, not imported: some read ``sys.argv`` or start
Spark at import time. Deleting or renaming a public operator, a
perfbench helper (``from spans import Tracer``) or a shared tool
helper must fail here instead of breaking a tool the suite never
runs."""

from __future__ import annotations

import ast
import importlib
import pathlib
import sys

import pytest

ROOT = pathlib.Path(__file__).parent.parent
PACKAGE = "dataingestionengineprocess_spark"
TOOLS = sorted((ROOT / "tools").glob("*.py"))
#: directories whose top-level modules the tools import by bare name
LOCAL_DIRS = [ROOT / "perfbench", ROOT / "tools"]
LOCAL = {p.stem for d in LOCAL_DIRS for p in d.glob("*.py")}


def _checked_imports(path: pathlib.Path) -> list[tuple[str, str]]:
    return [
        (node.module, alias.name)
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.ImportFrom) and node.level == 0
        and (node.module or "").split(".")[0] in {PACKAGE, *LOCAL}
        for alias in node.names
    ]


@pytest.mark.parametrize("tool", TOOLS, ids=lambda p: p.name)
def test_tool_imports_resolve(tool, monkeypatch):
    for d in LOCAL_DIRS:
        monkeypatch.syspath_prepend(str(d))
    loaded = set(sys.modules)
    missing = []
    try:
        for module, name in _checked_imports(tool):
            mod = importlib.import_module(module)
            if not hasattr(mod, name):
                try:
                    importlib.import_module(f"{module}.{name}")
                except ModuleNotFoundError:
                    missing.append(f"{module}.{name}")
    finally:
        # the bare names (`run`, `spans`, `stats`) must not outlive the
        # case and shadow same-named modules in later tests; monkeypatch
        # restores sys.path, which perfbench/run.py also prepends to
        for mod in set(sys.modules) - loaded:
            if mod.split(".")[0] in LOCAL:
                del sys.modules[mod]
    assert not missing, f"{tool.name} imports missing names: {missing}"
