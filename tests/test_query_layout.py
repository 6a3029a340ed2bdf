"""The query package is laid out by family: each registered query lives
in the module its registry-name prefix maps to, and no module is named
after the development round that added it."""

from __future__ import annotations

import ast
import os
import re

from dataingestionengineprocess_spark.queries import QUERIES, all_queries

PKG = "dataingestionengineprocess_spark.queries"
QUERY_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), *PKG.split("."))

#: Registry-name prefix -> module. Families with five or more queries
#: have a module of their own; smaller ones share the closest family's.
FAMILY_MODULE = {
    **{f: f for f in (
        "agg", "curation", "dedup", "embedding", "events", "gov", "graph",
        "join", "knn", "ml", "multimodal", "orders", "quality", "sample",
        "scalar", "source", "stat", "stream", "text", "udf", "warehouse",
        "window")},
    **{f: "relational" for f in (
        "filter", "project", "set", "sql", "subquery", "union", "unpivot")},
    "asof": "join",
    "basket": "orders",
    "crossmodal": "knn",
    "entity": "quality",
    "label": "ml",
    "part": "orders",
    "pipeline": "warehouse",
    "rec": "ml",
    "sales": "orders",
    "similarity": "knn",
    "supplier": "orders",
    "topk": "window",
    "udtf": "udf",
}


def family_module(name: str) -> str:
    prefix = name.split("_")[0]
    if re.fullmatch(r"q\d+", prefix):  # TPC-H analogs
        return "tpch"
    return FAMILY_MODULE[prefix]


def test_every_query_lives_in_its_family_module():
    all_queries()
    misplaced = {
        name: fn.__module__ for name, fn in QUERIES.items()
        if fn.__module__ != f"{PKG}.{family_module(name)}"
    }
    assert not misplaced


def test_every_family_module_holds_queries():
    all_queries()
    modules = {f[:-3] for f in os.listdir(QUERY_DIR)
               if f.endswith(".py") and f != "__init__.py"}
    used = {fn.__module__.rsplit(".", 1)[1] for fn in QUERIES.values()}
    assert modules == used


def test_no_module_is_named_after_a_round():
    assert not [f for f in os.listdir(QUERY_DIR) if f.startswith("round")]


def _module_bindings(tree: ast.Module) -> list[str]:
    """Names bound at module level: assignments, defs and classes."""
    names = []
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            names += [n.id for t in targets for n in ast.walk(t)
                      if isinstance(n, ast.Name)]
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
            names.append(node.name)
    return names


def test_no_module_level_name_is_bound_twice():
    """A module name bound twice (say, one oracle string per query
    under the same name) makes whichever reader runs later silently
    get the other binding."""
    root = os.path.dirname(QUERY_DIR)
    twice = []
    for sub in ("queries", "operators"):
        for fn in sorted(os.listdir(os.path.join(root, sub))):
            if not fn.endswith(".py"):
                continue
            with open(os.path.join(root, sub, fn)) as f:
                names = _module_bindings(ast.parse(f.read()))
            twice += sorted(f"{sub}/{fn}:{n}" for n in set(names)
                            if names.count(n) > 1)
    assert not twice, twice
