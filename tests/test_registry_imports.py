"""The query registry's structure.

``plans/queries.py`` declares the correctness queries on top of the
operators; the operators, the shared functions, the sources and the
streaming jobs sit below it. One check fails when a module under those
packages imports the registry, at module top or inside a function.

The registry is one dict, ``QUERIES``: a base literal, grown by one
``QUERIES.update({...})`` per query family, and listed in name order.
The other checks pin that order and that each name is declared once
(an ``update`` would let a second declaration win silently).
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "inception_eventstore_spark"
REGISTRY = "inception_eventstore_spark.plans.queries"
REGISTRY_FILE = PACKAGE / "plans" / "queries.py"


def _imported_modules(tree: ast.AST, package: str):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = package.rsplit(".", node.level - 1)[0]
                base = f"{parent}.{base}" if base else parent
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)


def test_library_does_not_import_the_registry():
    hits = []
    for sub in ("operators", "functions", "sources", "streaming"):
        for path in sorted((PACKAGE / sub).rglob("*.py")):
            package = f"inception_eventstore_spark.{sub}"
            tree = ast.parse(path.read_text())
            if any(
                m == REGISTRY or m.startswith(REGISTRY + ".")
                for m in _imported_modules(tree, package)
            ):
                hits.append(str(path.relative_to(PACKAGE)))
    assert not hits, "modules importing plans.queries:\n" + "\n".join(hits)


def test_registry_lists_queries_in_name_order():
    from inception_eventstore_spark.plans.queries import (
        oracle_queries,
        spark_queries,
    )

    names = list(spark_queries())
    oracles = list(oracle_queries())
    assert names == sorted(names)
    assert oracles == sorted(oracles)
    assert set(oracles) <= set(names)


def _declared_dicts(tree: ast.Module):
    """The base ``QUERIES`` literal and each ``QUERIES.update`` literal."""
    for node in tree.body:
        if isinstance(node, ast.AnnAssign):
            if isinstance(node.target, ast.Name) and node.target.id == "QUERIES":
                yield node.value
        elif isinstance(node, ast.Expr) and isinstance(node.value, ast.Call):
            func = node.value.func
            if (
                isinstance(func, ast.Attribute)
                and func.attr == "update"
                and isinstance(func.value, ast.Name)
                and func.value.id == "QUERIES"
            ):
                yield from node.value.args


def test_every_query_name_is_declared_once():
    from inception_eventstore_spark.plans.queries import QUERIES

    declared = [
        key.value
        for literal in _declared_dicts(ast.parse(REGISTRY_FILE.read_text()))
        for key in literal.keys
        if isinstance(key, ast.Constant) and isinstance(key.value, str)
    ]
    twice = sorted(n for n, c in Counter(declared).items() if c > 1)
    assert len(declared) == len(QUERIES), twice
