"""The library does not import the query registry.

``plans/queries.py`` declares the correctness queries on top of the
operators; the operators, the shared functions, the sources and the
streaming jobs sit below it. This check fails when a module under those
packages imports the registry, at module top or inside a function.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "inception_eventstore_spark"
REGISTRY = "inception_eventstore_spark.plans.queries"


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
