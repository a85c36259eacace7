"""The event store's on-disk format is spelled in one module.

``sources/layout.EventStoreLayout`` owns every store's path, schema,
directory partitioning, sort order and bucket rule; the operators and
the streaming jobs reach the stores only through it. This check fails
when a format detail is spelled again outside it.
"""

from __future__ import annotations

from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "inception_eventstore_spark"

#: Spellings of the stores' format that belong in sources/layout.py only.
FORMAT_SPELLINGS = (
    '"tombstones"',
    'partitionBy("bucket")',
    'partitionBy("et", "pid")',
    'f"bucket=',
    'f"et=',
)


def test_store_format_is_spelled_only_in_layout():
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for sub in ("operators", "streaming")
        for path in sorted((PACKAGE / sub).rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if any(s in line for s in FORMAT_SPELLINGS)
    ]
    assert not hits, "store format spelled outside sources/layout.py:\n" + (
        "\n".join(hits)
    )
