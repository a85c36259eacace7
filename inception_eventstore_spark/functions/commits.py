"""Commit grouping: envelope rows ↔ AggregateCommit arrays.

The reference's write path expands an AggregateCommit into envelope rows
— private events at pos 0..N-1, public events from pos N-1+5 onward
(reference: CassandraEventStore.cs:72-86; offset constant
AggregateCommitBlock.cs:12). Its read path re-groups rows into commits
by rev, splitting private/public by *expected* position: a row is
private iff its pos equals the number of private events attached so far
(reference: AggregateCommitBlock.cs:33-64, with ``>=`` tolerance at :60).

A commit's positions are distinct and non-negative, so once its
(pos, data) cells are sorted by pos, "pos equals the count of privates
so far" is exactly "pos equals the cell's index in the sorted array" —
the privates are a contiguous-from-zero prefix. The split is therefore
one aggregation, fully JVM-side, no UDF and no window:

    cells    = array_sort(collect_list(struct(pos, data)))  per (id, rev)
    private  ⟺  cells[i].pos == i

Grouping shuffles once on (id, rev); when the input already sits in one
partition (a single-aggregate read) it does not shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inception_eventstore_spark.schemas import PUBLIC_EVENTS_OFFSET

#: Commit DataFrame schema: id BINARY, rev INT, ts LONG,
#: events ARRAY<BINARY>, public_events ARRAY<BINARY>.


def explode_commits(commits: DataFrame) -> DataFrame:
    """Commits (arrays) → envelope rows; the R1 row-expansion.

    Private event i → pos i; public event i → pos (N-1) + 5 + i where N
    = number of private events (N≥1 in practice; the reference writes
    pos 4+i for an empty private list, reproduced by greatest(N-1, 0)+5
    ... exactly (N-1)+5 evaluated with N=0 → pos 4, matching the
    C# ``pos = -1; pos += 5`` path).
    """
    n_priv = F.greatest(F.size("events"), F.lit(0))  # size(NULL) = -1 → 0
    private_rows = commits.select(
        "id",
        "rev",
        "ts",
        F.posexplode_outer("events").alias("pos", "data"),
    ).where(F.col("pos").isNotNull())
    public_rows = (
        commits.withColumn("n_priv", n_priv)
        .select(
            "id",
            "rev",
            "ts",
            "n_priv",
            F.posexplode_outer("public_events").alias("ppos", "data"),
        )
        .where(F.col("ppos").isNotNull())
        .select(
            "id",
            "rev",
            "ts",
            (
                F.col("n_priv") - F.lit(1) + F.lit(PUBLIC_EVENTS_OFFSET) + F.col("ppos")
            ).cast("int").alias("pos"),
            "data",
        )
    )
    cols = ["id", "rev", "pos", "ts", "data"]
    return private_rows.select(*cols).unionByName(public_rows.select(*cols))


#: A commit's cells split by the rule above: higher-order SQL
#: expressions, so no Python lambda is built per call.
_PRIVATE = "transform(filter(_cells, (c, i) -> c.pos = i), c -> c.data)"
_PUBLIC = "transform(filter(_cells, (c, i) -> c.pos != i), c -> c.data)"


def group_commits(rows: DataFrame) -> DataFrame:
    """Envelope rows → commits; the R3/R10 grouping transform.

    Returns (id, rev, ts, events ARRAY<BINARY>, public_events
    ARRAY<BINARY>) with ts = the commit's first-row timestamp (the
    reference takes the first block row's timestamp,
    AggregateCommitBlock.cs:35-36). One ``groupBy("id", "rev")``
    collects each commit's (pos, data) cells sorted by pos (then data,
    so stored duplicates of one key order deterministically); a cell is
    private iff its pos equals its index in that array.
    """
    return (
        rows.groupBy("id", "rev")
        .agg(
            F.min_by("ts", "pos").alias("ts"),
            F.array_sort(F.collect_list(F.struct("pos", "data"))).alias(
                "_cells"
            ),
        )
        .select(
            "id",
            "rev",
            "ts",
            F.expr(_PRIVATE).alias("events"),
            F.expr(_PUBLIC).alias("public_events"),
        )
    )
