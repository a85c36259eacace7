"""Distributed exact ranking without single-task windows.

``Window.partitionBy(group).orderBy(key)`` funnels every row of a group
through ONE task — fatal when a group is a whole language of a
web-scale corpus (CCNet bucketing: English is ~half the data) or when
the "group" is a literal (global vocabulary rank). The scale-safe form
is the classic two-phase rank:

1. range-partition the rows on ``(group, order-key)`` — Spark's
   ``repartitionByRange`` samples balanced boundaries, so no shard is
   bigger than ~|data| / shards regardless of group skew;
2. count rows per (physical shard, group) — a #shards·#groups-row
   driver fold — and prefix-sum the counts in shard order per group;
3. broadcast the offsets back and ``row_number`` WITHIN each
   (shard, group): global rank = shard's exclusive prefix + local row
   number. Because range partitioning preserves the global order of
   the total key ``(group, order-key)``, the result is identical,
   rank for rank, to the single-window form — every declared-query
   oracle built on the old window keeps hash-matching.

The partitioned frame is pinned with ``localCheckpoint`` before the
count job: ``repartitionByRange`` samples boundaries per job, so
without pinning the counting job and the ranking job could disagree
about which shard a boundary row landed in, yielding duplicate or
gapped ranks (the lineage hazard ADVICE flagged for
``epoch_shuffle_rank``). The checkpoint also makes the whole rank a
single scan of the input instead of three.

Compare ``sampling.epoch_shuffle_rank``: same two-phase shape, but its
order key is a uniform md5 value, so FIXED-WIDTH key ranges are
balanced shards with no sampling pass and no checkpoint needed. This
helper is the general-key version for order keys with arbitrary
(skewed) distributions — LM scores, frequencies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.local_df import local_df

_PID = "_gr_pid"
_OFF = "_gr_off"


def sharded_running_sums(
    df: DataFrame,
    order_cols: list[Column],
    sum_cols: list[str],
    num_shards: int | None = None,
) -> DataFrame:
    """Global running (prefix-inclusive, ROWS frame) sums of INTEGER
    columns ordered by ``order_cols`` — the two-phase form of
    ``Window.partitionBy(lit(1)).orderBy(...)`` running sums, which
    funnel the whole relation through one task. Adds ``<c>_cum`` per
    sum column.

    Integer-only on purpose: integer addition is associative, so
    shard-offset + within-shard running sum is BIT-IDENTICAL to the
    sequential window for any sharding — the property that keeps
    DuckDB-oracle replays (which run the plain sequential window)
    hash-matching. A double version would round differently per
    shard split; quantize to integers first (see
    negative_sampling_intervals' 2^20 micro-weights).

    ``order_cols`` must be a TOTAL order (unique key) — with ties,
    rows of one tie group could straddle a shard boundary and the
    ROWS-frame prefix would depend on the split; pre-aggregate ties
    into one row first (the callers here groupBy the order key
    anyway). Same checkpoint-pinning rationale as grouped_row_number.
    """
    from pyspark.sql import types as T

    for c in sum_cols:
        if not isinstance(df.schema[c].dataType, T.IntegralType):
            raise TypeError(
                f"sharded_running_sums needs integer columns; {c} is "
                f"{df.schema[c].dataType.simpleString()} — quantize first"
            )
    spark = df.sparkSession
    if num_shards is None:
        num_shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = (
        df.repartitionByRange(num_shards, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    rows = (
        parts.groupBy(_PID)
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
        .collect()
    )
    acc = {c: 0 for c in sum_cols}
    out_rows = []
    for r in sorted(rows, key=lambda r: r[_PID]):
        out_rows.append((int(r[_PID]), *[acc[c] for c in sum_cols]))
        for c in sum_cols:
            acc[c] += int(r[c] or 0)
    off_names = [f"_off_{c}" for c in sum_cols]
    off_df = local_df(
        spark, out_rows,
        f"{_PID} int, " + ", ".join(f"{n} long" for n in off_names),
        slices=1,
    )
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = parts.join(F.broadcast(off_df), _PID)
    for c, off in zip(sum_cols, off_names):
        out = out.withColumn(
            f"{c}_cum",
            (F.col(off) + F.sum(c).over(w)).cast("bigint"),
        )
    return out.drop(_PID, *off_names)


def sharded_running_max(
    df: DataFrame,
    order_cols: list[Column],
    max_col: str,
    out_col: str,
    num_shards: int | None = None,
    exclusive: bool = True,
) -> DataFrame:
    """Global running MAX of an INTEGER column ordered by
    ``order_cols`` — the two-phase form of a
    ``Window.partitionBy(lit(1)).orderBy(...)`` running max. With
    ``exclusive=True`` (the default) the frame is
    ``rowsBetween(unboundedPreceding, -1)``: each row sees the max of
    STRICTLY-preceding rows, NULL for the global first row (callers
    coalesce to their identity).

    max is associative and idempotent, so shard-prefix max + within-
    shard running max is identical to the sequential window for ANY
    shard split — ties in ``order_cols`` are harmless here (unlike
    running sums), because a tie group straddling a boundary changes
    which rows contribute via the offset vs the frame, never the max
    itself for exclusive frames over rows with equal keys ONLY when
    the order is total. Callers that need exact strict-prefix
    semantics (the skyline operator) pre-aggregate to distinct order
    keys first, making the order total by construction.

    Integer-only for the same cross-engine reason as
    sharded_running_sums: comparisons are exact, so the DuckDB oracle
    (a plain sequential window) stays bit-identical. Cost: one scan +
    one range shuffle + a #shards-row collect (checkpoint-pinned —
    see module docstring).
    """
    from pyspark.sql import types as T

    if not isinstance(df.schema[max_col].dataType, T.IntegralType):
        raise TypeError(
            f"sharded_running_max needs an integer column; {max_col} is "
            f"{df.schema[max_col].dataType.simpleString()} — quantize first"
        )
    spark = df.sparkSession
    if num_shards is None:
        num_shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = (
        df.repartitionByRange(num_shards, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    rows = parts.groupBy(_PID).agg(F.max(max_col).alias("_m")).collect()
    # exclusive prefix max over shards in shard (=range) order
    acc: int | None = None
    out_rows = []
    for r in sorted(rows, key=lambda r: r[_PID]):
        out_rows.append((int(r[_PID]), acc))
        if r["_m"] is not None and (acc is None or int(r["_m"]) > acc):
            acc = int(r["_m"])
    off_df = local_df(spark, out_rows, f"{_PID} int, {_OFF} long", slices=1)
    end = -1 if exclusive else 0
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    # greatest() ignores NULLs: NULL only when both the shard offset
    # and the within-shard frame are empty (the global first row).
    return (
        parts.join(F.broadcast(off_df), _PID)
        .withColumn(
            out_col,
            F.greatest(F.col(_OFF), F.max(max_col).over(w)).cast("bigint"),
        )
        .drop(_PID, _OFF)
    )


def grouped_row_number(
    df: DataFrame,
    order_cols: list[Column],
    group_cols: list[str] | None = None,
    rank_col: str = "rank",
    with_group_count: str | None = None,
    num_shards: int | None = None,
) -> DataFrame:
    """Add ``rank_col`` = 1-based ``row_number`` over
    ``Window.partitionBy(*group_cols).orderBy(*order_cols)`` — computed
    with the two-phase shard rank above, never a per-group single task.

    ``order_cols`` are Column expressions (``F.col("s").desc()`` works;
    include a unique tiebreaker so the order is total — required for
    deterministic ranks). ``group_cols`` empty/None means a single
    global ranking. ``with_group_count`` optionally names a column to
    carry each group's total row count (free — it falls out of the same
    shard-count fold; with no groups it is the global count).

    The input is materialized once (localCheckpoint) — see module
    docstring for why that is required for correctness, not a cache
    nicety. Cost: one scan + one range shuffle + a #shards·#groups-row
    collect.
    """
    group_cols = list(group_cols or [])
    spark = df.sparkSession
    if num_shards is None:
        num_shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    grp = [F.col(c) for c in group_cols]
    parts = (
        df.repartitionByRange(num_shards, *grp, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    rows = (
        parts.groupBy(_PID, *group_cols)
        .agg(F.count("*").alias("_n"))
        .collect()
    )
    # exclusive prefix of shard counts, per group, in shard (=range) order
    offsets: dict[tuple, int] = {}
    out_rows = []
    for r in sorted(rows, key=lambda r: r[_PID]):
        key = tuple(r[c] for c in group_cols)
        off = offsets.get(key, 0)
        out_rows.append((int(r[_PID]), *key, off))
        offsets[key] = off + int(r["_n"])
    off_schema = parts.select(
        F.col(_PID), *grp, F.lit(0).cast("long").alias(_OFF)
    ).schema
    off_df = local_df(spark, out_rows, off_schema, slices=1)
    w = Window.partitionBy(_PID, *group_cols).orderBy(*order_cols)
    ranked = (
        parts.join(F.broadcast(off_df), [_PID, *group_cols])
        .withColumn(
            rank_col,
            (F.col(_OFF) + F.row_number().over(w)).cast("bigint"),
        )
        .drop(_PID, _OFF)
    )
    if with_group_count:
        tot_rows = [(*k, int(n)) for k, n in offsets.items()]
        if group_cols:
            tot_schema = parts.select(
                *grp, F.lit(0).cast("long").alias(with_group_count)
            ).schema
            tot_df = local_df(spark, tot_rows, tot_schema, slices=1)
            ranked = ranked.join(F.broadcast(tot_df), group_cols)
        else:
            n = tot_rows[0][0] if tot_rows else 0
            ranked = ranked.withColumn(
                with_group_count, F.lit(n).cast("long")
            )
    return ranked
