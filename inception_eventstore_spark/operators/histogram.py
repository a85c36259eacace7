"""V-optimal histogram construction (Jagadish, Koudas, Muthukrishnan,
Poosala, Sevcik & Suel, VLDB 1998): choose k bucket boundaries over a
pre-binned value domain minimizing the total within-segment sum of
squared errors — the piecewise-constant density summary query
optimizers and drift monitors keep per column.

Why this shape at 100 TB: the corpus contributes ONE bounded pass
(quantize → equal-width pre-bin → per-bin count/sum/sum-of-squares,
all partial-aggregated), after which the dynamic program runs on the
``n_bins``-row table — the km_survival bounded-axis driver pattern.
The DP is O(k·n_bins²) on 32 rows: microseconds. Data volume never
touches the DP.

Cross-engine exactness (the repo's integer discipline):
- values quantize to 2^8 fixed point (floor(v·256) — floor of a
  correctly-rounded double is engine-identical);
- equal-width pre-bin ids are pure integer arithmetic
  div((x − lo)·n_bins, hi − lo + 1);
- per-bin moments are exact BIGINTs (guarded: the driver refuses
  inputs where Σx² could overflow, rather than an opaque ANSI crash);
- the segment cost is the INTEGER
      cost(i,j) = ss·2^20 − (s²·2^20) // c
  (2^20-scaled SSE with one truncating division) so DP comparisons
  are exact-integer comparisons — no float cost ever enters a
  comparison, and the DuckDB oracle's HUGEINT replay makes the
  IDENTICAL argmin choices (ties break to the smallest split);
- reported SSE is cost // 2^20 (back to raw units, still integer).

Reference parity: the reference engine (1nception.EventStore.Cassandra)
keeps no histogram statistics at all — this is part of the additive
analytics surface, not a port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.local_df import local_df

__all__ = ["v_optimal_histogram", "v_optimal_segmentation"]

_SCALE = 1 << 20


def _seg_cost(c: int, s: int, ss: int) -> int:
    """Integer 2^20-scaled SSE of one segment — mirrored verbatim by
    the oracle's HUGEINT expression."""
    if c == 0:
        return 0
    return ss * _SCALE - (s * s * _SCALE) // c


def v_optimal_segmentation(
    bins: list[tuple[int, int, int]], k: int
) -> list[tuple[int, int, int]]:
    """Exact k-segment least-squares DP over a bounded pre-binned
    axis: ``bins`` is [(count, sum, sum_sq)] per position; returns
    [(lo, hi, cost_u)] per segment with cost_u the 2^20-scaled
    integer SSE. Shared by `v_optimal_histogram` (value axis) and
    `timeseries.changepoints_lsq` (day axis) — ONE cost/tie-break
    definition, so their oracles replay the identical argmin choices
    (ties break to the smallest split, the row_number ORDER BY
    (cost, prev) rule)."""
    n_bins = len(bins)
    if not 2 <= k <= n_bins:
        raise ValueError(f"need 2 <= k <= n_bins, got k={k}, n_bins={n_bins}")
    pc = [0] * (n_bins + 1)
    ps = [0] * (n_bins + 1)
    pss = [0] * (n_bins + 1)
    for b, (c, s, ss) in enumerate(bins):
        pc[b + 1] = pc[b] + c
        ps[b + 1] = ps[b] + s
        pss[b + 1] = pss[b] + ss

    def cost(i: int, j: int) -> int:  # buckets i..j inclusive
        return _seg_cost(
            pc[j + 1] - pc[i], ps[j + 1] - ps[i], pss[j + 1] - pss[i]
        )

    INF = float("inf")
    best = [[INF] * n_bins for _ in range(k + 1)]
    prev = [[-1] * n_bins for _ in range(k + 1)]
    for j in range(n_bins):
        best[1][j] = cost(0, j)
    for t in range(2, k + 1):
        for j in range(t - 1, n_bins):
            for m in range(t - 2, j):
                if best[t - 1][m] is INF:
                    continue
                cand = best[t - 1][m] + cost(m + 1, j)
                if cand < best[t][j]:
                    best[t][j], prev[t][j] = cand, m
    splits = []
    j = n_bins - 1
    for t in range(k, 1, -1):
        m = prev[t][j]
        splits.append(m)
        j = m
    splits = sorted(splits)
    bounds = (
        [(0, splits[0])]
        + [(splits[i] + 1, splits[i + 1]) for i in range(len(splits) - 1)]
        + [(splits[-1] + 1, n_bins - 1)]
    )
    return [(blo, bhi, cost(blo, bhi)) for blo, bhi in bounds]


def v_optimal_histogram(
    df: DataFrame,
    value_col: str = "value",
    n_bins: int = 32,
    k: int = 8,
) -> DataFrame:
    """k-segment v-optimal histogram over ``value_col`` (module
    docstring). Output per segment: seg, lo_bucket, hi_bucket,
    n_rows, sum_q (2^8 fixed-point), sse_q (integer SSE in squared
    2^8 units)."""
    if not 2 <= k <= n_bins:
        raise ValueError(f"need 2 <= k <= n_bins, got k={k}, n_bins={n_bins}")
    q = F.floor(F.col(value_col) * F.lit(256.0)).cast("bigint")
    src = df.where(F.col(value_col).isNotNull()).select(q.alias("_x"))
    mm = src.agg(
        F.min("_x").alias("_lo"),
        F.max("_x").alias("_hi"),
        F.count("*").cast("bigint").alias("_nr"),
    ).first()
    lo, hi, nr = mm["_lo"], mm["_hi"], int(mm["_nr"])
    if lo is None or nr < 1:
        raise ValueError("v_optimal_histogram: no non-null rows")
    # Σx² overflow guard: a clear error beats an opaque ANSI crash
    worst = max(abs(int(lo)), abs(int(hi)))
    if worst * worst * nr >= 1 << 63:
        raise ValueError(
            "v_optimal_histogram: sum of squares could exceed BIGINT "
            f"(max |x_q| {worst}, {nr} rows) — rescale the value first"
        )
    if hi == lo:
        bucket = F.lit(0).cast("bigint")
    else:
        bucket = F.least(
            F.lit(int(n_bins) - 1),
            F.expr(
                f"div((_x - {int(lo)}) * {int(n_bins)}, "
                f"{int(hi)} - {int(lo)} + 1)"
            ),
        ).cast("bigint")
    rows = (
        src.select(bucket.alias("_b"), "_x")
        .groupBy("_b")
        .agg(
            F.count("*").cast("bigint").alias("_c"),
            F.sum("_x").cast("bigint").alias("_s"),
            F.sum(F.col("_x") * F.col("_x")).cast("bigint").alias("_ss"),
        )
        .collect()
    )
    got = {int(r["_b"]): (int(r["_c"]), int(r["_s"]), int(r["_ss"]))
           for r in rows}
    bins = [got.get(b, (0, 0, 0)) for b in range(int(n_bins))]
    pc_tot = 0
    out_rows = []
    for seg, (blo, bhi, cost_u) in enumerate(
        v_optimal_segmentation(bins, k)
    ):
        c = sum(bins[b][0] for b in range(blo, bhi + 1))
        s_ = sum(bins[b][1] for b in range(blo, bhi + 1))
        pc_tot += c
        out_rows.append((seg, blo, bhi, c, s_, cost_u // _SCALE))
    assert pc_tot == nr  # segments tile the axis

    return local_df(
        df.sparkSession,
        out_rows,
        "seg bigint, lo_bucket bigint, hi_bucket bigint, "
        "n_rows bigint, sum_q bigint, sse_q bigint",
    )
