"""Event-sequence analytics over the event log: funnels and cohorts.

The reference's replay surface (R9-R11) exists to feed projections that
answer exactly these questions — "who did A then B?", "how many of the
users acquired in week W were still active k weeks later?" — but the
reference can only hand the events to client code
(CassandraEventStore.cs:336-391). Here the projections are the engine's
own DataFrame algebra:

- ``funnel_steps``: ordered k-step conversion. Each step reduces to a
  per-user MIN-timestamp aggregate joined to the next step's events —
  k-1 equi-joins on the user key where one side is one row per
  surviving user (broadcast-able), never a self-join of the raw log.
- ``cohort_retention``: weekly cohort × week-offset active-user matrix:
  one window-free pass — per-user first-event week (partial-agg
  groupBy), joined back, then one distinct-count aggregate.

Both stay JVM-side end to end; the event log is scanned once per step
with the event-type filter pushed to parquet.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.local_df import local_df


def funnel_steps(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within: str | None = None,
) -> DataFrame:
    """Ordered funnel: (step_idx, step, users) where ``users`` counts
    users who performed every step so far IN ORDER (each step at or
    after their earliest qualifying time for the previous step).
    ``within`` (an INTERVAL string, e.g. ``"7 days"``) additionally
    requires each step inside that horizon of the previous one — the
    conversion-window variant every funnel dashboard offers.

    A repeated consecutive step (["click", "click"]) requires a
    STRICTLY later event — the same event can't satisfy both
    occurrences (distinct steps keep the inclusive >=, so a
    simultaneous signup+click still converts).

    The per-step survivor set is (user, earliest qualifying ts) — one
    row per user, so each chained join is a small-side hash join and
    the raw log never self-joins. Each step's count is materialized
    eagerly (survivor sets persist only while the next step needs
    them, then unpersist), so the call leaves no cached state behind
    and the log is scanned exactly once per step."""
    if not steps:
        raise ValueError("steps must be non-empty")
    spark = events.sparkSession
    counts: list[tuple[int, str, int]] = []
    cur: DataFrame | None = None
    for i, step in enumerate(steps):
        hits = events.where(F.col(type_col) == step)
        if cur is None:
            nxt = hits.groupBy(user_col).agg(F.min(ts_col).alias("_t"))
        else:
            same_step = step == steps[i - 1]
            window_ok = (
                F.col(ts_col) > F.col("_t")
                if same_step
                else F.col(ts_col) >= F.col("_t")
            )
            if within is not None:
                window_ok = window_ok & (
                    F.col(ts_col) <= F.col("_t") + F.expr(f"INTERVAL {within}")
                )
            # no broadcast hint: the survivor set is one row per user —
            # small for most funnels (AQE broadcasts it), but a
            # billion-user log must be allowed to fall back to a
            # shuffle join rather than OOM the driver
            nxt = (
                hits.join(cur, user_col)
                .where(window_ok)
                .groupBy(user_col)
                .agg(F.min(ts_col).alias("_t"))
            )
        nxt = nxt.persist()
        counts.append((i + 1, step, nxt.count()))
        if cur is not None:
            cur.unpersist()
        cur = nxt
    if cur is not None:
        cur.unpersist()
    return spark.createDataFrame(
        counts, "step_idx long, step string, users long"
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(cohort_week, week_offset, users): distinct active users per
    weekly acquisition cohort and week-since-acquisition. Cohort = the
    Monday-truncated week of a user's first event; offset = whole weeks
    between that week and the event's week."""
    first = events.groupBy(user_col).agg(
        F.date_trunc("week", F.min(ts_col)).cast("date").alias("_cw")
    )
    return (
        events.join(first, user_col)
        .select(
            F.col("_cw").alias("cohort_week"),
            (
                F.datediff(
                    F.date_trunc("week", F.col(ts_col)).cast("date"),
                    F.col("_cw"),
                )
                / 7
            ).cast("long").alias("week_offset"),
            F.col(user_col),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct(user_col).alias("users"))
    )


def abandoned_after(
    events: DataFrame,
    first: str,
    then: str,
    within: str = "1 hour",
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """The ABSENCE funnel `funnel_steps` cannot ask: occurrences of
    ``first`` with NO ``then`` event by the same key within
    ``within`` afterwards (cart abandonment, un-acknowledged errors,
    churn triggers). Returns the abandoned ``first`` rows plus
    ``next_then_ts`` (NULL = never followed up at all).

    Temporal anti-joins explode quadratically as range joins; instead
    both event types union into ONE per-key window ordered by time,
    and each ``first`` row reads the MIN ``then`` timestamp over the
    at-or-after frame (``min`` over CURRENT ROW..UNBOUNDED FOLLOWING
    skips the NULLs non-``then`` rows carry). Ties at the same instant
    count as followed up: the sort is (ts, first-before-then,
    tiebreak) — ``first`` rows order ahead of equal-ts ``then`` rows,
    so a same-instant ``then`` stays INSIDE the ROWS frame regardless
    of how the raw tiebreak would interleave them. One shuffle on the
    key, no join at all — the same union+window shape as
    `joins.asof_join`, pointed forward."""
    sub = events.where(
        F.col(type_col).isin([first, then])
    ).select(
        key_col,
        ts_col,
        order_tiebreak,
        F.col(type_col).alias("_et"),
        F.when(F.col(type_col) == then, F.col(ts_col)).alias("_then_ts"),
        F.when(F.col(type_col) == then, F.lit(1))
        .otherwise(F.lit(0))
        .alias("_ord"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, "_ord", order_tiebreak)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    marked = sub.withColumn("next_then_ts", F.min("_then_ts").over(w))
    gap = F.expr(f"INTERVAL {within}")
    return (
        marked.where(F.col("_et") == first)
        .where(
            F.col("next_then_ts").isNull()
            | (F.col("next_then_ts") > F.col(ts_col) + gap)
        )
        .select(key_col, order_tiebreak, ts_col, "next_then_ts")
    )


def funnel_latency_percentiles(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """(step_idx, step, n_users, p50_s, p90_s) — EXACT conversion-
    latency percentiles for each consecutive funnel-step pair: per
    converting user, the delta between their earliest qualifying
    times of step i-1 and step i (the same chained min-ts contract
    as `funnel_steps`), then percentile_disc(0.5/0.9) over those
    integer-microsecond latencies. The "how long does conversion
    take" half of funnel analysis — counts alone can't distinguish a
    funnel that converts in seconds from one that takes a week.

    Exact and engine-identical: latencies are integer µs; the
    percentile is the rank-⌈p·n⌉ ORDER STATISTIC (ties broken by
    user id), ranked with the two-phase shard rank so a popular step
    pair never funnels one task; the final pivot is a |pairs|-row
    aggregate."""
    if len(steps) < 2:
        raise ValueError("need at least 2 steps")
    from inception_eventstore_spark.functions.ranking import (
        grouped_row_number,
    )

    lats = None
    cur: DataFrame | None = None
    for i, step in enumerate(steps):
        hits = events.where(F.col(type_col) == step)
        if cur is None:
            cur = hits.groupBy(user_col).agg(F.min(ts_col).alias("_t"))
            continue
        same_step = step == steps[i - 1]
        prev = cur.withColumnRenamed("_t", "_tp")
        window_ok = (
            F.col(ts_col) > F.col("_tp")
            if same_step
            else F.col(ts_col) >= F.col("_tp")
        )
        nxt = (
            hits.join(prev, user_col)
            .where(window_ok)
            .groupBy(user_col, "_tp")
            .agg(F.min(ts_col).alias("_t"))
        )
        pair = nxt.select(
            F.lit(i + 1).alias("step_idx"),
            F.lit(step).alias("step"),
            F.col(user_col).alias("_u"),
            (
                F.unix_micros(F.col("_t")) - F.unix_micros(F.col("_tp"))
            ).alias("_lat"),
        )
        lats = pair if lats is None else lats.unionByName(pair)
        cur = nxt.select(user_col, "_t")
    ranked = grouped_row_number(
        lats,
        order_cols=[F.col("_lat"), F.col("_u")],
        group_cols=["step_idx", "step"],
        rank_col="_r",
        with_group_count="_n",
    )
    p50 = F.expr("CAST((_n + 1) div 2 AS BIGINT)")
    p90 = F.expr("CAST((9 * _n + 9) div 10 AS BIGINT)")
    return (
        ranked.groupBy("step_idx", "step")
        .agg(
            F.max("_n").cast("bigint").alias("n_users"),
            F.round(
                F.max(F.when(F.col("_r") == p50, F.col("_lat"))) / 1e6,
                6,
            ).alias("p50_s"),
            F.round(
                F.max(F.when(F.col("_r") == p90, F.col("_lat"))) / 1e6,
                6,
            ).alias("p90_s"),
        )
        .select(
            F.col("step_idx").cast("bigint").alias("step_idx"),
            "step",
            "n_users",
            "p50_s",
            "p90_s",
        )
    )


def attribution_credit(
    events: DataFrame,
    conversion_type: str,
    lookback_days: int = 7,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Multi-touch attribution: per channel (touch event type), how
    much conversion credit it earned under the three standard models —
    first-touch, last-touch and linear — over the touches each
    conversion saw in its lookback window. Returns one row per channel:
    ``first_touch``/``last_touch`` (conversions credited wholly),
    ``linear_credit_ppm`` (Σ over conversions of this channel's share
    of 1,000,000), ``n_touches`` (pair count).

    Exactness: linear shares are INTEGER ppm — each conversion splits
    1,000,000 micro-credits as ``1000000 div n`` per touch with the
    remainder assigned to the FIRST touch (deterministic by
    (ts, event_id)), so channel totals are exact BIGINT sums and every
    conversion's credit sums to exactly 1,000,000 — no floating 1/n.

    Scale: the pair join is keyed on (user, lookback-sized time
    bucket), not on the user alone — a plain user-keyed join
    materializes EVERY touch×conversion pair of a user's history
    before the time filter runs (quadratic in account age; measured
    118 s → 16 s at 10M events in scale_smoke_analytics). Each touch
    contributes two bucket rows (its bucket and the next), each
    conversion joins its own bucket, so a (touch, conversion) pair
    meets exactly once and only window-local pairs ever materialize:
    fan-out is touches·conversions per (user, 2·lookback window) —
    dialed by ``lookback_days``, independent of history length.
    Per-conversion n / first / last come from one partial-aggregated
    groupBy on the conversion id (bounded groups), joined back; no
    windows, no self-join of the raw log.

    Reference analog: R10/R11 replay feeding a client-side projection
    (CassandraEventStore.cs:336-391) — here the projection is engine
    algebra."""
    if lookback_days < 1:
        raise ValueError("lookback_days must be >= 1")
    bucket = lambda c: (  # noqa: E731 — epoch-day div lookback
        F.floor(
            F.unix_micros(F.col(c))
            / F.lit(float(86_400_000_000 * lookback_days))
        ).cast("bigint")
    )
    conv = events.where(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_cts"),
        F.col(id_col).alias("_cid"),
        bucket(ts_col).alias("_b"),
    )
    touch = (
        events.where(F.col(type_col) != conversion_type)
        .select(
            F.col(user_col).alias("_u"),
            F.col(type_col).alias("channel"),
            F.col(ts_col).alias("_tts"),
            F.col(id_col).alias("_tid"),
            bucket(ts_col).alias("_tb"),
        )
        .select(
            "_u",
            "channel",
            "_tts",
            "_tid",
            F.explode(
                F.array(F.col("_tb"), F.col("_tb") + 1)
            ).alias("_b"),
        )
    )
    pairs = touch.join(conv, ["_u", "_b"]).where(
        (F.col("_tts") < F.col("_cts"))
        & (
            F.col("_tts")
            >= F.col("_cts") - F.expr(f"INTERVAL {lookback_days} DAYS")
        )
    ).select("channel", "_tts", "_tid", "_cid")
    # one row per conversion: touch count + first/last touch identity
    # ((ts, id) packed lexicographically via a struct min/max)
    per_conv = pairs.groupBy("_cid").agg(
        F.count("*").cast("bigint").alias("_n"),
        F.min(F.struct("_tts", "_tid")).alias("_first"),
        F.max(F.struct("_tts", "_tid")).alias("_last"),
    )
    credited = pairs.join(per_conv, "_cid").select(
        "channel",
        (F.col("_tid") == F.col("_first._tid")).alias("_is_first"),
        (F.col("_tid") == F.col("_last._tid")).alias("_is_last"),
        (
            F.expr("CAST(1000000 AS BIGINT) div _n")
            + F.when(
                F.col("_tid") == F.col("_first._tid"),
                F.lit(1000000).cast("bigint") % F.col("_n"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("_ppm"),
    )
    return credited.groupBy("channel").agg(
        F.sum(F.col("_is_first").cast("bigint"))
        .cast("bigint")
        .alias("first_touch"),
        F.sum(F.col("_is_last").cast("bigint"))
        .cast("bigint")
        .alias("last_touch"),
        F.sum("_ppm").cast("bigint").alias("linear_credit_ppm"),
        F.count("*").cast("bigint").alias("n_touches"),
    )


def km_survival(
    events: DataFrame,
    start_type: str,
    event_type: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Kaplan-Meier survival over the event log: time-to-event from
    each user's first ``start_type`` to their first subsequent
    ``event_type``, right-censored at the user's last event when the
    event never happens. Returns one row per distinct event day:
    ``t_days``, ``n_risk`` (at-risk just before t), ``n_events``
    (events at t), ``survival_ppb`` (the KM product-limit estimate in
    integer parts-per-billion).

    Exactness: the product-limit estimate Π(1 − d_i/n_i) is a product
    of rationals that CAN terminate on decimal rounding
    half-boundaries, and exp(Σ ln(·)) replays are at the mercy of each
    engine's libm — so the estimate is computed as the INTEGER
    recurrence ``S_i = (S_{i-1} · (n_i − d_i)) div n_i`` from
    S_0 = 10^9: exact, engine-independent, error ≤ one ppb per step.
    Headroom: S ≤ 10^9, so n_risk up to ~9·10^9 fits the BIGINT
    product under ANSI mode.

    KM tie convention: users censored at day t are still at risk AT t
    (deaths before censorings), so censor-only days never emit a row
    but do shrink later risk sets.

    Scale: the heavy work — per-user first/last timestamps and the
    per-day event/censor counts — is two partial-aggregated groupBys
    over the full log. What crosses to the driver is the per-DAY count
    table (bounded by the observation span in days, like the k-means
    centroid and sketch-register folds), where the inherently
    sequential recurrence runs; the result returns as a
    single-partition local DataFrame. No windows, no python UDF.

    Reference analog: R10 replay feeding a lifecycle projection
    (CassandraEventStore.cs:336-391); estimator: Kaplan & Meier 1958
    (public literature).
    """
    starts = (
        events.where(F.col(type_col) == start_type)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t0"))
    )
    lasts = events.groupBy(user_col).agg(F.max(ts_col).alias("_tmax"))
    evs = events.where(F.col(type_col) == event_type).select(
        F.col(user_col).alias("_eu"), F.col(ts_col).alias("_ets")
    )
    first_event = (
        starts.join(evs, starts[user_col] == F.col("_eu"))
        .where(F.col("_ets") >= F.col("_t0"))
        .groupBy(user_col)
        .agg(F.min("_ets").alias("_te"))
    )
    per_user = (
        starts.join(lasts, user_col)
        .join(first_event, user_col, "left")
        .select(
            F.when(
                F.col("_te").isNotNull(),
                F.datediff(F.to_date("_te"), F.to_date("_t0")),
            )
            .otherwise(
                F.datediff(F.to_date("_tmax"), F.to_date("_t0"))
            )
            .cast("bigint")
            .alias("_d"),
            F.col("_te").isNotNull().cast("int").alias("_obs"),
        )
    )
    per_day = (
        per_user.groupBy("_d")
        .agg(
            F.sum("_obs").cast("bigint").alias("_de"),
            F.sum(1 - F.col("_obs")).cast("bigint").alias("_ce"),
        )
        .collect()
    )
    # driver recurrence over the tiny day axis
    rows = sorted(per_day, key=lambda r: r["_d"])
    n_risk = sum(int(r["_de"]) + int(r["_ce"]) for r in rows)
    s = 10**9
    out = []
    for r in rows:
        de = int(r["_de"])
        if de > 0:
            s = (s * (n_risk - de)) // n_risk
            out.append((int(r["_d"]), n_risk, de, s))
        n_risk -= de + int(r["_ce"])

    return local_df(
        events.sparkSession,
        out,
        "t_days bigint, n_risk bigint, n_events bigint, "
        "survival_ppb bigint",
    )


def conversion_wilson_ci(
    events: DataFrame,
    start_type: str,
    convert_type: str,
    n_buckets: int = 3,
    z: float = 1.959963984540054,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-variant conversion rates with Wilson score intervals — the
    A/B readout: users are bucketed by ``user_id % n_buckets`` (the
    deterministic assignment every hash-split experiment uses), a user
    converts if any ``convert_type`` event follows their first
    ``start_type`` at-or-after it. Returns (bucket, n_users,
    n_converted, rate_ppm, wilson_lo, wilson_hi).

    Why Wilson and not normal-approx: it never leaves [0, 1] and is
    accurate at small n / extreme p — the interval a gating decision
    should actually use. The bounds are ONE closed-form expression of
    the two integers (n, c) and the literal z (default: the exact
    double nearest two-sided 95 %), with no data-dependent summation —
    both engines evaluate the identical double arithmetic, so 6 dp
    rounding is stable (no sum-order jitter anywhere).

    Scale: two per-user min-timestamp aggregates + one |buckets|-row
    rollup; rate_ppm is exact integer arithmetic.

    Reference analog: counter-table rates (C3) upgraded with the
    uncertainty the native engine cannot compute server-side;
    interval: Wilson 1927 (public literature)."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    starts = (
        events.where(F.col(type_col) == start_type)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t0"))
    )
    convs = events.where(F.col(type_col) == convert_type).select(
        F.col(user_col).alias("_cu"), F.col(ts_col).alias("_cts")
    )
    conv_users = (
        starts.join(convs, starts[user_col] == F.col("_cu"))
        .where(F.col("_cts") >= F.col("_t0"))
        .select(user_col)
        .distinct()
        .withColumn("_conv", F.lit(1))
    )
    per_bucket = (
        starts.join(conv_users, user_col, "left")
        .groupBy((F.col(user_col) % n_buckets).alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum(F.coalesce("_conv", F.lit(0)))
            .cast("bigint")
            .alias("n_converted"),
        )
    )
    n = F.col("n_users").cast("double")
    c = F.col("n_converted").cast("double")
    p = c / n
    zz = F.lit(float(z) * float(z))
    zl = F.lit(float(z))
    center = p + zz / (F.lit(2.0) * n)
    margin = zl * F.sqrt(
        (p * (F.lit(1.0) - p) + zz / (F.lit(4.0) * n)) / n
    )
    denom = F.lit(1.0) + zz / n
    return per_bucket.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_users",
        "n_converted",
        F.expr("CAST(n_converted * 1000000 div n_users AS BIGINT)").alias(
            "rate_ppm"
        ),
        F.round((center - margin) / denom, 6).alias("wilson_lo"),
        F.round((center + margin) / denom, 6).alias("wilson_hi"),
    )


def frequent_paths(
    events: DataFrame,
    length: int = 3,
    top_n: int = 20,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Top-N most frequent ``length``-step event-type paths — funnel
    DISCOVERY: instead of asking "how many users did A→B→C?"
    (funnel_steps), ask "which A→B→C actually happens?". A path is
    ``length`` CONSECUTIVE events of one user in (ts, tiebreak) order,
    sliding by one. Returns (path, n) with ``path`` the '>'-joined
    type names, ordered by (n desc, path) — a total order, so the
    LIMIT cut is deterministic.

    One window shuffle on the user key computes all ``length−1`` leads
    in a single sort (shared frame spec), then a partial-aggregated
    count. Per-user partitions are bounded by that user's event count
    — the rolling_stats skew caveat applies to pathological single
    users (pre-split hyperactive keys or cap with AQE skew handling).

    Reference analog: R10 replay-per-aggregate ordering put to
    sequence-mining use (CassandraEventStore.cs:336-391)."""
    if length < 2:
        raise ValueError("length must be >= 2")
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    steps = [F.col(type_col)] + [
        F.lead(type_col, j).over(w) for j in range(1, int(length))
    ]
    nn = steps[0].isNotNull()
    for s in steps[1:]:
        nn = nn & s.isNotNull()
    return (
        events.select(
            F.concat_ws(">", *steps).alias("path"), nn.alias("_ok")
        )
        .where(F.col("_ok"))
        .groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(int(top_n))
    )


def markov_stationary(
    events: DataFrame,
    iterations: int = 20,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Stationary distribution and per-state entropy of the event-type
    Markov chain: where does user behavior SETTLE, and how predictable
    is each state's next step. Returns one row per state with outgoing
    transitions: (state, stationary_p, row_entropy_nats), both 6 dp.

    The chain is the per-user consecutive-transition count matrix (the
    event_transitions projection); rows normalize to P, and π is the
    FIXED-ITERATION power method from uniform — π ← normalize(πP),
    ``iterations`` times — a deterministic function of (counts, iters)
    that a SQL oracle replays by unrolling the same iterations (the
    LPA/k-core stamping idiom; renormalization each step keeps mass 1
    even if some target state has no outgoing row). Row entropy is
    −Σⱼ pᵢⱼ ln pᵢⱼ.

    Scale split: the transition counts are the distributed work (one
    user-keyed window lag + partial-agg count over the full log); the
    matrix itself is |states|² — event-TYPE vocabulary, not data — so
    the iteration is centroid-class driver state (km_survival
    pattern). Cross-engine floats: pᵢⱼ are identical count divisions;
    iteration sums run over ≤|states| terms, 1-ulp-class jitter under
    the 6 dp round."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    t = events.select(
        F.lag(type_col).over(w).alias("_prev"),
        F.col(type_col).alias("_next"),
    )
    counts = (
        t.where(F.col("_prev").isNotNull())
        .groupBy("_prev", "_next")
        .agg(F.count("*").cast("bigint").alias("_n"))
        .collect()
    )
    from collections import defaultdict

    row_tot: dict = defaultdict(int)
    for r in counts:
        row_tot[r["_prev"]] += int(r["_n"])
    states = sorted(row_tot)
    P = {
        (r["_prev"], r["_next"]): int(r["_n"]) / row_tot[r["_prev"]]
        for r in counts
    }
    pi = {s: 1.0 / len(states) for s in states} if states else {}
    for _ in range(int(iterations)):
        nxt = {s: 0.0 for s in states}
        for (a, b), p in sorted(P.items()):
            if b in nxt:
                nxt[b] += pi[a] * p
        z = sum(nxt[s] for s in states)
        pi = {s: nxt[s] / z for s in states}
    import math

    out = []
    for s in states:
        h = -sum(
            p * math.log(p)
            for (a, _b), p in sorted(P.items())
            if a == s and p > 0
        )
        out.append((s, round(pi[s], 6), round(h, 6)))

    return local_df(
        events.sparkSession,
        out,
        "state string, stationary_p double, row_entropy_nats double",
    )


def logrank_test(
    events: DataFrame,
    start_type: str,
    event_type: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Log-rank (Mantel-Cox 1966/1972) two-arm survival comparison
    over the SAME time-to-event construction as ``km_survival`` (first
    ``start_type`` → first subsequent ``event_type``, right-censored
    at the last event; censors at t still at risk AT t): arm = user_id
    parity, O₁ = observed arm-1 events, E₁ = Σ_j d_j·n₁ⱼ/n_j, V =
    Σ_j d_j·(n₁ⱼ/n_j)(n₀ⱼ/n_j)(n_j−d_j)/(n_j−1) over event days, z =
    (O₁ − E₁)/√V — the hypothesis test km_survival's curves beg for.

    Exactness: O₁ is an exact integer; E₁ and V accumulate in integer
    micro-units with one truncating division per day (python ints on
    the driver are unbounded; the oracle's HUGEINT products + ``//``
    replay the identical arithmetic), so both engines hold the same
    three integers before the one fixed-order double z.

    Scale: km_survival's shape — two partial-aggregated per-user
    passes, a per-(day, arm) rollup bounded by the observation span,
    and the prefix recurrence on the driver (the km bounded-axis
    pattern); result returns via a local one-row DataFrame.
    """
    q = 1 << 20
    starts = (
        events.where(F.col(type_col) == start_type)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t0"))
    )
    lasts = events.groupBy(user_col).agg(F.max(ts_col).alias("_tmax"))
    evs = events.where(F.col(type_col) == event_type).select(
        F.col(user_col).alias("_eu"), F.col(ts_col).alias("_ets")
    )
    first_event = (
        starts.join(evs, starts[user_col] == F.col("_eu"))
        .where(F.col("_ets") >= F.col("_t0"))
        .groupBy(user_col)
        .agg(F.min("_ets").alias("_te"))
    )
    per_user = (
        starts.join(lasts, user_col)
        .join(first_event, user_col, "left")
        .select(
            (F.col(user_col) % 2).cast("int").alias("_arm"),
            F.when(
                F.col("_te").isNotNull(),
                F.datediff(F.to_date("_te"), F.to_date("_t0")),
            )
            .otherwise(
                F.datediff(F.to_date("_tmax"), F.to_date("_t0"))
            )
            .cast("bigint")
            .alias("_d"),
            F.col("_te").isNotNull().cast("int").alias("_obs"),
        )
    )
    per_day = (
        per_user.groupBy("_d")
        .agg(
            F.sum(F.when(F.col("_arm") == 1, F.col("_obs")).otherwise(0))
            .cast("bigint").alias("_d1"),
            F.sum(
                F.when(F.col("_arm") == 1, 1 - F.col("_obs")).otherwise(0)
            ).cast("bigint").alias("_c1"),
            F.sum(F.when(F.col("_arm") == 0, F.col("_obs")).otherwise(0))
            .cast("bigint").alias("_d0"),
            F.sum(
                F.when(F.col("_arm") == 0, 1 - F.col("_obs")).otherwise(0)
            ).cast("bigint").alias("_c0"),
        )
        .collect()
    )
    rows = sorted(per_day, key=lambda r: r["_d"])
    n1 = sum(int(r["_d1"]) + int(r["_c1"]) for r in rows)
    n0 = sum(int(r["_d0"]) + int(r["_c0"]) for r in rows)
    n1_total, n0_total = n1, n0
    o1 = 0
    e1_q = 0
    v_q = 0
    for r in rows:
        d1, c1 = int(r["_d1"]), int(r["_c1"])
        d0, c0 = int(r["_d0"]), int(r["_c0"])
        nj, dj = n1 + n0, d1 + d0
        if dj > 0 and nj >= 2:
            o1 += d1
            e1_q += (dj * n1 * q) // nj
            v_q += (dj * n1 * n0 * (nj - dj) * q) // (
                nj * nj * (nj - 1)
            )
        n1 -= d1 + c1
        n0 -= d0 + c0
    spark = events.sparkSession

    out = local_df(
        spark,
        [(n1_total, n0_total, o1, e1_q, v_q)],
        "n_arm1 bigint, n_arm0 bigint, o1 bigint, e1_micro bigint, "
        "v_micro bigint",
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    z = (d("o1") - d("e1_micro") / F.lit(float(q))) / F.sqrt(
        d("v_micro") / F.lit(float(q))
    )
    return out.select(
        "n_arm1", "n_arm0", "o1", "e1_micro", "v_micro",
        (F.round(z, 6) + F.lit(0.0)).alias("z_logrank"),
    )


def nelson_aalen_hazard(
    events: DataFrame,
    start_type: str,
    event_type: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimate over the event log —
    the additive sibling of :func:`km_survival` (Nelson 1972; Aalen
    1978): H(t) = Σ_{t_i ≤ t} d_i / n_i over distinct event days, on
    the same time-to-event / right-censoring definitions as the KM
    operator (first ``start_type`` to first subsequent ``event_type``,
    censored at the user's last event; censorings at t stay at risk
    AT t). H is what hazard-ratio eyeballing and log-log plots want:
    piecewise-linear, directly comparable across cohorts, and its
    increments are the raw per-day hazards.

    Exactness: d_i/n_i sums of rationals can terminate on decimal
    rounding half-boundaries, so — exactly like the KM product-limit
    recurrence — the estimate is the INTEGER recurrence
    ``H_i = H_{i-1} + div(d_i · 10^9, n_i)`` in parts-per-billion:
    exact, engine-independent, error ≤ one ppb per step. d_i·10^9
    fits BIGINT to ~9·10^9 events per day.

    Scale (the km_survival driver pattern): the full-log work is two
    partial-aggregated per-user groupBys; only the bounded per-day
    table crosses to the driver for the sequential fold, returning via
    a local DataFrame.

    Output: one row per distinct event day — t_days, n_risk,
    n_events, hazard_ppb (cumulative).
    """
    starts = (
        events.where(F.col(type_col) == start_type)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t0"))
    )
    lasts = events.groupBy(user_col).agg(F.max(ts_col).alias("_tmax"))
    evs = events.where(F.col(type_col) == event_type).select(
        F.col(user_col).alias("_eu"), F.col(ts_col).alias("_ets")
    )
    first_event = (
        starts.join(evs, starts[user_col] == F.col("_eu"))
        .where(F.col("_ets") >= F.col("_t0"))
        .groupBy(user_col)
        .agg(F.min("_ets").alias("_te"))
    )
    per_user = (
        starts.join(lasts, user_col)
        .join(first_event, user_col, "left")
        .select(
            F.when(
                F.col("_te").isNotNull(),
                F.datediff(F.to_date("_te"), F.to_date("_t0")),
            )
            .otherwise(
                F.datediff(F.to_date("_tmax"), F.to_date("_t0"))
            )
            .cast("bigint")
            .alias("_d"),
            F.col("_te").isNotNull().cast("int").alias("_obs"),
        )
    )
    per_day = (
        per_user.groupBy("_d")
        .agg(
            F.sum("_obs").cast("bigint").alias("_de"),
            F.sum(1 - F.col("_obs")).cast("bigint").alias("_ce"),
        )
        .collect()
    )
    rows = sorted(per_day, key=lambda r: r["_d"])
    n_risk = sum(int(r["_de"]) + int(r["_ce"]) for r in rows)
    h = 0
    out = []
    for r in rows:
        de = int(r["_de"])
        if de > 0:
            h += (de * 10**9) // n_risk
            out.append((int(r["_d"]), n_risk, de, h))
        n_risk -= de + int(r["_ce"])

    return local_df(
        events.sparkSession,
        out,
        "t_days bigint, n_risk bigint, n_events bigint, "
        "hazard_ppb bigint",
    )


def aalen_johansen_cif(
    events: DataFrame,
    start_type: str,
    cause_a: str,
    cause_b: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Aalen–Johansen cumulative incidence under COMPETING risks
    (Aalen & Johansen 1978): from each user's first ``start_type``,
    the first subsequent event among {cause_a, cause_b} decides which
    risk claimed the user and when; users reaching neither are
    censored at their last event. Unlike running two KM curves
    (which over-count because each treats the other cause as
    censoring), the CIF splits ONE all-cause survival:

        CIF_k(t) = Σ_{t_i ≤ t} S(t_i⁻) · d_{k,i} / n_i

    Exactness: the all-cause product-limit S and both incidence sums
    run as the km_survival integer recurrence in ppb —
    ``inc_k = div(S_prev · d_k, n_i)``,
    ``S = div(S_prev · (n_i − d_a − d_b), n_i)`` —
    exact BIGINT at every step (guard: d·10⁹ must fit, same ~9·10⁹
    events/day bound as nelson_aalen), replayed by the oracle's
    recursive CTE. Scale: two partial-aggregated per-user groupBys;
    only the calendar-bounded per-day table crosses to the driver.

    Output per event day: (t_days, n_risk, d_cause_a, d_cause_b,
    cif_a_ppb, cif_b_ppb)."""
    starts = (
        events.where(F.col(type_col) == start_type)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t0"))
    )
    lasts = events.groupBy(user_col).agg(F.max(ts_col).alias("_tmax"))
    evs = events.where(
        F.col(type_col).isin(cause_a, cause_b)
    ).select(
        F.col(user_col).alias("_eu"),
        F.col(ts_col).alias("_ets"),
        F.col(type_col).alias("_ety"),
    )
    # first competing event at-or-after t0: min (ts, type) struct —
    # the type tiebreak at an exact timestamp tie is the struct's
    # lexicographic second field, identical in the oracle
    first_event = (
        starts.join(evs, starts[user_col] == F.col("_eu"))
        .where(F.col("_ets") >= F.col("_t0"))
        .groupBy(user_col)
        .agg(F.min(F.struct("_ets", "_ety")).alias("_fe"))
        .select(
            user_col,
            F.col("_fe._ets").alias("_te"),
            F.col("_fe._ety").alias("_ty"),
        )
    )
    per_user = (
        starts.join(lasts, user_col)
        .join(first_event, user_col, "left")
        .select(
            F.when(
                F.col("_te").isNotNull(),
                F.datediff(F.to_date("_te"), F.to_date("_t0")),
            )
            .otherwise(F.datediff(F.to_date("_tmax"), F.to_date("_t0")))
            .cast("bigint")
            .alias("_d"),
            (F.col("_ty") == cause_a).cast("int").alias("_a"),
            (F.col("_ty") == cause_b).cast("int").alias("_b"),
        )
    )
    per_day = (
        per_user.groupBy("_d")
        .agg(
            F.sum(F.coalesce(F.col("_a"), F.lit(0)))
            .cast("bigint").alias("_da"),
            F.sum(F.coalesce(F.col("_b"), F.lit(0)))
            .cast("bigint").alias("_db"),
            F.count("*").cast("bigint").alias("_n"),
        )
        .collect()
    )
    rows = sorted(per_day, key=lambda r: r["_d"])
    n_risk = sum(int(r["_n"]) for r in rows)
    s = 10**9
    cif_a = cif_b = 0
    out = []
    for r in rows:
        da, db = int(r["_da"]), int(r["_db"])
        if da + db > 0:
            if (da + db) >= 9_000_000_000:
                raise ValueError(
                    "aalen_johansen_cif: more than 9e9 events on one "
                    "day — S·d would overflow BIGINT in the oracle"
                )
            cif_a += (s * da) // n_risk
            cif_b += (s * db) // n_risk
            s = (s * (n_risk - da - db)) // n_risk
            out.append(
                (int(r["_d"]), n_risk, da, db, cif_a, cif_b)
            )
        n_risk -= int(r["_n"])

    return local_df(
        events.sparkSession,
        out,
        "t_days bigint, n_risk bigint, d_cause_a bigint, "
        "d_cause_b bigint, cif_a_ppb bigint, cif_b_ppb bigint",
    )
