"""Per-key time-series features over the event log.

Rolling trailing-window statistics and z-score anomaly flags — the
standard feature-engineering pass over an event stream (and the batch
twin of a streaming monitor). Everything is ONE window shuffle on the
key: Spark evaluates all frame aggregates of the same (partition,
order, frame) spec in a single pass, so avg/std/count share one sort.

Reference analog: replay-per-aggregate ordering (R10,
`CassandraEventStore.cs:336-391`) — the window partition/order below is
the same per-aggregate (rev, pos)-style contiguity, put to analytical
use.

Scale: the only shuffle is the window's hash partition on ``key_col``;
frames are ROWS-bounded (no unbounded-preceding running state except
``seq``), so executor memory is O(window size). Skewed keys (one user
with millions of events) are the one hazard — cap with AQE skew
handling or pre-bucket hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.local_df import local_df

__all__ = [
    "rolling_stats",
    "zscore_anomalies",
    "ewma_smooth",
    "sliding_distinct_users",
    "resample_ffill",
    "interval_concurrency",
    "seasonal_naive_eval",
    "interarrival_burstiness",
    "out_of_order_report",
    "decayed_counts",
]


def rolling_stats(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
    window: int = 20,
) -> DataFrame:
    """Trailing-window statistics per key, excluding the current row.

    Adds ``seq`` (1-based event index per key), ``roll_n``/``roll_avg``/
    ``roll_std`` over the ``window`` rows strictly before the current
    one. The first event of each key has an empty frame (roll_n = 0,
    avg/std NULL).
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(-int(window), -1)
    )
    seq = Window.partitionBy(key_col).orderBy(*order_cols)
    return (
        events.withColumn("seq", F.row_number().over(seq))
        .withColumn("roll_n", F.count(value_col).over(w))
        .withColumn("roll_avg", F.avg(value_col).over(w))
        .withColumn("roll_std", F.stddev_samp(value_col).over(w))
    )


def zscore_anomalies(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
    window: int = 20,
    min_history: int = 5,
    threshold: float = 2.0,
) -> DataFrame:
    """Events whose value deviates ≥ ``threshold`` trailing standard
    deviations from the key's rolling mean.

    Returns the input rows (plus ``zscore``) where at least
    ``min_history`` prior events exist, the trailing std is positive,
    and |z| ≥ threshold — the degenerate-frame rows (no history /
    constant history) are excluded rather than flagged, so a cold key
    never alarms.
    """
    r = rolling_stats(events, key_col, order_cols, value_col, window)
    z = (F.col(value_col) - F.col("roll_avg")) / F.col("roll_std")
    return (
        r.where(
            (F.col("roll_n") >= int(min_history)) & (F.col("roll_std") > 0)
        )
        .withColumn("zscore", z)
        .where(F.abs(F.col("zscore")) >= float(threshold))
        .drop("roll_n", "roll_avg", "roll_std")
    )


def ewma_smooth(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
    alpha: float = 0.3,
    depth: int = 8,
) -> DataFrame:
    """Adds ``ewma`` — a ``depth``-term truncated exponentially-weighted
    moving average of ``value_col`` per key, including the current row:

        ewma_t = Σ_{j=0..depth-1} (1−α)^j · x_{t−j}  /  Σ_j (1−α)^j

    with the sums taken over the terms that EXIST (early rows normalize
    over their shorter history; NULL values drop both their weight and
    their term, so a null never poisons the average). Truncation at
    ``depth`` makes the recurrence a fixed lag chain instead of a
    sequential scan: all ``depth`` lags share ONE window spec, so Spark
    computes them in a single sort/shuffle on the key and the whole
    expression stays in codegen — no UDF, no per-key iteration, and the
    exact same chain is expressible in any SQL engine (the oracle). The
    dropped tail carries weight (1−α)^depth (< 6 % of the mass at the
    defaults), the standard windowed-EWMA tradeoff at scale.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if depth < 1:
        raise ValueError("depth must be >= 1")
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(int(depth)):
        coef = float((1.0 - alpha) ** j)
        xj = F.lag(F.col(value_col), j).over(w) if j else F.col(value_col)
        num = num + F.coalesce(xj * F.lit(coef), F.lit(0.0))
        den = den + F.when(xj.isNotNull(), F.lit(coef)).otherwise(F.lit(0.0))
    return events.withColumn(
        "ewma",
        F.when(den > 0, F.round(num / den, 6)),
    )


def sliding_distinct_users(
    events: DataFrame,
    window_days: int = 7,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """(day, active_users) — EXACT trailing-N-day distinct-user counts
    per day (the DAU/WAU/MAU family). SQL window frames cannot express
    COUNT(DISTINCT) over a RANGE frame, so the classic contribution
    explode is used instead: each (user, day) first collapses to one
    row (dropDuplicates on 8-byte keys — map-side combined), then
    contributes to the ``window_days`` days it keeps the user active
    in, and one partial-aggregated count-distinct per day finishes. The
    shuffle volume is window_days × |distinct user-days| — independent
    of raw event multiplicity, the property that matters at 100 TB.
    Days with no active users in range are absent (join a calendar for
    gap fill). Reported days are those with ≥1 event (trailing windows
    of pure silence don't appear)."""
    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    user_days = events.select(
        F.to_date(ts_col).alias("_d"), F.col(user_col).alias("_u")
    ).dropDuplicates(["_d", "_u"])
    contrib = user_days.select(
        F.explode(
            F.sequence(
                F.col("_d"),
                F.date_add(F.col("_d"), int(window_days) - 1),
            )
        ).alias("day"),
        "_u",
    )
    out = contrib.groupBy("day").agg(
        F.countDistinct("_u").alias("active_users")
    )
    # trailing windows extend past the last observed day — keep only
    # days that themselves saw at least one event, the usual convention
    observed = user_days.select(F.col("_d").alias("day")).distinct()
    return out.join(observed, "day").select(
        "day", F.col("active_users").cast("bigint").alias("active_users")
    )


def resample_ffill(
    events: DataFrame,
    every_seconds: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """(key, grid_ts, value) — per-key regular time grid at
    ``every_seconds`` with FORWARD-FILLED values (each grid point
    carries the last observation at-or-before it; grid points before
    the first observation are NULL). The asfreq/ffill resample every
    feature pipeline needs before joining series of different
    cadences.

    Shape: per-key (min, max) bounds → one Generate explode of
    epoch-aligned grid points → union with the observations → ONE
    window pass with ``last(value, ignorenulls=True)`` ordered by
    (epoch, is_grid) — a same-instant observation sorts BEFORE its
    grid point and is therefore included. One shuffle on the key; no
    UDF; the grid arithmetic is exact integer µs so any engine builds
    the identical grid."""
    if every_seconds < 1:
        raise ValueError("every_seconds must be >= 1")
    step = int(every_seconds) * 1_000_000
    ep = F.unix_micros(F.col(ts_col))
    obs = events.select(
        F.col(key_col).alias("_k"),
        ep.alias("_ep"),
        F.col(value_col).cast("double").alias("_v"),
        F.lit(0).alias("_g"),
    )
    bounds = obs.groupBy("_k").agg(
        F.min("_ep").alias("_lo"), F.max("_ep").alias("_hi")
    )
    grid = bounds.select(
        "_k",
        F.explode(
            F.sequence(
                (F.col("_lo") - F.pmod(F.col("_lo"), F.lit(step))),
                (F.col("_hi") - F.pmod(F.col("_hi"), F.lit(step))),
                F.lit(step),
            )
        ).alias("_ep"),
        F.lit(None).cast("double").alias("_v"),
        F.lit(1).alias("_g"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ep", "_g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = obs.unionAll(grid).withColumn(
        "_ff", F.last("_v", ignorenulls=True).over(w)
    )
    return filled.where(F.col("_g") == 1).select(
        F.col("_k").alias(key_col),
        F.timestamp_micros(F.col("_ep")).alias("grid_ts"),
        F.round("_ff", 6).alias(value_col),
    )


def interval_concurrency(
    intervals: DataFrame,
    start_col: str = "session_start",
    end_col: str = "session_end",
    partition_col: str | None = None,
) -> DataFrame:
    """Sweep-line concurrency over an interval table: at every
    boundary instant, how many intervals are open (half-open [s, e) —
    an interval ending exactly when another starts does not overlap
    it). Returns one row per boundary (partition?, ts, concurrent) —
    aggregate for peaks (max concurrent sessions = capacity planning
    on the sessionized log).

    Each interval explodes to (+1 at start, −1 at end); ONE running
    sum ordered by (ts, delta) — ends sort before starts at the same
    instant, enforcing half-open semantics — gives the open count.
    With ``partition_col`` (e.g. the interval's date) the prefix scan
    is an ordinary partitioned window. WITHOUT it the sweep routes
    through the two-phase `sharded_running_sums` (range-shuffle +
    #shards-row offset collect) instead of a single-partition window:
    ties on (ts, delta) are pre-aggregated to make the shard order
    total, then each tie group re-expands to its per-event prefix
    values — delta is constant within a group, so the expanded
    multiset {base + i·delta} is bit-identical to the sequential
    window's output for ANY within-tie order. Scale-safe by default;
    no `partitionBy(lit(1))` path remains."""
    parts = [partition_col] if partition_col else []
    ev = intervals.select(
        *parts,
        F.explode(
            F.array(
                F.struct(
                    F.col(start_col).alias("ts"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col(end_col).alias("ts"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("_e"),
    ).select(*parts, "_e.ts", "_e.delta")
    if parts:
        w = (
            Window.partitionBy(*parts)
            .orderBy("ts", "delta")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return ev.withColumn(
            "concurrent", F.sum("delta").over(w).cast("bigint")
        )
    from inception_eventstore_spark.functions.ranking import (
        sharded_running_sums,
    )

    grp = ev.groupBy("ts", "delta").agg(
        F.count("*").cast("bigint").alias("_n")
    ).withColumn(
        "_net", (F.col("delta") * F.col("_n")).cast("bigint")
    )
    cum = sharded_running_sums(grp, [F.col("ts"), F.col("delta")], ["_net"])
    return (
        cum.withColumn(
            "_i", F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("_n")))
        )
        .select(
            "ts",
            "delta",
            (
                F.col("_net_cum")
                - F.col("_net")
                + F.col("delta") * F.col("_i")
            ).cast("bigint").alias("concurrent"),
        )
    )


def seasonal_naive_eval(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    season_days: int = 7,
) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's total with
    the total from ``season_days`` earlier, and report per-key error
    metrics — the baseline every real forecaster must beat (and the
    sanity monitor for pipeline volume drift).

    Two-step shape that stays skew-free at any scale: the raw stream
    collapses FIRST into a (key, day) rollup (one partial-aggregated
    shuffle; the rollup is |keys|·|days| rows no matter the input), and
    the season lag is a self-equi-join of that tiny rollup on (key,
    day − season_days) — no per-key ordered window, so a key holding
    half the corpus never funnels through one task. Output per key:
    n_days evaluated, mae_u / total_abs_err_u in integer micro-units
    (floor(|err|·2^20) summed as BIGINT — associative, engine-exact).
    """
    if season_days < 1:
        raise ValueError("season_days must be >= 1")
    daily = (
        events.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("key"),
            F.date_trunc("day", F.col(ts_col)).alias("day"),
        )
        .agg(F.sum(value_col).alias("total"))
    )
    lagged = daily.select(
        "key",
        (F.col("day") + F.expr(f"INTERVAL {int(season_days)} DAYS")).alias(
            "day"
        ),
        F.col("total").alias("forecast"),
    )
    joined = daily.join(lagged, ["key", "day"])
    # |err| in integer micro-units; totals are sums of raw values whose
    # partial-sum order differs across engines by ulps — round the
    # DIFFERENCE at 6 dp first (the cross-engine contract used by every
    # money aggregate), then quantize.
    err_u = F.floor(
        F.abs(F.round(F.col("total") - F.col("forecast"), 6))
        * F.lit(float(1 << 20))
    ).cast("bigint")
    per = joined.select("key", err_u.alias("_eu"))
    return per.groupBy("key").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("_eu").cast("bigint").alias("total_abs_err_u"),
        # integer floor division (div), NOT a double divide + cast:
        # Spark's cast truncates but DuckDB's CAST rounds
        F.expr("sum(_eu) div count(*)").cast("bigint").alias("mae_u"),
    )


def interarrival_burstiness(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    min_gaps: int = 2,
) -> DataFrame:
    """(key, n_gaps, mean_gap_s, cv, burstiness) — the Goh–Barabási
    burstiness index B = (σ−µ)/(σ+µ) of each key's inter-event gaps:
    B → −1 for a metronome (σ≈0), ≈ 0 for a Poisson process (σ≈µ),
    → +1 for extreme burst-and-silence behaviour. The one-number
    activity-shape signal bot/anomaly triage uses before reading raw
    sessions (schedulers and scrapers are near-periodic, humans are
    bursty).

    One lag window per key (high-cardinality partitioning, bounded by
    each key's own history) then a partial-aggregated 3-sum moment
    fold; σ uses the population form √(Σd²/n − µ²). Gap moments are
    DOUBLE sums of integer microsecond deltas — cross-engine
    accumulation-order jitter is ~1 ulp, ~10⁹ below the 6-dp round.
    Keys with fewer than ``min_gaps`` gaps are excluded (B is
    undefined on a single gap: σ=0 degenerates to −1 regardless of
    behaviour)."""
    w = Window.partitionBy(key_col).orderBy(F.col("_us"))
    gaps = (
        events.select(
            F.col(key_col), F.unix_micros(F.col(ts_col)).alias("_us")
        )
        .withColumn("_gap", F.col("_us") - F.lag("_us").over(w))
        .where(F.col("_gap").isNotNull())
        .select(key_col, F.col("_gap").cast("double").alias("d"))
    )
    agg = gaps.groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.sum("d").alias("_s1"),
        F.sum(F.col("d") * F.col("d")).alias("_s2"),
    )
    n = F.col("n_gaps").cast("double")
    mu = F.col("_s1") / n
    var = F.col("_s2") / n - mu * mu
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        agg.where(F.col("n_gaps") >= int(min_gaps))
        .select(
            F.col(key_col),
            "n_gaps",
            F.round(mu / 1e6, 6).alias("mean_gap_s"),
            F.round(
                F.when(mu > 0, sigma / mu), 6
            ).alias("cv"),
            F.round(
                F.when(sigma + mu > 0, (sigma - mu) / (sigma + mu)), 6
            ).alias("burstiness"),
        )
    )


def out_of_order_report(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    arrival_col: str = "event_id",
) -> DataFrame:
    """(key, n_events, n_late, late_ppm, max_lateness_s) — per-key
    out-of-order arrival accounting: an event is LATE when its event
    time precedes the running maximum event time among its key's
    earlier arrivals (``arrival_col`` = the append/ingest order). This
    is the measurement that sizes a Structured-Streaming WATERMARK:
    max_lateness bounds the delay a correct window must tolerate, and
    late_ppm says what fraction of data a tighter watermark would
    silently drop.

    One lag-free pass per key: a running-max window over the arrival
    order (high-cardinality key partitioning), then a partial-
    aggregated rollup on the same partitioning. late_ppm is exact
    BIGINT arithmetic; lateness rounds at 6 dp of seconds."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col("_arr"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rows = events.select(
        F.col(key_col),
        F.col(arrival_col).alias("_arr"),
        F.unix_micros(F.col(ts_col)).alias("_us"),
    ).withColumn("_hwm", F.max("_us").over(w))
    return (
        rows.groupBy(key_col)
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("_us") < F.col("_hwm"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_late"),
            F.max(
                F.when(
                    F.col("_us") < F.col("_hwm"),
                    F.col("_hwm") - F.col("_us"),
                ).otherwise(F.lit(0))
            ).alias("_maxlate_us"),
        )
        .select(
            F.col(key_col),
            "n_events",
            "n_late",
            F.expr(
                "CAST((n_late * 1000000) div n_events AS BIGINT)"
            ).alias("late_ppm"),
            F.round(F.col("_maxlate_us") / 1e6, 6).alias(
                "max_lateness_s"
            ),
        )
    )


def decayed_counts(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    halflife_days: int = 7,
    bits: int = 30,
) -> DataFrame:
    """Exponentially-decayed event counts per key — the "what is hot
    NOW" ranking, where an event h half-lives old counts half as much
    as one from today. Returns one row per key: ``decayed_units`` (the
    decayed count in units of 2^-bits), ``n_total``, ``newest_age_d``.

    Exactness trick: the half-life weight 2^(-age/halflife) is
    quantized to the integer ``1 << (bits - min(age_units, bits))``
    with ``age_units = floor(age_days / halflife_days)`` — every
    per-event weight is a power of two, the sum is BIGINT integer
    arithmetic (associative → partial aggregation order can't leak
    into the result, and a sequential SQL oracle is bit-identical).
    Events older than ``bits`` half-lives contribute one unit
    (≈ 2^-bits of a fresh event — the quantization floor). The
    decayed count itself is ``decayed_units / 2^bits``; it is
    returned as the exact integer numerator because that ratio is a
    binary rational that CAN terminate on decimal rounding
    half-boundaries (e.g. 2^-7 = 0.0078125) where engine rounding
    modes diverge — CLAUDE.md's half-boundary rule.

    Overflow headroom under ANSI mode: sum ≤ n_events(key) · 2^bits;
    bits=30 leaves room for 8 billion events per key in a BIGINT.

    Scale: one scalar max (broadcast back — no driver collect), one
    partial-aggregated groupBy on the key. The reference time is the
    corpus max event date, so the report is reproducible for a fixed
    snapshot (no wall-clock dependence).

    Reference analog: counter reads (C3, `CassandraCounters.cs`) with
    a recency weighting the native engine cannot express server-side.
    """
    if not (1 <= bits <= 62):
        raise ValueError("bits must be in [1, 62]")
    if halflife_days < 1:
        raise ValueError("halflife_days must be >= 1")
    ref = events.agg(
        F.max(F.to_date(F.col(ts_col))).alias("_ref_day")
    )
    j = events.crossJoin(F.broadcast(ref)).withColumn(
        "_age_u",
        F.floor(
            F.datediff(F.col("_ref_day"), F.to_date(F.col(ts_col)))
            / F.lit(float(halflife_days))
        ).cast("int"),
    )
    # the python F.shiftleft only takes a literal bit count — the SQL
    # form shifts by a column
    weight = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {bits} - least(_age_u, {bits}))"
    )
    return j.groupBy(key_col).agg(
        F.sum(weight).cast("bigint").alias("decayed_units"),
        F.count("*").cast("bigint").alias("n_total"),
        F.min(
            F.datediff(F.col("_ref_day"), F.to_date(F.col(ts_col)))
        )
        .cast("bigint")
        .alias("newest_age_d"),
    )


def cusum_changepoints(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    h_mult: int = 5,
    slack_mult: int = 1,
) -> DataFrame:
    """Two-sided CUSUM level-shift detection over each key's daily
    event counts (Page 1954, public literature): per day,
    ``cusum_pos = max(0, prev + (x − m − s))`` and
    ``cusum_neg = max(0, prev + (m − x − s))``, flagged when either
    exceeds ``h`` — the monitoring primitive that catches a sustained
    rate shift a z-score-per-day test misses.

    Everything is INTEGER arithmetic: the target m is the exact lower
    median of the key's daily counts (order statistic at (n+1) div 2),
    the slack s = slack_mult·MAD and threshold h = h_mult·MAD with MAD
    the exact lower median of |x − m| — no floating mean/stddev, so
    the sequential recurrence replays bit-for-bit in a recursive-CTE
    oracle. Days with no events count 0 (the whole point of a
    level-shift monitor); the grid spans the GLOBAL min..max event
    day, so every key walks the same axis.

    Scale: the distributed work is the per-(key, day) count — one
    partial-aggregated groupBy over the full log. The recurrence is
    inherently sequential but runs over the bounded key×day table
    (centroid-class driver state, the km_survival pattern); results
    return as a local DataFrame with one row per (key, day):
    (key, day, x, cusum_pos, cusum_neg, flag)."""
    if h_mult < 1 or slack_mult < 0:
        raise ValueError("need h_mult >= 1 and slack_mult >= 0")
    per_day = (
        events.groupBy(
            F.col(key_col).alias("_k"),
            F.to_date(F.col(ts_col)).alias("_day"),
        )
        .agg(F.count("*").cast("bigint").alias("_x"))
        .collect()
    )
    import datetime as _dt

    by_k: dict = {}
    days_all = [r["_day"] for r in per_day]
    if not days_all:
        return local_df(
            events.sparkSession,
            [],
            f"{key_col} string, day date, x bigint, cusum_pos bigint,"
            " cusum_neg bigint, flag bigint",
        )
    d0, d1 = min(days_all), max(days_all)
    for r in per_day:
        by_k.setdefault(r["_k"], {})[r["_day"]] = int(r["_x"])
    grid = [
        d0 + _dt.timedelta(days=i) for i in range((d1 - d0).days + 1)
    ]

    def lower_median(vals: list[int]) -> int:
        s = sorted(vals)
        return s[(len(s) + 1) // 2 - 1]

    out = []
    for k in sorted(by_k):
        xs = [by_k[k].get(d, 0) for d in grid]
        m = lower_median(xs)
        mad = lower_median([abs(x - m) for x in xs])
        s_, h = slack_mult * mad, h_mult * mad
        sp = sn = 0
        for d, x in zip(grid, xs):
            sp = max(0, sp + (x - m - s_))
            sn = max(0, sn + (m - x - s_))
            out.append(
                (k, d, x, sp, sn, 1 if (sp > h or sn > h) else 0)
            )

    return local_df(
        events.sparkSession,
        out,
        f"{key_col} string, day date, x bigint, cusum_pos bigint,"
        " cusum_neg bigint, flag bigint",
        slices=4,
    )


def acf_daily(
    events: DataFrame,
    max_lag: int = 14,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Autocorrelation function of each key's daily event counts at
    lags 1..``max_lag`` — the seasonality detector (a weekly cycle
    shows as a spike at lag 7). Returns (key, lag, acf) with the
    standard biased estimator r_l = Σ(x_t−x̄)(x_{t+l}−x̄) / Σ(x_t−x̄)²
    over the zero-filled GLOBAL day grid (silent days are real zeros —
    exactly what seasonality math needs), rounded to 6 dp.

    Determinism: daily counts and the grid are exact integers; x̄ is
    the one division S/n both engines compute identically, so per-row
    deviations are identical doubles; the remaining cross-engine
    surface is summation order in the final Σ — 1-ulp-class jitter
    under a 6 dp round (the adamic_adar/ewma acceptance).

    Scale: the heavy pass is the per-(key, day) count (partial-agg
    over the full log). Everything after runs on the key×day grid:
    all ``max_lag`` leads share ONE window sort per key (groups
    bounded by the day span — cardinality-bounded by construction,
    not a skew hazard), then one (key, lag) aggregation."""
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    spark = events.sparkSession
    cnts = events.groupBy(
        F.col(key_col).alias("_k"), F.to_date(F.col(ts_col)).alias("_d")
    ).agg(F.count("*").cast("bigint").alias("_x"))
    bounds = events.agg(
        F.min(F.to_date(F.col(ts_col))).alias("_d0"),
        F.max(F.to_date(F.col(ts_col))).alias("_d1"),
    )
    days = bounds.select(
        F.explode(F.sequence("_d0", "_d1")).alias("_d")
    )
    keys = events.select(
        F.col(key_col).alias("_k")
    ).distinct()
    grid = keys.crossJoin(F.broadcast(days)).join(
        cnts, ["_k", "_d"], "left"
    ).select(
        "_k", "_d", F.coalesce("_x", F.lit(0)).alias("_x")
    )
    stats = grid.groupBy("_k").agg(
        (F.sum("_x").cast("double") / F.count("*")).alias("_mean"),
    )
    dev = grid.join(F.broadcast(stats), "_k").select(
        "_k", "_d", (F.col("_x").cast("double") - F.col("_mean")).alias("_dev")
    )
    w = Window.partitionBy("_k").orderBy("_d")
    led = dev.select(
        "_k",
        "_dev",
        *[
            F.lead("_dev", l).over(w).alias(f"_dl{l}")
            for l in range(1, int(max_lag) + 1)
        ],
    )
    den = led.groupBy("_k").agg(
        F.sum(F.col("_dev") * F.col("_dev")).alias("_den")
    )
    nums = led.groupBy("_k").agg(
        *[
            F.sum(F.col("_dev") * F.col(f"_dl{l}")).alias(f"_num{l}")
            for l in range(1, int(max_lag) + 1)
        ]
    )
    stacked = ", ".join(
        f"{l}L, _num{l}" for l in range(1, int(max_lag) + 1)
    )
    unpivoted = nums.select(
        "_k",
        F.expr(f"stack({max_lag}, {stacked}) AS (lag, _num)"),
    ).select("_k", "lag", "_num")
    return (
        unpivoted.join(den, "_k")
        .where(F.col("_den") > 0)
        .select(
            F.col("_k").alias(key_col),
            F.col("lag").cast("bigint").alias("lag"),
            F.round(F.col("_num") / F.col("_den"), 6).alias("acf"),
        )
    )


def cross_correlation_daily(
    events: DataFrame,
    type_a: str,
    type_b: str,
    max_lag: int = 7,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Lead-lag cross-correlation of two event types' daily counts at
    lags −``max_lag``..+``max_lag`` — the "do errors lead churn by two
    days?" diagnostic (the cross-series sibling of acf_daily). For lag
    l, r(l) = corr(a_t, b_{t+l}) over the zero-filled global day grid,
    so a peak at positive l means A LEADS B by l days.

    Determinism: unlike acf_daily (which centers first and accepts
    1-ulp summation jitter), every per-lag moment here — n, Σa, Σb,
    Σa², Σb², Σab — is an exact BIGINT of raw counts; the Pearson
    combination is one fixed-order double expression of those exact
    scalars, so the result is bit-equal cross-engine. NULL when either
    side is constant on the overlap (zero variance).

    Scale: the heavy pass is the per-day count rollup
    (partial-aggregated over the full log); everything after runs on
    the bounded day axis (span·(2L+1) rows), with the lag pairing a
    broadcast self-join of that tiny grid. BIGINT headroom: safe to
    ~3e9 events/day/type (count² per day grid row must fit 2^63 after
    the day-axis sum).
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    bounds = events.agg(
        F.min(F.to_date(F.col(ts_col))).alias("_d0"),
        F.max(F.to_date(F.col(ts_col))).alias("_d1"),
    )
    days = bounds.select(
        F.explode(F.sequence("_d0", "_d1")).alias("_d")
    )

    def _daily(t: str, out: str) -> DataFrame:
        return (
            events.where(F.col(type_col) == t)
            .groupBy(F.to_date(F.col(ts_col)).alias("_d"))
            .agg(F.count("*").cast("bigint").alias(out))
        )

    grid = (
        days.join(_daily(type_a, "_a"), "_d", "left")
        .join(_daily(type_b, "_b"), "_d", "left")
        .select(
            "_d",
            F.coalesce("_a", F.lit(0)).alias("_a"),
            F.coalesce("_b", F.lit(0)).alias("_b"),
        )
        .localCheckpoint(eager=False)  # bounded day axis, used twice
    )
    lags = grid.sparkSession.range(1).select(
        F.explode(
            F.sequence(F.lit(-int(max_lag)), F.lit(int(max_lag)))
        ).alias("_l")
    ).select(F.col("_l").cast("int").alias("lag"))
    pairs = (
        grid.select("_d", "_a")
        .crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(
                grid.select(F.col("_d").alias("_d2"), "_b")
            ),
            F.expr("date_add(_d, lag) = _d2"),
        )
    )
    m = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("_a").cast("bigint").alias("sa"),
        F.sum("_b").cast("bigint").alias("sb"),
        F.sum(F.col("_a") * F.col("_a")).cast("bigint").alias("saa"),
        F.sum(F.col("_b") * F.col("_b")).cast("bigint").alias("sbb"),
        F.sum(F.col("_a") * F.col("_b")).cast("bigint").alias("sab"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n_days") * d("sab") - d("sa") * d("sb")
    var_a = d("n_days") * d("saa") - d("sa") * d("sa")
    var_b = d("n_days") * d("sbb") - d("sb") * d("sb")
    r = num / F.nullif(F.sqrt(var_a * var_b), F.lit(0.0))
    return m.select(
        "lag", "n_days", F.round(r, 6).alias("ccf")
    ).orderBy("lag")


def theil_sen_daily_trend(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    max_span_days: int = 1500,
) -> DataFrame:
    """Theil-Sen robust trend of each key's daily event counts — the
    median of all pairwise slopes (c_j − c_i)/(j − i) over the
    zero-filled global day grid (Theil 1950 / Sen 1968; 29.3%
    breakdown point, so level shifts and outlier days barely move it,
    unlike the OLS slope in regression_trend).

    Determinism: slopes are rationals of exact integers; they are
    ORDERED by the identically-computed double (ties broken by the day
    pair, so selection is total) and the selected median is REPORTED
    in integer micro-units via ``div((c_j−c_i)·2^20, j−i)`` —
    truncating integer division matches between engines and sidesteps
    the 6-dp half-boundary class that exact small-denominator
    rationals (k/128) would hit under round() (CLAUDE.md invariant).
    Lower median for even pair counts.

    Scale: the data-sized pass is the per-(key, day) count rollup;
    everything after lives on the day grid — pairs are day-span²/2 per
    key (~66k for a year) REGARDLESS of input size, so the per-key
    rank window is cardinality-bounded by construction (the acf_daily
    acceptance), never a data-sized single task. The bound is only as
    good as the span, though: a multi-year log (10 y ≈ 6.7M pairs per
    key) funnels one large window task, so spans past ``max_span_days``
    raise with instructions to coarsen to weekly buckets (pre-truncate
    ts to the week start and divide the reported slope by 7) rather
    than silently degrade.
    """
    cnts = events.groupBy(
        F.col(key_col).alias("_k"), F.to_date(F.col(ts_col)).alias("_d")
    ).agg(F.count("*").cast("bigint").alias("_x"))
    bounds = events.agg(
        F.min(F.to_date(F.col(ts_col))).alias("_d0"),
        F.max(F.to_date(F.col(ts_col))).alias("_d1"),
    )
    _b = bounds.first()
    b0, b1 = _b["_d0"], _b["_d1"]
    if b0 is not None and (b1 - b0).days + 1 > max_span_days:
        raise ValueError(
            f"theil_sen_daily_trend: day span {(b1 - b0).days + 1} "
            f"exceeds max_span_days={max_span_days} "
            f"({((b1 - b0).days + 1) ** 2 // 2:,} pairs per key in one "
            "rank window). Coarsen to weekly buckets first: "
            "date_trunc('week', ts) as the day, slope/7 on report."
        )
    days = bounds.select(
        F.explode(F.sequence("_d0", "_d1")).alias("_d"),
        F.col("_d0"),
    ).select("_d", F.datediff("_d", "_d0").cast("bigint").alias("_i"))
    keys = events.select(F.col(key_col).alias("_k")).distinct()
    grid = (
        keys.crossJoin(F.broadcast(days))
        .join(cnts, ["_k", "_d"], "left")
        .select(
            "_k", "_i", F.coalesce("_x", F.lit(0)).alias("_x")
        )
        .localCheckpoint(eager=False)  # bounded day axis, self-joined
    )
    g2 = grid.select(
        F.col("_k"),
        F.col("_i").alias("_j"),
        F.col("_x").alias("_y"),
    )
    pairs = grid.join(g2, "_k").where(F.col("_j") > F.col("_i"))
    slope_d = (F.col("_y") - F.col("_x")).cast("double") / (
        F.col("_j") - F.col("_i")
    ).cast("double")
    slope_micro = F.expr("div((_y - _x) * 1048576, _j - _i)")
    w = Window.partitionBy("_k").orderBy(slope_d, "_i", "_j")
    ranked = pairs.select(
        "_k",
        "_i",
        "_j",
        slope_micro.alias("_sm"),
        F.row_number().over(w).alias("_r"),
        F.count("*").over(Window.partitionBy("_k")).alias("_m"),
    )
    return (
        ranked.where(F.col("_r") == F.expr("div(_m + 1, 2)"))
        .select(
            F.col("_k").alias(key_col),
            F.col("_m").cast("bigint").alias("n_pairs"),
            F.col("_sm").cast("bigint").alias("sen_slope_micro"),
        )
        .orderBy(key_col)
    )


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero) — matches Spark's
    ``div`` and DuckDB's ``//`` on negatives, unlike python's
    flooring ``//``."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def holt_linear_daily(
    events: DataFrame,
    alpha: tuple[int, int] = (1, 4),
    beta: tuple[int, int] = (1, 4),
    ts_col: str = "ts",
) -> DataFrame:
    """Holt's linear-trend exponential smoothing (Holt 1957) of the
    zero-filled daily event totals — level + trend state per day plus
    the one-step-ahead forecast error (the anomaly/forecast residual
    ewma_events can't give because it has no trend term).

    The recurrence l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} is inherently sequential, so
    it follows the km_survival pattern: the distributed pass shrinks
    the log to the BOUNDED day axis (one partial-aggregated rollup),
    the recurrence runs driver-side in EXACT integers — α, β are
    rationals (an/ad), state lives in 2^20 micro-units, every step is
    one truncating division ``tdiv(an·xq + (ad−an)·(l+b), ad)`` — and
    the result returns as a local DataFrame. Truncation (not floor)
    matches Spark div / DuckDB ``//`` on negative trends, so the
    recursive-CTE oracle replays bit-for-bit.

    Output per day (from day 1; init l_0 = x_0, b_0 = x_1 − x_0):
    day_index, day, n_events, level_micro, trend_micro,
    onestep_err_micro = x_t·2^20 − (l_{t−1} + b_{t−1}).
    """
    an, ad = alpha
    bn, bd = beta
    if not (0 < an <= ad and 0 < bn <= bd):
        raise ValueError("alpha/beta must be rationals in (0, 1]")
    per_day = (
        events.groupBy(F.to_date(F.col(ts_col)).alias("_d"))
        .agg(F.count("*").cast("bigint").alias("_x"))
        .collect()
    )
    rows = sorted(per_day, key=lambda r: r["_d"])
    if len(rows) < 2:
        raise ValueError("need at least 2 observed days")
    d0, d1 = rows[0]["_d"], rows[-1]["_d"]
    by_day = {r["_d"]: int(r["_x"]) for r in rows}
    import datetime as _dt

    span = (d1 - d0).days + 1
    xs = [
        by_day.get(d0 + _dt.timedelta(days=i), 0) for i in range(span)
    ]
    q = 1 << 20
    lvl = xs[0] * q
    trd = (xs[1] - xs[0]) * q
    out = []
    for i in range(1, span):
        xq = xs[i] * q
        err = xq - (lvl + trd)
        new_l = _tdiv(an * xq + (ad - an) * (lvl + trd), ad)
        new_t = _tdiv(bn * (new_l - lvl) + (bd - bn) * trd, bd)
        lvl, trd = new_l, new_t
        out.append(
            (i, d0 + _dt.timedelta(days=i), xs[i], lvl, trd, err)
        )

    return local_df(
        events.sparkSession,
        out,
        "day_index bigint, day date, n_events bigint, "
        "level_micro bigint, trend_micro bigint, "
        "onestep_err_micro bigint",
    )


def mad_outlier_days(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    z_num: int = 6745,
    z_den_thousandths: int = 35000,
) -> DataFrame:
    """Per-key POINT-anomaly days by the modified z-score (Iglewicz &
    Hoaglin 1993): flag day t when 0.6745·|x_t − median| / MAD > 3.5,
    evaluated as the pure-integer cross-product ``6745·|x − med| >
    35000·MAD`` — the robust single-day complement of the driver-side
    CUSUM level-shift monitor (same median/MAD centering, but a point
    test, and fully DISTRIBUTED: no recurrence, so no driver state at
    all).

    Both medians (of x, then of |x − med|) are exact lower-median
    order statistics picked by rank over the zero-filled key×day grid
    — windows bounded by the day span (the acf_daily cardinality
    acceptance), never data-sized. MAD = 0 (over half the days
    identical) degenerates to flagging any deviation — the standard
    MAD caveat, documented not hidden.

    Output: flagged days only — (key, day, x, med, mad), ordered.
    """
    cnts = events.groupBy(
        F.col(key_col).alias("_k"), F.to_date(F.col(ts_col)).alias("_d")
    ).agg(F.count("*").cast("bigint").alias("_x"))
    bounds = events.agg(
        F.min(F.to_date(F.col(ts_col))).alias("_d0"),
        F.max(F.to_date(F.col(ts_col))).alias("_d1"),
    )
    days = bounds.select(
        F.explode(F.sequence("_d0", "_d1")).alias("_d")
    )
    keys = events.select(F.col(key_col).alias("_k")).distinct()
    grid = (
        keys.crossJoin(F.broadcast(days))
        .join(cnts, ["_k", "_d"], "left")
        .select("_k", "_d", F.coalesce("_x", F.lit(0)).alias("_x"))
        .localCheckpoint(eager=False)
    )

    def _lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("_k").orderBy(col, "_d")
        ranked = df.select(
            "_k",
            F.col(col),
            "_d",
            F.row_number().over(w).alias("_r"),
            F.count("*").over(Window.partitionBy("_k")).alias("_n"),
        )
        return ranked.where(
            F.col("_r") == F.expr("div(_n + 1, 2)")
        ).select("_k", F.col(col).alias(out))

    med = _lower_median(grid, "_x", "med")
    dev = grid.join(F.broadcast(med), "_k").withColumn(
        "_dev", F.abs(F.col("_x") - F.col("med"))
    )
    mad = _lower_median(
        dev.select("_k", F.col("_dev").alias("_x"), "_d"), "_x", "mad"
    )
    return (
        dev.join(F.broadcast(mad), "_k")
        .where(
            F.col("_dev") * F.lit(int(z_num))
            > F.col("mad") * F.lit(int(z_den_thousandths))
        )
        .select(
            F.col("_k").alias(key_col),
            F.col("_d").alias("day"),
            F.col("_x").alias("x"),
            "med",
            "mad",
        )
        .orderBy(key_col, "day")
    )


def dispersion_report(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Variance-to-mean ratio (index of dispersion) of each key's
    daily counts over the zero-filled day grid — the Poisson-ness
    triage that tells you whether rate anomalies need a negative-
    binomial model (VMR ≫ 1, bursty) or plain Poisson bands (VMR ≈ 1);
    the calendar-axis complement of interarrival_burstiness.

    Exactness: n, Σx, Σx² are exact BIGINTs of raw counts; the
    sample-variance/mean combination is ONE fixed-order double
    expression, and vmr is reported alongside the exact integer
    moments so any downstream gate can re-derive it. Heavy pass =
    the per-day partial-agg rollup; everything after is |keys| rows.
    """
    cnts = events.groupBy(
        F.col(key_col).alias("_k"), F.to_date(F.col(ts_col)).alias("_d")
    ).agg(F.count("*").cast("bigint").alias("_x"))
    bounds = events.agg(
        F.min(F.to_date(F.col(ts_col))).alias("_d0"),
        F.max(F.to_date(F.col(ts_col))).alias("_d1"),
    )
    days = bounds.select(
        F.explode(F.sequence("_d0", "_d1")).alias("_d")
    )
    keys = events.select(F.col(key_col).alias("_k")).distinct()
    grid = (
        keys.crossJoin(F.broadcast(days))
        .join(cnts, ["_k", "_d"], "left")
        .select("_k", F.coalesce("_x", F.lit(0)).alias("_x"))
    )
    m = grid.groupBy("_k").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("_x").cast("bigint").alias("sx"),
        F.sum(F.col("_x") * F.col("_x")).cast("bigint").alias("sxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = d("sx") / d("n_days")
    var = (d("sxx") - d("n_days") * mean * mean) / (
        d("n_days") - F.lit(1.0)
    )
    return m.select(
        F.col("_k").alias(key_col),
        "n_days",
        "sx",
        "sxx",
        F.round(mean, 6).alias("mean_per_day"),
        F.round(var / F.nullif(mean, F.lit(0.0)), 6).alias("vmr"),
    ).orderBy(key_col)


def mann_kendall_daily(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    max_span_days: int = 1500,
) -> DataFrame:
    """Mann-Kendall monotonic-trend test (Mann 1945 / Kendall 1975)
    per key over the zero-filled daily counts — the hypothesis-test
    companion of ``theil_sen_daily_trend`` (same pairs, same grid):
    S = Σ_{i<j} sign(c_j − c_i), tie-corrected variance
    var = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)) / 18 over the tie groups
    of equal counts, and the continuity-corrected normal score
    z = (S ∓ 1)/√var.

    Determinism: S and the variance NUMERATOR are exact integers
    (reported as BIGINTs); only z is a double — one fixed-order
    expression of the two integers, rounded at 6 dp. No window
    anywhere: two aggregations over the bounded day-grid pair join
    (span²/2 pairs per key regardless of input size, max_span_days
    guarded like theil_sen).

    Output per key: n_days, s_stat, var_num18 (= 18·var, exact),
    z_mk (6 dp).
    """
    cnts = events.groupBy(
        F.col(key_col).alias("_k"), F.to_date(F.col(ts_col)).alias("_d")
    ).agg(F.count("*").cast("bigint").alias("_x"))
    bounds = events.agg(
        F.min(F.to_date(F.col(ts_col))).alias("_d0"),
        F.max(F.to_date(F.col(ts_col))).alias("_d1"),
    )
    _b = bounds.first()
    b0, b1 = _b["_d0"], _b["_d1"]
    if b0 is not None and (b1 - b0).days + 1 > max_span_days:
        raise ValueError(
            f"mann_kendall_daily: day span {(b1 - b0).days + 1} exceeds "
            f"max_span_days={max_span_days}; coarsen to weekly buckets"
        )
    days = bounds.select(
        F.explode(F.sequence("_d0", "_d1")).alias("_d"),
        F.col("_d0"),
    ).select("_d", F.datediff("_d", "_d0").cast("bigint").alias("_i"))
    keys = events.select(F.col(key_col).alias("_k")).distinct()
    grid = (
        keys.crossJoin(F.broadcast(days))
        .join(cnts, ["_k", "_d"], "left")
        .select("_k", "_i", F.coalesce("_x", F.lit(0)).alias("_x"))
        .localCheckpoint(eager=False)  # bounded day axis, self-joined
    )
    g2 = grid.select(
        F.col("_k"), F.col("_i").alias("_j"), F.col("_x").alias("_y")
    )
    s = (
        grid.join(g2, "_k")
        .where(F.col("_j") > F.col("_i"))
        .groupBy("_k")
        .agg(
            F.sum(
                F.signum(
                    (F.col("_y") - F.col("_x")).cast("double")
                ).cast("bigint")
            ).alias("s_stat"),
            (F.count("*") * 2).alias("_pairs2"),
        )
    )
    ties = (
        grid.groupBy("_k", "_x")
        .agg(F.count("*").cast("bigint").alias("_t"))
        .groupBy("_k")
        .agg(
            F.count("*").alias("_ngroups"),
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).cast("bigint").alias("_tie_sum"),
            F.sum("_t").cast("bigint").alias("n_days"),
        )
    )
    var_num = (
        F.col("n_days") * (F.col("n_days") - 1)
        * (2 * F.col("n_days") + 5) - F.col("_tie_sum")
    ).cast("bigint")
    joined = s.join(ties, "_k").withColumn("var_num18", var_num)
    sd = F.sqrt(F.col("var_num18").cast("double") / F.lit(18.0))
    z = (
        F.when(F.col("s_stat") > 0,
               (F.col("s_stat") - 1).cast("double") / sd)
        .when(F.col("s_stat") < 0,
              (F.col("s_stat") + 1).cast("double") / sd)
        .otherwise(F.lit(0.0))
    )
    return joined.select(
        F.col("_k").alias(key_col),
        "n_days",
        "s_stat",
        "var_num18",
        (F.round(z, 6) + F.lit(0.0)).alias("z_mk"),
    ).orderBy(key_col)


def seasonal_decompose_daily(
    events: DataFrame,
    ts_col: str = "ts",
    period: int = 7,
    max_span_days: int = 100_000,
) -> DataFrame:
    """Classical additive seasonal decomposition of the daily event
    count (the moving-average method of Macaulay 1931, the
    `decompose()` everyone knows from R): trend = centered
    ``period``-day moving average, seasonal = per-phase mean of the
    detrended series, residual = the rest. The drift/weekly-cycle
    separation every traffic anomaly review starts from.

    PURE INTEGER recipe — no doubles anywhere, so cross-engine
    equality is structural rather than numerical:
    - the zero-filled day grid is bounded (`max_span_days` guard, the
      mann_kendall pattern);
    - trend_u = div(Σ_{±h} count · 2^20, period): truncating integer
      division, identical in Spark (`div`) and DuckDB (`//`, both
      truncate toward zero — and this numerator is non-negative
      anyway). Odd ``period`` required so the window centers exactly;
    - the moving window is an explode(sequence(−h..h)) equi-join on
      day index — NEVER a window function (no single-task funnel; a
      day-axis window would also need a global sort). Edge days
      without a full window are dropped, as in every classical
      implementation;
    - phase = day-index mod period relative to a PORTABLE epoch
      Monday (datediff from 1970-01-05 mod 7 when period = 7 — Spark
      `dayofweek` and DuckDB `dayofweek` disagree on indexing, so
      neither builtin is used);
    - seasonal_u(phase) = div(Σ detrended_u, n_phase): the numerator
      can be negative, and BOTH engines' integer division truncates
      toward zero, so the quotients agree exactly (verified in
      pytest with negative-numerator fixtures). Seasonal means are
      reported as-is (not re-centered), the plain-means convention.

    Scale: one groupBy to the bounded day axis; everything after is
    bounded-axis joins (≤ max_span_days rows). Output per day (full
    windows only): day, n_events, trend_u, seasonal_u, resid_u —
    2^20 fixed-point BIGINTs with n·2^20 = trend_u + seasonal_u +
    resid_u exactly.
    """
    if period % 2 != 1 or period < 3:
        raise ValueError(
            f"period must be odd and >= 3, got {period}"
        )
    h = period // 2
    cnts = events.where(F.col(ts_col).isNotNull()).groupBy(
        F.to_date(F.col(ts_col)).alias("_d")
    ).agg(F.count("*").cast("bigint").alias("_x"))
    bounds = cnts.agg(
        F.min("_d").alias("_d0"), F.max("_d").alias("_d1")
    )
    b = bounds.first()
    if b["_d0"] is None:
        raise ValueError("seasonal_decompose_daily: no rows")
    span = (b["_d1"] - b["_d0"]).days + 1
    if span > max_span_days:
        raise ValueError(
            f"seasonal_decompose_daily: span {span} exceeds "
            f"max_span_days={max_span_days}"
        )
    grid = (
        bounds.select(
            F.explode(F.sequence("_d0", "_d1")).alias("_d")
        )
        .join(cnts, "_d", "left")
        .select(
            "_d",
            F.coalesce("_x", F.lit(0)).alias("_x"),
            F.pmod(
                F.datediff(F.col("_d"), F.to_date(F.lit("1970-01-05"))),
                F.lit(int(period)),
            ).cast("bigint").alias("_ph"),
            F.datediff(
                F.col("_d"), F.to_date(F.lit("1970-01-01"))
            ).cast("bigint").alias("_i"),
        )
        .localCheckpoint(eager=False)  # bounded axis, read 3x
    )
    # centered moving sum via offset explode + equi-join on day index
    contrib = grid.select(
        F.explode(
            F.sequence(F.lit(-int(h)), F.lit(int(h)))
        ).alias("_off"),
        (F.col("_i")).alias("_src"),
        "_x",
    ).select((F.col("_src") + F.col("_off")).alias("_i"), "_x")
    win = contrib.groupBy("_i").agg(
        F.sum("_x").cast("bigint").alias("_wsum"),
        F.count("*").cast("bigint").alias("_wn"),
    )
    lo = grid.agg(F.min("_i")).first()[0]
    hi = lo + span - 1
    tr = (
        grid.join(win, "_i")
        # full windows only: the edge days also see fewer contributors
        .where(
            (F.col("_i") >= F.lit(int(lo + h)))
            & (F.col("_i") <= F.lit(int(hi - h)))
        )
        .select(
            "_d", "_i", "_ph", "_x",
            F.expr(f"div(_wsum * 1048576, {int(period)})")
            .cast("bigint").alias("_tu"),
        )
        .localCheckpoint(eager=False)
    )
    det = tr.select(
        "_ph", (F.col("_x") * F.lit(1048576) - F.col("_tu")).alias("_du")
    )
    seas = det.groupBy("_ph").agg(
        F.sum("_du").cast("bigint").alias("_dsum"),
        F.count("*").cast("bigint").alias("_dn"),
    ).select(
        "_ph",
        F.expr("div(_dsum, _dn)").cast("bigint").alias("_su"),
    )
    return (
        tr.join(F.broadcast(seas), "_ph")
        .select(
            F.col("_d").alias("day"),
            F.col("_x").alias("n_events"),
            F.col("_tu").alias("trend_u"),
            F.col("_su").alias("seasonal_u"),
            (
                F.col("_x") * F.lit(1048576) - F.col("_tu")
                - F.col("_su")
            ).cast("bigint").alias("resid_u"),
        )
        .orderBy("day")
    )


def haar_energy_daily(
    events: DataFrame,
    ts_col: str = "ts",
    levels: int = 5,
) -> DataFrame:
    """Multi-resolution Haar detail energies of the daily event count
    (Haar 1910; the wavelet variance screen of Percival & Walden
    2000): which time scale — 2-day flicker, weekly swing, fortnight
    drift — carries the traffic's variance? Level l's detail
    coefficients difference adjacent 2^(l−1)-day block sums; high
    energy at level 3 (≈ weekly) is the signature seasonal_decompose
    then quantifies.

    PURE INTEGER, like seasonal_decompose: the UNNORMALIZED Haar
    transform (s = a + b, d = a − b) keeps every coefficient an exact
    BIGINT, so energies Σd² are exact and cross-engine equality is
    structural. The analysis window is the FIRST 2^levels days from
    the corpus minimum date, zero-padded past the observed span —
    a fixed dyadic grid both engines construct identically.

    Scale: one groupBy to the bounded day axis; the pyramid is
    ``levels`` chained aggregations over ≤ 2^levels rows. Overflow
    guard: |d| ≤ N (window row count) at every level, so energies are
    bounded by 2^levels·N² — refused with a clear error past BIGINT
    rather than an opaque ANSI crash.

    Output per level: level (1..levels, coarser = larger), n_coeffs,
    energy — plus the level-0 row (n_coeffs = 2^levels, energy = Σx²,
    the raw signal energy for normalizing the detail shares).
    """
    if not 1 <= levels <= 10:
        raise ValueError(f"levels must be in [1, 10], got {levels}")
    width = 1 << levels
    cnts = events.where(F.col(ts_col).isNotNull()).groupBy(
        F.to_date(F.col(ts_col)).alias("_d")
    ).agg(F.count("*").cast("bigint").alias("_x"))
    b = cnts.agg(F.min("_d").alias("_d0"),
                 F.sum("_x").alias("_n")).first()
    if b["_d0"] is None:
        raise ValueError("haar_energy_daily: no rows")
    n_total = int(b["_n"])
    if width * n_total * n_total >= 1 << 63:
        raise ValueError(
            "haar_energy_daily: detail energy could exceed BIGINT "
            f"({n_total} rows in window) — pre-scale the counts"
        )
    d0 = b["_d0"]
    grid = (
        events.sparkSession.range(width)
        .select(F.col("id").cast("bigint").alias("_i"))
        .join(
            cnts.select(
                F.datediff("_d", F.lit(d0)).cast("bigint").alias("_i"),
                "_x",
            ),
            "_i",
            "left",
        )
        .select("_i", F.coalesce("_x", F.lit(0)).alias("_x"))
        .localCheckpoint(eager=False)  # bounded dyadic axis
    )
    outs = [
        grid.agg(
            F.lit(0).cast("bigint").alias("level"),
            F.lit(int(width)).cast("bigint").alias("n_coeffs"),
            F.sum(F.col("_x") * F.col("_x")).cast("bigint")
            .alias("energy"),
        )
    ]
    cur = grid
    for lvl in range(1, levels + 1):
        pre = cur.select(
            F.expr("div(_i, 2)").alias("_p"),
            (F.col("_i") % 2).alias("_m"),
            "_x",
        )
        pair = pre.groupBy("_p").agg(
            F.sum(F.when(F.col("_m") == 0, F.col("_x"))
                  .otherwise(0)).cast("bigint").alias("_a"),
            F.sum(F.when(F.col("_m") == 1, F.col("_x"))
                  .otherwise(0)).cast("bigint").alias("_b"),
        )
        nxt = pair.select(
            F.col("_p").alias("_i"),
            (F.col("_a") + F.col("_b")).alias("_x"),
            (F.col("_a") - F.col("_b")).alias("_dd"),
        ).localCheckpoint(eager=False)
        outs.append(
            nxt.agg(
                F.lit(int(lvl)).cast("bigint").alias("level"),
                F.lit(int(width >> lvl)).cast("bigint")
                .alias("n_coeffs"),
                F.sum(F.col("_dd") * F.col("_dd")).cast("bigint")
                .alias("energy"),
            )
        )
        cur = nxt.select("_i", "_x")
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("level")


def changepoints_lsq(
    events: DataFrame,
    ts_col: str = "ts",
    k: int = 4,
    max_span_days: int = 512,
) -> DataFrame:
    """Multiple-changepoint detection by exact least-squares
    segmentation (the optimal-partitioning form of Bai & Perron 1998 /
    Jackson et al. 2005): split the zero-filled daily event count into
    ``k`` contiguous regimes minimizing total within-segment SSE —
    the global, multi-break companion of `cusum_changepoints` (which
    is sequential and single-shift).

    Machinery is `histogram.v_optimal_segmentation` verbatim — the
    day axis IS a pre-binned axis with one observation per bin — so
    cost definition, integer 2^20-scaled SSE, and argmin tie-breaks
    are shared with the v-optimal histogram, and the oracle replays
    the identical DP with unrolled MATERIALIZED CTE steps over the
    dynamic day axis. Corpus cost: ONE partial-aggregated groupBy to
    the bounded day grid (`max_span_days` guard, the mann_kendall
    pattern); the DP never sees data volume.

    Output per regime: seg, lo_day, hi_day (offsets from the minimum
    date), n_days, total (events in regime), sse_q (integer SSE of
    daily counts).
    """
    from inception_eventstore_spark.operators.histogram import (
        _SCALE,
        v_optimal_segmentation,
    )

    cnts = events.where(F.col(ts_col).isNotNull()).groupBy(
        F.to_date(F.col(ts_col)).alias("_d")
    ).agg(F.count("*").cast("bigint").alias("_x"))
    b = cnts.agg(
        F.min("_d").alias("_d0"), F.max("_d").alias("_d1"),
        F.max("_x").alias("_xmax"),
    ).first()
    if b["_d0"] is None:
        raise ValueError("changepoints_lsq: no rows")
    span = (b["_d1"] - b["_d0"]).days + 1
    if span > max_span_days:
        raise ValueError(
            f"changepoints_lsq: day span {span} exceeds "
            f"max_span_days={max_span_days}; coarsen to weekly buckets"
        )
    xmax = int(b["_xmax"])
    if xmax * xmax * span >= 1 << 63:
        raise ValueError(
            "changepoints_lsq: sum of squared daily counts could "
            f"exceed BIGINT (max {xmax}/day over {span} days)"
        )
    rows = (
        cnts.select(
            F.datediff("_d", F.lit(b["_d0"])).cast("bigint").alias("_i"),
            "_x",
        )
        .collect()
    )
    got = {int(r["_i"]): int(r["_x"]) for r in rows}
    bins = [(1, got.get(i, 0), got.get(i, 0) ** 2) for i in range(span)]
    out_rows = []
    for seg, (blo, bhi, cost_u) in enumerate(
        v_optimal_segmentation(bins, k)
    ):
        total = sum(bins[i][1] for i in range(blo, bhi + 1))
        out_rows.append(
            (seg, blo, bhi, bhi - blo + 1, total, cost_u // _SCALE)
        )
    return local_df(
        events.sparkSession,
        out_rows,
        "seg bigint, lo_day bigint, hi_day bigint, n_days bigint, "
        "total bigint, sse_q bigint",
    )


def holt_winters_daily(
    events: DataFrame,
    alpha: tuple[int, int] = (1, 4),
    beta: tuple[int, int] = (1, 4),
    gamma: tuple[int, int] = (1, 4),
    period: int = 7,
    ts_col: str = "ts",
) -> DataFrame:
    """Holt-Winters ADDITIVE triple exponential smoothing (Winters
    1960) of the zero-filled daily totals — `holt_linear_daily` plus
    the seasonal state the weekly traffic cycle actually needs:

        l_t = α(x_t − s_{t−p}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
        s_t = γ(x_t − l_t) + (1−γ)s_{t−p}

    Init (the standard first-cycle convention): l_{p−1} = mean of the
    first period (truncating div, micro-units), b_{p−1} = 0,
    s_i = x_i·2^20 − l_{p−1} for i < p; the recurrence starts at t=p.

    Same exactness contract as holt_linear: the km driver pattern
    (one partial-agg rollup to the bounded day axis, recurrence in
    exact python ints, `local_df` out); α/β/γ are rationals, state
    in 2^20 micro-units, every step one truncating division. The
    oracle carries the p-slot seasonal state as p ROTATING COLUMNS of
    a recursive CTE — the recursive row is (l, b, s_0..s_{p−1}) and
    step t rewrites slot t mod p only — replaying bit-for-bit.

    Output per day (t ≥ p): day_index, day, n_events, level_micro,
    trend_micro, seasonal_micro (the s_{t−p} USED at t), and
    onestep_err_micro = x_t·2^20 − (l_{t−1} + b_{t−1} + s_{t−p}).
    """
    an, ad = alpha
    bn, bd = beta
    gn, gd = gamma
    for n_, d_ in ((an, ad), (bn, bd), (gn, gd)):
        if not 0 < n_ <= d_:
            raise ValueError("alpha/beta/gamma must be rationals in (0, 1]")
    p = int(period)
    if p < 2:
        raise ValueError(f"period must be >= 2, got {p}")
    per_day = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("_d"))
        .agg(F.count("*").cast("bigint").alias("_x"))
        .collect()
    )
    rows = sorted(per_day, key=lambda r: r["_d"])
    if not rows:
        raise ValueError("holt_winters_daily: no rows")
    d0, d1 = rows[0]["_d"], rows[-1]["_d"]
    import datetime as _dt

    span = (d1 - d0).days + 1
    if span < p + 1:
        raise ValueError(
            f"need more than one full period ({p} days); span is {span}"
        )
    by_day = {r["_d"]: int(r["_x"]) for r in rows}
    xs = [
        by_day.get(d0 + _dt.timedelta(days=i), 0) for i in range(span)
    ]
    q = 1 << 20
    lvl = _tdiv(sum(xs[:p]) * q, p)
    trd = 0
    seas = [xs[i] * q - lvl for i in range(p)]
    out = []
    for t in range(p, span):
        xq = xs[t] * q
        s_used = seas[t % p]
        err = xq - (lvl + trd + s_used)
        new_l = _tdiv(
            an * (xq - s_used) + (ad - an) * (lvl + trd), ad
        )
        new_b = _tdiv(bn * (new_l - lvl) + (bd - bn) * trd, bd)
        new_s = _tdiv(gn * (xq - new_l) + (gd - gn) * s_used, gd)
        lvl, trd = new_l, new_b
        seas[t % p] = new_s
        out.append(
            (t, d0 + _dt.timedelta(days=t), xs[t], lvl, trd, s_used, err)
        )

    return local_df(
        events.sparkSession,
        out,
        "day_index bigint, day date, n_events bigint, "
        "level_micro bigint, trend_micro bigint, "
        "seasonal_micro bigint, onestep_err_micro bigint",
    )


def forecast_accuracy(
    events: DataFrame,
    ts_col: str = "ts",
    season_days: int = 7,
) -> DataFrame:
    """Scale-free forecast-accuracy scorecard for the seasonal-naive
    baseline on daily event VOLUME: MASE (Hyndman & Koehler 2006 —
    seasonal-naive absolute error relative to the one-step-naive
    in-sample MAE) and sMAPE, the two metrics forecast benchmarking
    (M3/M4) standardized on. `seasonal_naive_eval` reports raw
    per-key micro-unit MAE; this is the normalized single-row readout
    that is comparable across series and scales.

    Conventions: daily counts are exact BIGINTs on the observed day
    axis; a day is evaluated when the day ``season_days`` earlier
    (numerator) / one day earlier (denominator) exists in the data.
    Both metrics are exact integers — no double anywhere:

        mase_ppm     = div(Σ|e7| · n1 · 10^6, Σ|e1| · n7)
        smape_mean_u = div(Σ_d div(2·|e7_d|·2^20, x_d + f_d), n7)

    (per-day sMAPE terms integer-quantized BEFORE the sum —
    quantize-before-combine; days with x + f = 0 contribute 0 by the
    usual convention). Σ|e7|·n1·10^6 is exact BIGINT while
    Σ|e7| · n_days < 9.2·10^12 (e.g. 2.5·10^9 total absolute error
    at a 10-year daily axis) — far past any daily rollup.

    Scale: one partial-aggregated rollup to the day axis, two
    self-equi-joins of that bounded relation on day offsets (never an
    ordered window), one scalar fold. Output (one row): n_days,
    n_eval, n_naive, mase_ppm, smape_mean_u (NULLs when a window is
    empty or the naive error is 0).
    """
    daily = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("_d"))
        .agg(F.count("*").cast("bigint").alias("_x"))
    )
    lag7 = daily.select(
        F.date_add(F.col("_d"), int(season_days)).alias("_d"),
        F.col("_x").alias("_f"),
    )
    lag1 = daily.select(
        F.date_add(F.col("_d"), 1).alias("_d"),
        F.col("_x").alias("_p"),
    )
    e7 = daily.join(lag7, "_d").select(
        "_d", "_x", "_f",
        F.abs(F.col("_x") - F.col("_f")).alias("_a7"),
        F.when(
            F.col("_x") + F.col("_f") > 0,
            F.expr("div(2 * abs(_x - _f) * 1048576, _x + _f)"),
        ).otherwise(F.lit(0)).cast("bigint").alias("_su"),
    )
    e1 = daily.join(lag1, "_d").select(
        F.abs(F.col("_x") - F.col("_p")).alias("_a1")
    )
    a7 = e7.agg(
        F.count("*").cast("bigint").alias("n7"),
        F.sum("_a7").cast("bigint").alias("s7"),
        F.sum("_su").cast("bigint").alias("su"),
    )
    a1 = e1.agg(
        F.count("*").cast("bigint").alias("n1"),
        F.sum("_a1").cast("bigint").alias("s1"),
    )
    nd = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    out = nd.crossJoin(F.broadcast(a7)).crossJoin(F.broadcast(a1))
    return out.select(
        "n_days",
        F.col("n7").alias("n_eval"),
        F.col("n1").alias("n_naive"),
        F.when(
            (F.col("n7") > 0) & (F.col("s1") > 0),
            F.expr("div(s7 * n1 * 1000000, s1 * n7)"),
        ).cast("bigint").alias("mase_ppm"),
        F.when(F.col("n7") > 0, F.expr("div(su, n7)"))
        .cast("bigint").alias("smape_mean_u"),
    )


def quantile_forecast_eval(
    events: DataFrame,
    ts_col: str = "ts",
    q_num: int = 9,
    q_den: int = 10,
) -> DataFrame:
    """Pinball-loss scorecard of the per-weekday empirical quantile
    forecast of daily event volume — the capacity-planning companion
    to `forecast_accuracy` (a point forecast scores where the middle
    is; a q-quantile forecast is judged by the pinball / quantile
    loss, the strictly proper score for quantiles — Koenker & Bassett
    1978):

        L_q(y, f) = q·(y−f)        if y ≥ f
                    (1−q)·(f−y)    otherwise

    Forecast: for each weekday, the LOW q-quantile (order statistic at
    ceil(q·n)) of that weekday's daily counts — an exact integer, no
    interpolation, so the whole evaluation is integer arithmetic:
    the reported loss is scaled by ``q_den`` (loss_x_den =
    q_num·(y−f) or (q_den−q_num)·(f−y), summed as BIGINT). Output one
    row: (n_days, q_ppm, total_loss_x_den, mean_loss_x_den —
    integer div).

    Scale: the corpus collapses to the calendar-bounded (day, count)
    rollup first; the quantile is a row_number rank over that BOUNDED
    rollup partitioned by weekday (7 partitions of ≤ |days| rows each —
    never the raw event stream through a window) and the join back is
    a 7-row broadcast."""
    if not (0 < q_num < q_den):
        raise ValueError("need 0 < q_num < q_den")
    daily = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("_day"))
        .agg(F.count("*").cast("bigint").alias("_y"))
        # pre-epoch-portable weekday (the chi_square_independence
        # convention): days since Monday 1970-01-05, double-mod so
        # pre-epoch dates stay in [0, 7)
        .withColumn(
            "_wd",
            (
                (
                    F.datediff(F.col("_day"), F.lit("1970-01-05")) % 7
                    + 7
                )
                % 7
            ).cast("bigint"),
        )
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_wd").orderBy("_y", "_day")
    ranked = daily.withColumn("_rn", F.row_number().over(w))
    sizes = daily.groupBy("_wd").agg(F.count("*").alias("_n"))
    # low q-quantile: value at rank ceil(q·n) = (q_num·n + q_den − 1)
    # div q_den — exact integer rank arithmetic
    fc = (
        ranked.join(F.broadcast(sizes), "_wd")
        .where(
            F.col("_rn")
            == F.expr(f"div(_n * {int(q_num)} + {int(q_den) - 1}, "
                      f"{int(q_den)})")
        )
        .select("_wd", F.col("_y").alias("_f"))
    )
    loss = (
        daily.join(F.broadcast(fc), "_wd")
        .select(
            F.when(
                F.col("_y") >= F.col("_f"),
                F.lit(int(q_num)) * (F.col("_y") - F.col("_f")),
            )
            .otherwise(
                F.lit(int(q_den - q_num)) * (F.col("_f") - F.col("_y"))
            )
            .cast("bigint")
            .alias("_l"),
        )
    )
    return loss.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.lit(int(q_num * 1_000_000 // q_den)).cast("bigint").alias(
            "q_ppm"
        ),
        F.sum("_l").cast("bigint").alias("total_loss_x_den"),
        F.expr("div(sum(_l), count(*))").cast("bigint").alias(
            "mean_loss_x_den"
        ),
    )


def croston_daily(
    events: DataFrame,
    alpha: tuple[int, int] = (1, 4),
    ts_col: str = "ts",
) -> DataFrame:
    """Croston's method (Croston 1972) for INTERMITTENT demand over
    the zero-filled daily event counts — the standard forecaster when
    most periods are zero (spare parts, rare event types, long-tail
    SKUs), where plain exponential smoothing biases toward zero:
    demand SIZE and inter-arrival INTERVAL are smoothed separately on
    demand periods only, and the per-period rate is their ratio.

    Exactness follows the holt_linear_daily recipe exactly: the
    distributed pass shrinks the log to the bounded day axis (one
    partial-aggregated rollup + driver zero-fill), the recurrence
    runs driver-side in exact integers — α = an/ad rational, state in
    2^20 micro-units, every step one truncating division, matching
    Spark ``div`` / the oracle's CASE-truncating ``//`` — and the
    result returns via `local_df`, replayed bit-for-bit by a
    recursive-CTE oracle. Callers pre-filter to the sparse slice
    whose demand they forecast.

    Convention (both engines): demand periods are days with x > 0,
    1-based day index t over the [min_day, max_day] span; state
    initializes at the first demand day t₁ as z = x_{t₁}·2²⁰,
    p = t₁·2²⁰ (the first interval measured from the span start);
    each later demand day t with gap i = t − t_prev updates

        z ← z + tdiv(an·(x_t·2²⁰ − z), ad)
        p ← p + tdiv(an·(i·2²⁰ − p), ad)

    Output per demand day: (day_index, day, demand, z_micro, p_micro,
    f_ppm = tdiv(z·10⁶, p) — the per-period demand-rate forecast)."""
    an, ad = alpha
    if not 0 < an <= ad:
        raise ValueError("alpha must be a rational in (0, 1]")
    per_day = (
        events.groupBy(F.to_date(F.col(ts_col)).alias("_d"))
        .agg(F.count("*").cast("bigint").alias("_x"))
        .collect()
    )
    rows = sorted(per_day, key=lambda r: r["_d"])
    if not rows:
        raise ValueError("croston_daily: no rows")
    import datetime as _dt

    d0 = rows[0]["_d"]
    demands = [
        ((r["_d"] - d0).days + 1, r["_d"], int(r["_x"]))
        for r in rows
        if int(r["_x"]) > 0
    ]
    if len(demands) < 2:
        raise ValueError("croston_daily: need >= 2 demand days")
    q = 1 << 20
    t1, day1, x1 = demands[0]
    z, p = x1 * q, t1 * q
    out = [(t1, day1, x1, z, p, _tdiv(z * 1_000_000, p))]
    prev_t = t1
    for t, day, x in demands[1:]:
        gap = t - prev_t
        z = z + _tdiv(an * (x * q - z), ad)
        p = p + _tdiv(an * (gap * q - p), ad)
        prev_t = t
        out.append((t, day, x, z, p, _tdiv(z * 1_000_000, p)))

    return local_df(
        events.sparkSession,
        out,
        "day_index bigint, day date, demand bigint, z_micro bigint, "
        "p_micro bigint, f_ppm bigint",
    )
