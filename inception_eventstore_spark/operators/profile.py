"""Table profiling: per-column quality statistics in one scan.

The first thing any pipeline does with an unfamiliar table — null
rates, cardinalities, ranges, string lengths — expressed as a single
aggregation pass so the corpus is scanned exactly once:

- every column contributes its stat expressions to ONE ``agg`` (a
  single partial-aggregated job; no per-column scans);
- exact distinct counts use Spark's multi-distinct Expand, which
  multiplies the scan rows by the number of distinct aggregates — the
  honest cost of exact profiling. At 100 TB pass ``approx=True`` to
  swap in ``approx_count_distinct`` (HLL, one pass, no Expand); the
  exact mode is the DuckDB-oracle surface;
- numeric (and timestamp, via epoch micros) ranges surface as rounded
  doubles; strings report average length instead — cross-engine float
  formatting of extreme values makes stringified min/max unverifiable,
  rounded doubles are not.

Output: one row per column — (col_name, n_nulls, n_distinct, num_min,
num_max, avg_len).
"""

from __future__ import annotations

import math as _math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inception_eventstore_spark.functions.local_df import local_df

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile_table(df: DataFrame, approx: bool = False) -> DataFrame:
    """One-pass per-column profile (see module docstring)."""
    total = F.count(F.lit(1))
    aggs = [total.alias("_n")]
    # positional alias keys: name-derived keys can collide ('a.b' vs
    # 'a_b') and silently cross-wire the stats
    for i, f in enumerate(df.schema.fields):
        c, safe = f.name, str(i)
        col = F.col(f"`{c}`")
        aggs.append((total - F.count(col)).alias(f"_nulls_{safe}"))
        distinct = (
            F.approx_count_distinct(col) if approx else F.countDistinct(col)
        )
        aggs.append(distinct.alias(f"_dist_{safe}"))
        if isinstance(f.dataType, _NUMERIC):
            num = col.cast("double")
        elif isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            num = F.unix_micros(col).cast("double")
        elif isinstance(f.dataType, T.DateType):
            num = F.datediff(col, F.lit("1970-01-01")).cast("double")
        else:
            num = F.lit(None).cast("double")
        aggs.append(F.round(F.min(num), 6).alias(f"_min_{safe}"))
        aggs.append(F.round(F.max(num), 6).alias(f"_max_{safe}"))
        length = (
            F.length(col).cast("double")
            if isinstance(f.dataType, T.StringType)
            else F.lit(None).cast("double")
        )
        aggs.append(F.round(F.avg(length), 6).alias(f"_len_{safe}"))
    row = df.agg(*aggs).collect()[0]

    out = []
    for i, f in enumerate(df.schema.fields):
        safe = str(i)
        out.append(
            (
                f.name,
                int(row[f"_nulls_{safe}"]),
                int(row[f"_dist_{safe}"]),
                row[f"_min_{safe}"],
                row[f"_max_{safe}"],
                row[f"_len_{safe}"],
            )
        )
    return df.sparkSession.createDataFrame(
        out,
        "col_name string, n_nulls bigint, n_distinct bigint, "
        "num_min double, num_max double, avg_len double",
    )


def population_stability(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """(bin, ref_share, cur_share, psi_term) — Population Stability
    Index terms between a reference and a current sample of
    ``value_col`` (the standard drift monitor: PSI = Σ terms; < 0.1
    stable, > 0.25 action):

        psi_term_i = (p_i − q_i) · ln(p_i / q_i)

    over ``bins`` reference-quantile buckets. Bin edges are the ref
    sample's exact interpolated percentiles ROUNDED to 6 dp — the
    rounding is load-bearing for cross-engine determinism: raw
    interpolated edges differ in the last ulp between engines, and a
    data point exactly on an edge would then flip buckets; 6-dp edges
    are engine-identical (proven by the value_percentiles oracle) and
    almost surely unequal to any continuous data value. Edges are two
    scalar aggregates baked back as literals — the binning passes are
    map-side, one partial-aggregated count each; ``smoothing`` is the
    add-α keeping empty buckets finite. Bin membership: value v falls
    in bucket |{edges e : v > e}| (strict)."""
    joined, p, q = _ref_quantile_shares(
        ref, cur, value_col, bins, smoothing
    )
    return joined.select(
        "bin",
        F.round(p, 6).alias("ref_share"),
        F.round(q, 6).alias("cur_share"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    ).orderBy("bin")


def _ref_quantile_shares(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    bins: int,
    smoothing: float,
):
    """Shared bucket machinery of the binned drift monitors
    (`population_stability`, `jensen_shannon_drift`): reference-
    quantile 6-dp edges baked back as literals (map-side binning, one
    partial-aggregated count per side), smoothed shares p/q joined
    with the totals via a 1-row broadcast. Returns (joined_df, p, q)
    column expressions over columns bin/n_ref/n_cur/_tr/_tc."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    probs = [i / bins for i in range(1, bins)]
    edges = [
        round(float(e), 6)
        for e in ref.select(
            F.percentile(F.col(value_col), F.array(*[F.lit(p) for p in probs]))
        ).first()[0]
    ]

    def bucketed(df: DataFrame) -> DataFrame:
        b = F.lit(0)
        for e in edges:
            b = b + F.when(F.col(value_col) > F.lit(e), 1).otherwise(0)
        return (
            df.where(F.col(value_col).isNotNull())
            .select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").alias("n"))
        )

    r = bucketed(ref).withColumnRenamed("n", "n_ref")
    c = bucketed(cur).withColumnRenamed("n", "n_cur")
    allbins = ref.sparkSession.range(int(bins)).select(
        F.col("id").cast("int").alias("bin")
    )
    joined = (
        allbins.join(r, "bin", "left")
        .join(c, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    # totals join back from one scalar aggregate (broadcast) — the
    # relation is |bins| rows so a lit(1) window was harmless here,
    # but the plan-lint bans window-over-SinglePartition wholesale:
    # cheaper to not need the exemption
    tot = joined.agg(
        F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc")
    )
    a = float(smoothing)
    p = (F.col("n_ref") + a) / (F.col("_tr") + a * bins)
    q = (F.col("n_cur") + a) / (F.col("_tc") + a * bins)
    return joined.crossJoin(F.broadcast(tot)), p, q


def jensen_shannon_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """(bin, ref_share, cur_share, js_term) — per-bin Jensen-Shannon
    divergence terms between a reference and a current sample over
    the same reference-quantile buckets as `population_stability`:

        js_term_i = ½·p_i·ln(p_i/m_i) + ½·q_i·ln(q_i/m_i),
        m_i = (p_i + q_i)/2

    JSD = Σ terms ∈ [0, ln 2] — the BOUNDED, symmetric companion the
    drift family needs when a brand-new bucket would send a KL-based
    monitor (PSI) toward infinity: JS saturates instead, so paging
    thresholds stay meaningful under catastrophic drift. Same
    execution shape as PSI: literal 6-dp edges, two map-side binning
    passes, |bins|-row algebra."""
    joined, p, q = _ref_quantile_shares(
        ref, cur, value_col, bins, smoothing
    )
    m = (p + q) / 2
    return joined.select(
        "bin",
        F.round(p, 6).alias("ref_share"),
        F.round(q, 6).alias("cur_share"),
        F.round(
            F.lit(0.5) * p * F.log(p / m) + F.lit(0.5) * q * F.log(q / m),
            6,
        ).alias("js_term"),
    ).orderBy("bin")


def ks_statistic(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
) -> DataFrame:
    """(n_ref, n_cur, ks) — the exact two-sample Kolmogorov-Smirnov
    statistic sup_x |F_ref(x) − F_cur(x)|, completing the drift family
    next to `population_stability` (PSI sees bucket mass move; KS sees
    any distributional difference, bucket-free).

    Both samples aggregate to one row per DISTINCT value (counts per
    side), so the running prefix counts over the value order ARE the
    two ECDFs evaluated at every jump point — one row per distinct
    value settles the at-tie ECDF convention with a plain ROWS frame.
    The prefix counts run as the TWO-PHASE shard cumsum
    (`functions/ranking.sharded_running_sums`), never a
    ``partitionBy(lit(1))`` window: a global value-ordered window is a
    single task holding every distinct value, which for continuous
    columns is the whole relation. Counts are integers, so the
    sharded sum is bit-identical to the sequential window and the
    SQL-window oracle keeps hash-matching; totals join back from one
    scalar aggregate."""
    from inception_eventstore_spark.functions.ranking import (
        sharded_running_sums,
    )

    r = ref.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("v")
    ).groupBy("v").agg(F.count("*").alias("c1")).withColumn(
        "c2", F.lit(0).cast("long")
    )
    c = cur.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("v")
    ).groupBy("v").agg(F.count("*").alias("c2")).withColumn(
        "c1", F.lit(0).cast("long")
    )
    u = (
        r.select("v", "c1", "c2")
        .unionAll(c.select("v", "c1", "c2"))
        .groupBy("v")
        .agg(F.sum("c1").alias("c1"), F.sum("c2").alias("c2"))
    )
    stepped = sharded_running_sums(u, [F.col("v")], ["c1", "c2"])
    tot = stepped.agg(
        F.sum("c1").alias("_n1"), F.sum("c2").alias("_n2")
    )
    return (
        stepped.crossJoin(F.broadcast(tot))
        .select(
            F.col("_n1").alias("n_ref"),
            F.col("_n2").alias("n_cur"),
            F.abs(
                F.col("c1_cum").cast("double") / F.col("_n1")
                - F.col("c2_cum").cast("double") / F.col("_n2")
            ).alias("_d"),
        )
        .groupBy("n_ref", "n_cur")
        .agg(F.round(F.max("_d"), 6).alias("ks"))
        .select(
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            "ks",
        )
    )


def weighted_median(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """(group?, total_weight, weighted_median) — the exact lower
    weighted median per group: the smallest value whose cumulative
    weight reaches half the group's total (the robust center duplicate
    -weighted corpora need, where plain median over-counts repeated
    documents; weight = dup_count or quality mass).

    One peer-inclusive RANGE running sum over the per-group value
    ordering gives cumulative weights; the answer is the MIN value at
    cum ≥ total/2 — an aggregate, not a row_number cut, so tied values
    and equal-weight plateaus resolve identically on every engine.
    Non-positive/NULL weights are excluded."""
    gcols = [group_col] if group_col else []
    base = df.where(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
        & F.col(value_col).isNotNull()
    ).select(*gcols, F.col(value_col).alias("_v"),
             F.col(weight_col).cast("double").alias("_w"))
    w = (
        Window.partitionBy(*gcols) if gcols
        else Window.partitionBy(F.lit(1))
    )
    cum = F.sum("_w").over(w.orderBy("_v"))
    tot = F.sum("_w").over(w)
    marked = base.select(
        *gcols, "_v",
        cum.alias("_cum"), tot.alias("_tot"),
    )
    agg = marked.where(F.col("_cum") * 2 >= F.col("_tot")).groupBy(
        *gcols
    ).agg(
        F.round(F.max("_tot"), 6).alias("total_weight"),
        F.min("_v").alias("weighted_median"),
    )
    return agg


def psi_timeline(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    bins: int = 10,
    smoothing: float = 0.5,
    period_fmt: str = "yyyy-MM-dd",
) -> DataFrame:
    """(period, n_ref, n_cur, psi): periodic drift MONITORING — total
    PSI of every calendar period's value distribution (default daily;
    ``period_fmt`` is a Spark date_format pattern) against the FIRST
    period as baseline, the dashboard query behind
    `population_stability` (which compares two fixed snapshots). A
    rising psi series is the standard trigger for re-weighting or
    re-training.

    Single-pass design: baseline edges are one percentile aggregate
    (6-dp rounded — the cross-engine contract population_stability
    documents), then ONE scan buckets every row into (period, bin)
    counts; baseline counts join back broadcast and per-period terms
    sum map-side. |periods|·|bins| intermediate rows — NOT a
    pass-per-period loop."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    per = df.where(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.date_format(ts_col, period_fmt).alias("period"),
        F.col(value_col).alias("_v"),
    )
    base_period = per.agg(F.min("period")).first()[0]
    if base_period is None:
        raise ValueError("no rows with a timestamp and value")
    probs = [i / bins for i in range(1, bins)]
    edges = [
        round(float(e), 6)
        for e in per.where(F.col("period") == base_period)
        .select(
            F.percentile(F.col("_v"), F.array(*[F.lit(p) for p in probs]))
        )
        .first()[0]
    ]
    b = F.lit(0)
    for e in edges:
        b = b + F.when(F.col("_v") > F.lit(e), 1).otherwise(0)
    counts = (
        per.select("period", b.alias("bin"))
        .groupBy("period", "bin")
        .agg(F.count("*").alias("n"))
    )
    allbins = df.sparkSession.range(int(bins)).select(
        F.col("id").cast("int").alias("bin")
    )
    periods = counts.select("period").distinct()
    grid = periods.crossJoin(F.broadcast(allbins))
    full = grid.join(counts, ["period", "bin"], "left").select(
        "period", "bin", F.coalesce("n", F.lit(0)).alias("n")
    )
    ref = full.where(F.col("period") == base_period).select(
        "bin", F.col("n").alias("n_ref")
    )
    a = float(smoothing)
    tr = full.where(F.col("period") == base_period).agg(
        F.sum("n").alias("_tr")
    )
    joined = (
        full.join(F.broadcast(ref), "bin")
        .crossJoin(F.broadcast(tr))
    )
    p = (F.col("n_ref") + a) / (F.col("_tr") + a * bins)
    q = (F.col("n") + a) / (F.col("_tc") + a * bins)
    tc = Window.partitionBy("period")
    joined = joined.withColumn("_tc", F.sum("n").over(tc))
    return (
        joined.withColumn("_term", (p - q) * F.log(p / q))
        .groupBy("period")
        .agg(
            F.max("_tr").cast("bigint").alias("n_ref"),
            F.max("_tc").cast("bigint").alias("n_cur"),
            F.round(F.sum("_term"), 6).alias("psi"),
        )
        .orderBy("period")
    )


def rfm_segments(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation — the
    classic engagement stratification (Hughes 1994), and the
    event-store analog of quality bucketing: score each user 1-5 on
    how recently, how often and how much, by quintile against the
    user population.

    Shape: the stream collapses FIRST to one row per user (recency =
    days since the user's last event relative to the corpus max,
    frequency = event count, monetary = 6-dp-rounded value sum — the
    rounding is the cross-engine contract for the threshold
    comparisons). Quintile edges are ONE exact-percentile scalar
    aggregate over that user table (6-dp, the psi edge contract),
    cross-joined back as literals; scoring is a map-side CASE. No
    windows anywhere — a power user with millions of events costs one
    partial-aggregated group, and the user table is |users| rows.

    Scores: F and M count edges BELOW the value (more is better);
    R is inverted (fewer days since last event is better). Output:
    (user_id, recency_days, frequency, monetary, r_score, f_score,
    m_score, rfm) with integer scores and the concatenated label.
    """
    per_user = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.max(ts_col).alias("_last"),
            F.count("*").cast("bigint").alias("frequency"),
            F.round(F.sum(F.coalesce(value_col, F.lit(0.0))), 6).alias(
                "monetary"
            ),
        )
    )
    anchor = events.agg(F.max(ts_col).alias("_anchor"))
    per_user = per_user.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.datediff(F.col("_anchor"), F.col("_last"))
        .cast("bigint")
        .alias("recency_days"),
        "frequency",
        "monetary",
    )

    qs = [0.2, 0.4, 0.6, 0.8]
    edges = per_user.agg(
        *[
            F.round(F.expr(f"percentile(recency_days, {q})"), 6).alias(
                f"_r{i}"
            )
            for i, q in enumerate(qs)
        ],
        *[
            F.round(F.expr(f"percentile(frequency, {q})"), 6).alias(
                f"_f{i}"
            )
            for i, q in enumerate(qs)
        ],
        *[
            F.round(F.expr(f"percentile(monetary, {q})"), 6).alias(
                f"_m{i}"
            )
            for i, q in enumerate(qs)
        ],
    )

    def score_above(col: str, prefix: str):
        s = F.lit(1)
        for i in range(len(qs)):
            s = s + F.when(
                F.col(col) > F.col(f"_{prefix}{i}"), 1
            ).otherwise(0)
        return s.cast("bigint")

    scored = per_user.crossJoin(F.broadcast(edges)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(6) - score_above("recency_days", "r"))
        .cast("bigint")
        .alias("r_score"),
        score_above("frequency", "f").alias("f_score"),
        score_above("monetary", "m").alias("m_score"),
    )
    return scored.withColumn(
        "rfm",
        F.concat_ws(
            "",
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


def auc_report(
    df: DataFrame,
    score_col: str,
    positive: Column,
    num_shards: int | None = None,
) -> DataFrame:
    """One-row ROC-AUC of a score at separating a binary condition —
    the rank-based Mann-Whitney form with exact tie handling, the
    standard check that a quality/importance score actually orders the
    classes before it is trusted to filter a corpus. AUC = P(score⁺ >
    score⁻) + ½·P(tie).

    Exact-integer form: collapse to the per-distinct-score table
    (pos_g, neg_g) first, then U·2 = Σ_g pos_g·(2·neg_below + neg_g)
    — twice the tie-aware U statistic, an associative BIGINT sum.
    ``neg_below`` is a global running sum over the score-ordered group
    table, computed with the two-phase `sharded_running_sums` (integer
    addition is associative, so shard offsets match the sequential
    window bit-for-bit) — NO single-task window even when every score
    is distinct. AUC = U2/(2·n_pos·n_neg): a quotient of exactly-
    representable integers (requires U2 < 2^53, i.e. ≲ 10^8 rows —
    sample beyond that), so the 6-dp round is binary-rational-safe.

    Output: (n_pos, n_neg, auc); auc NULL when either class is empty.
    """
    from inception_eventstore_spark.functions.ranking import (
        sharded_running_sums,
    )

    groups = (
        df.select(
            F.col(score_col).alias("_s"),
            F.when(positive, 1).otherwise(0).alias("_p"),
        )
        .where(F.col("_s").isNotNull())
        .groupBy("_s")
        .agg(
            F.sum("_p").cast("long").alias("_pos"),
            (F.count("*") - F.sum("_p")).cast("long").alias("_neg"),
        )
    )
    r = sharded_running_sums(
        groups, [F.col("_s")], ["_neg"], num_shards=num_shards
    )
    agg = r.agg(
        F.sum(
            F.col("_pos")
            * (2 * (F.col("_neg_cum") - F.col("_neg")) + F.col("_neg"))
        )
        .cast("long")
        .alias("_u2"),
        F.sum("_pos").cast("bigint").alias("n_pos"),
        F.sum("_neg").cast("bigint").alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.col("_u2").cast("double")
                / (
                    F.lit(2.0)
                    * F.col("n_pos").cast("double")
                    * F.col("n_neg").cast("double")
                ),
            ),
            6,
        ).alias("auc"),
    )


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    top: int = 5,
) -> DataFrame:
    """(rank, key, cnt, share_ppm, skew_ppm, n_keys, total) — the
    shuffle-skew diagnostic every join/groupBy on ``key_col`` should
    be sized against: the ``top`` heaviest keys with their corpus
    share and their load relative to a uniform key (``skew_ppm`` =
    cnt/avg in parts-per-million; 1_000_000 = perfectly uniform,
    50_000_000 = this key's shuffle partition does 50x the average
    work and wants salting or an AQE skew split).

    All ratios are exact integer arithmetic (ppm via BIGINT div), so
    the report is bit-identical on any engine. One partial-aggregated
    groupBy (the input never moves — only one row per distinct key
    shuffles), a 2-scalar global fold broadcast back, and a
    TakeOrdered top-k; the rank over the ``top`` survivors uses the
    two-phase shard rank, so no single-partition window exists even
    here."""
    from inception_eventstore_spark.functions.ranking import (
        grouped_row_number,
    )

    counts = df.groupBy(
        F.col(key_col).cast("string").alias("key")
    ).agg(F.count("*").alias("cnt"))
    tot = counts.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total"),
    )
    head = (
        counts.orderBy(F.col("cnt").desc(), F.col("key"))
        .limit(int(top))
        .crossJoin(F.broadcast(tot))
    )
    ranked = grouped_row_number(
        head,
        order_cols=[F.col("cnt").desc(), F.col("key")],
        rank_col="rank",
    )
    return ranked.select(
        F.col("rank").cast("bigint").alias("rank"),
        "key",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.expr("CAST((cnt * 1000000) div total AS BIGINT)").alias(
            "share_ppm"
        ),
        F.expr(
            "CAST((cnt * n_keys * 1000000) div total AS BIGINT)"
        ).alias("skew_ppm"),
        "n_keys",
        "total",
    )


def trimmed_stats(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    trim_ppm: int = 50_000,
) -> DataFrame:
    """(group, n, n_trimmed, trimmed_mean, trimmed_std) — robust
    per-group statistics with the top and bottom ``trim_ppm``
    (default 5%) of rows REMOVED before the moments: the outlier-
    immune mean/std a monitoring threshold should be built on when
    heavy tails would otherwise let a few extreme rows move the
    alarm line.

    EXACT and engine-identical: values quantize to integer cents
    (the fixtures are 2-dp money-style doubles — ×100 lands within
    1e-10 of an integer, never at a rounding boundary), the trim
    cut is a RANK filter (rank ⌊n·trim⌋ strict at both ends, ties
    broken by ``id_col`` so the kept SET is deterministic, not just
    the kept count), ranks come from the two-phase shard rank (a
    skewed group never funnels one task), and the moments are
    associative BIGINT sums of cents and cents²."""
    if not 0 <= trim_ppm < 500_000:
        raise ValueError("trim_ppm must be in [0, 500000)")
    from inception_eventstore_spark.functions.ranking import (
        grouped_row_number,
    )

    cents = F.round(F.col(value_col) * 100).cast("bigint")
    base = events.where(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        cents.alias("_c"),
        F.col(id_col).alias("_tb"),
    )
    ranked = grouped_row_number(
        base,
        order_cols=[F.col("_c"), F.col("_tb")],
        group_cols=["grp"],
        rank_col="_r",
        with_group_count="_n",
    )
    cut = F.expr(f"CAST((_n * {int(trim_ppm)}) div 1000000 AS BIGINT)")
    kept = ranked.where(
        (F.col("_r") > cut) & (F.col("_r") <= F.col("_n") - cut)
    )
    m = kept.groupBy("grp").agg(
        F.max("_n").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_trimmed"),
        F.sum("_c").cast("bigint").alias("_s1"),
        F.sum(F.col("_c") * F.col("_c")).cast("bigint").alias("_s2"),
    )
    nt = F.col("n_trimmed").cast("double")
    mu = F.col("_s1") / nt
    var = F.col("_s2") / nt - mu * mu
    return m.select(
        F.col("grp").alias(group_col),
        "n",
        "n_trimmed",
        F.round(mu / 100.0, 6).alias("trimmed_mean"),
        F.round(
            F.sqrt(F.greatest(var, F.lit(0.0))) / 100.0, 6
        ).alias("trimmed_std"),
    )


def join_cardinality(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str | None = None,
) -> DataFrame:
    """(n_left, n_right, keys_left, keys_right, keys_common,
    join_rows, max_key_product) — the pre-join sizing report: the
    EXACT row count an inner equi-join would produce
    (Σ_k cntL(k)·cntR(k)) and the worst single key's contribution,
    computed from the two per-key count tables WITHOUT executing the
    join. This is the diagnostic that catches a fan-out blowup (a
    many-to-many key nobody expected) or a skew bomb
    (max_key_product ≈ join_rows) before a 100 TB shuffle runs —
    the per-key count tables are orders of magnitude smaller than
    the join they predict.

    One partial-aggregated groupBy per side, one equi-join of the
    count tables (one row per key each), exact BIGINT arithmetic."""
    rk = right_key or left_key
    lc = (
        left.where(F.col(left_key).isNotNull())
        .groupBy(F.col(left_key).alias("_k"))
        .agg(F.count("*").alias("_nl"))
    )
    rc = (
        right.where(F.col(rk).isNotNull())
        .groupBy(F.col(rk).alias("_k"))
        .agg(F.count("*").alias("_nr"))
    )
    j = lc.join(rc, "_k")
    common = j.agg(
        F.count("*").cast("bigint").alias("keys_common"),
        F.sum(F.col("_nl") * F.col("_nr")).cast("bigint").alias(
            "join_rows"
        ),
        F.max(F.col("_nl") * F.col("_nr")).cast("bigint").alias(
            "max_key_product"
        ),
    )
    lt = lc.agg(
        F.sum("_nl").cast("bigint").alias("n_left"),
        F.count("*").cast("bigint").alias("keys_left"),
    )
    rt = rc.agg(
        F.sum("_nr").cast("bigint").alias("n_right"),
        F.count("*").cast("bigint").alias("keys_right"),
    )
    return (
        lt.crossJoin(rt)
        .crossJoin(common)
        .select(
            "n_left",
            "n_right",
            "keys_left",
            "keys_right",
            F.coalesce("keys_common", F.lit(0)).alias("keys_common"),
            F.coalesce("join_rows", F.lit(0)).alias("join_rows"),
            F.coalesce("max_key_product", F.lit(0)).alias(
                "max_key_product"
            ),
        )
    )


def benford_audit(
    df: DataFrame,
    value_col: str,
    cents_scale: int = 100,
) -> DataFrame:
    """Benford's-law first-digit audit of a positive money/measure
    column — the classic fabricated-data screen (synthetic generators
    and fat-finger entries rarely reproduce the logarithmic leading-
    digit law). One row per digit 1-9: ``observed``, ``obs_ppm``
    (observed·10⁶ div n) and ``benford_ppm`` (floor(log10(1+1/d)·10⁶)
    — computed once in python and injected as literals, so neither
    engine evaluates a log).

    Digit extraction avoids both string-formatting of doubles (not
    engine-portable) and log10 (floor(log10(10^k)) can land on k−1 in
    a ulp-short libm): the value is quantized to integer cents via
    floor(x·scale + 0.5) — identical doubles in, identical arithmetic
    — and the leading digit is ``c div 10^(len(str(c))−1)``, integer-
    to-string being exact everywhere. Non-positive and NULL values are
    excluded (Benford is defined on positive magnitudes).

    Scale: one partial-aggregated 9-group rollup + a broadcast join
    against the literal digit frame. Zero-observation digits still
    report (observed 0)."""
    import math

    if cents_scale < 1:
        raise ValueError("cents_scale must be >= 1")
    spark = df.sparkSession
    c = F.floor(F.col(value_col) * F.lit(float(cents_scale)) + F.lit(0.5)).cast(
        "bigint"
    )
    rows = (
        df.where(F.col(value_col).isNotNull() & (F.col(value_col) > 0))
        .select(c.alias("_c"))
        .where(F.col("_c") > 0)
        .select(
            F.expr(
                "_c div CAST(pow(10, length(CAST(_c AS STRING)) - 1)"
                " AS BIGINT)"
            ).alias("digit")
        )
    )
    obs = rows.groupBy("digit").agg(
        F.count("*").cast("bigint").alias("observed")
    )
    total = rows.agg(F.count("*").cast("bigint").alias("_n"))
    digits = spark.range(1, 10).select(F.col("id").alias("digit"))
    bppm = F.array(
        *[
            F.lit(int(math.floor(math.log10(1.0 + 1.0 / d) * 1e6)))
            for d in range(1, 10)
        ]
    )
    return (
        digits.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("digit").cast("bigint").alias("digit"),
            F.coalesce("observed", F.lit(0)).cast("bigint").alias(
                "observed"
            ),
            F.expr(
                "CAST(coalesce(observed, 0) * 1000000 div"
                " greatest(_n, 1) AS BIGINT)"
            ).alias("obs_ppm"),
            F.element_at(bppm, F.col("digit").cast("int"))
            .cast("bigint")
            .alias("benford_ppm"),
        )
    )


def gini_concentration(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Gini coefficient of an integer value per group — the
    concentration/inequality report (revenue concentration per market,
    token-count concentration per source): 0 = perfectly even,
    →1 = one id holds everything. Returns one row per group:
    (…group, n, total, gini 6 dp), groups with zero total dropped
    (Gini undefined).

    Uses the rank identity G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over
    values sorted ascending with the id as total-order tiebreak.
    ``value_col`` must be integral (quantize money to cents per ROW
    first — floor(x·100+0.5) of a single value is exact, where
    quantizing an aggregated double sum is not): then Σ i·xᵢ and Σx
    are exact BIGINTs, the only cross-engine float surface is the
    final division of two identically-rounded doubles, and the rank
    itself comes from `functions/ranking.py` `grouped_row_number` —
    the two-phase shard rank, never a per-group single-task window
    (a "group" here is a whole market: exactly the skew shape the
    window form collapses on).

    Overflow headroom: Σ i·xᵢ ≤ n²·max(x) — fine for billions of ids
    at cent scale; shard the value unit down for larger domains.
    Measure: Gini 1912 (public literature)."""
    from pyspark.sql import types as T

    if not isinstance(df.schema[value_col].dataType, T.IntegralType):
        raise TypeError(
            f"gini_concentration needs an integer value column; "
            f"{value_col} is "
            f"{df.schema[value_col].dataType.simpleString()} — "
            "quantize per row first"
        )
    from inception_eventstore_spark.functions.ranking import (
        grouped_row_number,
    )

    group_cols = list(group_cols or [])
    ranked = grouped_row_number(
        df.select(*group_cols, id_col, value_col),
        order_cols=[F.col(value_col), F.col(id_col)],
        group_cols=group_cols,
        rank_col="_gr",
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(value_col).cast("bigint").alias("total"),
        F.sum(F.col("_gr") * F.col(value_col))
        .cast("bigint")
        .alias("_s1"),
    )
    n = F.col("n").cast("double")
    return agg.where(F.col("total") > 0).select(
        *group_cols,
        "n",
        "total",
        F.round(
            F.lit(2.0)
            * F.col("_s1").cast("double")
            / (n * F.col("total").cast("double"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


def did_estimate(
    events: DataFrame,
    value_col: str = "value",
    user_col: str = "user_id",
    ts_col: str = "ts",
    n_buckets: int = 2,
    treat_bucket: int = 1,
) -> DataFrame:
    """Difference-in-differences readout: users hash-split into
    treatment (``user_id % n_buckets == treat_bucket``) and control,
    time split at the midpoint of the observed day range, outcome =
    mean event value per cell. Returns one row: the four cell counts
    and means plus ``did`` = (T_post − T_pre) − (C_post − C_pre) —
    the parallel-trends causal estimate every experiment-on-a-rollout
    readout wants.

    Determinism: values are quantized per ROW to integer micro-units
    (floor(v·2^20) — exact on identical doubles), so cell sums are
    exact BIGINTs and every mean is one division of identical
    numbers; the final subtraction chain is fixed-order. No
    data-dependent float summation anywhere. The split day is
    ``min_day + (max_day − min_day) div 2``, derived from two scalar
    aggregates broadcast back — no wall clock.

    Scale: one scalar-bounds pass + one partial-aggregated 4-cell
    rollup over the log."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if not 0 <= treat_bucket < n_buckets:
        raise ValueError("treat_bucket out of range")
    bounds = events.agg(
        F.min(F.to_date(F.col(ts_col))).alias("_d0"),
        F.max(F.to_date(F.col(ts_col))).alias("_d1"),
    ).select(
        F.expr(
            "date_add(_d0, CAST(datediff(_d1, _d0) div 2 AS INT))"
        ).alias("_split")
    )
    cells = (
        events.where(F.col(value_col).isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            (F.col(user_col) % n_buckets == treat_bucket)
            .cast("int")
            .alias("_treat"),
            (F.to_date(F.col(ts_col)) > F.col("_split"))
            .cast("int")
            .alias("_post"),
            F.floor(F.col(value_col) * F.lit(1048576.0))
            .cast("bigint")
            .alias("_vq"),
        )
        .groupBy("_treat", "_post")
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum("_vq").cast("bigint").alias("_s"),
        )
    )
    mean = (
        F.col("_s").cast("double")
        / F.col("_n").cast("double")
        / F.lit(1048576.0)
    )
    # conditional rollup over the 4-cell frame (exactly one row per
    # (treat, post), so each SUM(CASE …) selects that cell's value)
    flat = cells.agg(
        *[
            F.sum(
                F.when(
                    (F.col("_treat") == t) & (F.col("_post") == p),
                    F.col("_n"),
                )
            )
            .cast("bigint")
            .alias(f"n_{'t' if t else 'c'}_{'post' if p else 'pre'}")
            for t in (0, 1)
            for p in (0, 1)
        ],
        *[
            F.round(
                F.sum(
                    F.when(
                        (F.col("_treat") == t) & (F.col("_post") == p),
                        mean,
                    )
                ),
                6,
            ).alias(
                f"mean_{'t' if t else 'c'}_{'post' if p else 'pre'}"
            )
            for t in (0, 1)
            for p in (0, 1)
        ],
        F.round(
            (
                F.sum(
                    F.when(
                        (F.col("_treat") == 1) & (F.col("_post") == 1),
                        mean,
                    )
                )
                - F.sum(
                    F.when(
                        (F.col("_treat") == 1) & (F.col("_post") == 0),
                        mean,
                    )
                )
            )
            - (
                F.sum(
                    F.when(
                        (F.col("_treat") == 0) & (F.col("_post") == 1),
                        mean,
                    )
                )
                - F.sum(
                    F.when(
                        (F.col("_treat") == 0) & (F.col("_post") == 0),
                        mean,
                    )
                )
            ),
            6,
        ).alias("did"),
    )
    return flat


def cuped_adjustment(
    events: DataFrame,
    value_col: str = "value",
    user_col: str = "user_id",
    ts_col: str = "ts",
    n_buckets: int = 2,
    treat_bucket: int = 1,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013,
    "Improving the sensitivity of online controlled experiments"):
    each user's PRE-period activity is the control covariate for their
    POST-period outcome — theta = cov(X,Y)/var(X) pooled across arms,
    adjusted outcome Y − theta·(X − mean(X)). The standard lift for
    underpowered A/B tests; reported next to the raw diff so the
    variance reduction is visible.

    Determinism: per-user pre/post sums are exact BIGINT micro-units
    (floor(v·2^20) per row), down-shifted to units via integer div so
    every moment (Σx, Σy, Σx², Σxy) stays an exact BIGINT under ANSI
    mode; theta and the means are then FIXED-ORDER double expressions
    of those exact scalars (each BIGINT cast to double before any
    product — the DuckDB twin computes the identical expression, and
    DuckDB's HUGEINT widening never engages). Time split at the
    midpoint day, as in did_estimate.

    Scale: one partial-aggregated per-user rollup (the only shuffle,
    on the user key) + a scalar moment fold. Users with no pre-period
    activity carry X = 0 — the covariate is still centered, so the
    estimator stays unbiased.

    Output one row: n_users, n_t, n_c, theta, mean_y_t, mean_y_c,
    diff_raw, diff_cuped (6-dp).
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if not 0 <= treat_bucket < n_buckets:
        raise ValueError("treat_bucket out of range")
    bounds = events.agg(
        F.min(F.to_date(F.col(ts_col))).alias("_d0"),
        F.max(F.to_date(F.col(ts_col))).alias("_d1"),
    ).select(
        F.expr(
            "date_add(_d0, CAST(datediff(_d1, _d0) div 2 AS INT))"
        ).alias("_split")
    )
    per_user = (
        events.where(F.col(value_col).isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            F.col(user_col).alias("_u"),
            (F.col(user_col) % n_buckets == treat_bucket)
            .cast("int")
            .alias("_t"),
            (F.to_date(F.col(ts_col)) > F.col("_split"))
            .cast("int")
            .alias("_post"),
            F.floor(F.col(value_col) * F.lit(1048576.0))
            .cast("bigint")
            .alias("_vq"),
        )
        .groupBy("_u", "_t")
        .agg(
            F.expr(
                "div(coalesce(sum(CASE WHEN _post = 0 THEN _vq END), 0),"
                " 1048576)"
            ).alias("_x"),
            F.expr(
                "div(coalesce(sum(CASE WHEN _post = 1 THEN _vq END), 0),"
                " 1048576)"
            ).alias("_y"),
        )
    )
    m = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("_t") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nt"),
        F.sum("_x").cast("bigint").alias("sx"),
        F.sum("_y").cast("bigint").alias("sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("bigint").alias("sxx"),
        F.sum(F.col("_x") * F.col("_y")).cast("bigint").alias("sxy"),
        F.sum(F.when(F.col("_t") == 1, F.col("_x")).otherwise(0))
        .cast("bigint")
        .alias("sxt"),
        F.sum(F.when(F.col("_t") == 1, F.col("_y")).otherwise(0))
        .cast("bigint")
        .alias("syt"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    theta = (d("n") * d("sxy") - d("sx") * d("sy")) / F.nullif(
        d("n") * d("sxx") - d("sx") * d("sx"), F.lit(0.0)
    )
    nc = F.col("n") - F.col("nt")
    my_t = d("syt") / d("nt")
    my_c = (d("sy") - d("syt")) / nc.cast("double")
    mx_t = d("sxt") / d("nt")
    mx_c = (d("sx") - d("sxt")) / nc.cast("double")
    mx_all = d("sx") / d("n")
    adj = (my_t - theta * (mx_t - mx_all)) - (
        my_c - theta * (mx_c - mx_all)
    )
    return m.select(
        F.col("n").alias("n_users"),
        F.col("nt").alias("n_t"),
        nc.cast("bigint").alias("n_c"),
        F.round(theta, 6).alias("theta"),
        F.round(my_t, 6).alias("mean_y_t"),
        F.round(my_c, 6).alias("mean_y_c"),
        F.round(my_t - my_c, 6).alias("diff_raw"),
        F.round(adj, 6).alias("diff_cuped"),
    )


def srm_check(
    events: DataFrame,
    user_col: str = "user_id",
    n_buckets: int = 3,
) -> DataFrame:
    """Sample-ratio-mismatch check — the first gate of any experiment
    readout (Fabijan et al. 2019): distinct users per assignment
    bucket vs the uniform expectation, chi-square computed from the
    INTEGER identity chi2 = (k·Σn_i² − n²)/n so no data-dependent
    float summation exists (a CASE-summed chi2 over k double terms
    would be engine-order-dependent; this is one division of exact
    BIGINTs). Flag at the df = k−1, p = 0.05 critical value.

    Scale: one distinct-user rollup (partial-aggregated on the user
    key) to k rows. Output one row: n_users, per-bucket counts ppm
    shares folded via conditional sums, chi2_6dp, srm flag.
    """
    if not 2 <= n_buckets <= 16:
        raise ValueError("n_buckets must be in [2, 16]")
    # chi-square 0.95 quantiles for df = 1..15
    crit = [
        3.841459,
        5.991465,
        7.814728,
        9.487729,
        11.070498,
        12.591587,
        14.067140,
        15.507313,
        16.918978,
        18.307038,
        19.675138,
        21.026070,
        22.362032,
        23.684791,
        24.995790,
    ][n_buckets - 2]
    per_bucket = (
        events.select(
            (F.col(user_col) % n_buckets).cast("int").alias("_b"),
            F.col(user_col).alias("_u"),
        )
        .distinct()
        .groupBy("_b")
        .agg(F.count("*").cast("bigint").alias("_n"))
    )
    m = per_bucket.agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.sum(F.col("_n") * F.col("_n")).cast("bigint").alias("snn"),
        *[
            F.sum(F.when(F.col("_b") == b, F.col("_n")).otherwise(0))
            .cast("bigint")
            .alias(f"n_{b}")
            for b in range(n_buckets)
        ],
    )
    chi2 = (
        F.lit(n_buckets).cast("double") * F.col("snn").cast("double")
        - F.col("n").cast("double") * F.col("n").cast("double")
    ) / F.col("n").cast("double")
    return m.select(
        F.col("n").alias("n_users"),
        *[F.col(f"n_{b}") for b in range(n_buckets)],
        F.round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(crit)).cast("int").alias("srm_flag"),
    )


def ratio_metric_ci(
    events: DataFrame,
    value_col: str = "value",
    user_col: str = "user_id",
    n_buckets: int = 2,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Per-arm ratio metric (Σ value / Σ events per USER cluster) with
    a delta-method confidence interval (Deng 2018, "Applying the delta
    method in metric analytics") — the correct CI for per-user ratio
    metrics like revenue-per-event, where naive row-level variance
    ignores user clustering.

    R = X̄/N̄ over users; Var(R) ≈ (S_xx − 2R·S_xn + R²·S_nn)/(U·N̄²)
    with sample (co)variances from exact per-user integer moments
    (value micros floor(v·2^20), down-shifted by integer div to units
    as in cuped_adjustment, so every Σ, Σ², Σxy is an exact BIGINT
    under ANSI); R, the variance, and the z-interval are fixed-order
    double expressions of those exact scalars.

    Scale: one user-keyed partial-agg rollup, then an arms-row scalar
    fold. Output per arm: bucket, n_users, sum_units, sum_events,
    ratio, se, ci_lo, ci_hi (6-dp).
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    per_user = (
        events.where(F.col(value_col).isNotNull())
        .select(
            F.col(user_col).alias("_u"),
            (F.col(user_col) % n_buckets).cast("int").alias("_b"),
            F.floor(F.col(value_col) * F.lit(1048576.0))
            .cast("bigint")
            .alias("_vq"),
        )
        .groupBy("_u", "_b")
        .agg(
            F.expr("div(sum(_vq), 1048576)").alias("_x"),
            F.count("*").cast("bigint").alias("_n"),
        )
    )
    m = per_user.groupBy("_b").agg(
        F.count("*").cast("bigint").alias("u"),
        F.sum("_x").cast("bigint").alias("sx"),
        F.sum("_n").cast("bigint").alias("sn"),
        F.sum(F.col("_x") * F.col("_x")).cast("bigint").alias("sxx"),
        F.sum(F.col("_n") * F.col("_n")).cast("bigint").alias("snn"),
        F.sum(F.col("_x") * F.col("_n")).cast("bigint").alias("sxn"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    u = d("u")
    xbar = d("sx") / u
    nbar = d("sn") / u
    r = d("sx") / d("sn")
    # sample covariances (divide by U-1), then Var(R̄) per Deng 2018
    s_xx = (d("sxx") - u * xbar * xbar) / (u - F.lit(1.0))
    s_nn = (d("snn") - u * nbar * nbar) / (u - F.lit(1.0))
    s_xn = (d("sxn") - u * xbar * nbar) / (u - F.lit(1.0))
    var = (
        (s_xx - F.lit(2.0) * r * s_xn + r * r * s_nn)
        / (u * nbar * nbar)
    )
    se = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        m.select(
            F.col("_b").alias("bucket"),
            F.col("u").alias("n_users"),
            F.col("sx").alias("sum_units"),
            F.col("sn").alias("sum_events"),
            F.round(r, 6).alias("ratio"),
            F.round(se, 6).alias("se"),
            F.round(r - F.lit(z) * se, 6).alias("ci_lo"),
            F.round(r + F.lit(z) * se, 6).alias("ci_hi"),
        )
        .orderBy("bucket")
    )


def mann_whitney_u(
    events: DataFrame,
    group_a: str = "click",
    group_b: str = "purchase",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Mann-Whitney U rank-sum test (Mann & Whitney 1947) between two
    groups' value distributions — the nonparametric A/B readout for
    skewed metrics where the t-family (cuped_adjustment,
    ratio_metric_ci) mis-sizes. One row: n_a, n_b, the exact U
    statistic in ×2 units, the tie term, and the tie-corrected normal
    score z_u.

    Exactness recipe (the kmv/bootstrap integer discipline):
    - rank state is built per DISTINCT value — groupBy(value) with
      integer group counts; doubles are only ever compared/grouped,
      never summed, so cross-engine bit-equality of the raw column
      carries through;
    - midranks are half-integers → everything runs in ×2 units:
      midrank_x2 = 2·(#strictly-below) + t + 1 (exact BIGINT);
    - the global running count uses sharded_running_sums (integer,
      associative → bit-identical to the oracle's sequential window;
      NEVER a single-partition window — CLAUDE.md rank invariant);
    - U_a_x2 = Σ n_a(v)·midrank_x2(v) − n_a(n_a+1) and the tie term
      Σ(t³−t) are exact; only z is a double — one fixed-order
      expression of five integers, rounded 6 dp.

    Tie-term overflow safety (ADVICE r7): t³ for a value tied across
    ≥ 2^21 rows exceeds BIGINT, and ANSI mode raises where the DuckDB
    oracle silently widens to HUGEINT. The cube is therefore never
    materialized Spark-side: per value, (t−1)·t·(t+1) is decomposed
    into three base-2^31 LANES by interleaved div/mod (every
    intermediate ≤ 2^62 for t ≤ 2^31), the lanes are summed as three
    independent BIGINTs (each lane sum safe to 2^32 distinct values),
    and the exact tie sum is recombined DRIVER-SIDE in python ints —
    the logrank_test pattern. Limits, enforced with clear errors
    rather than an opaque ANSI crash: max tie count ≤ 2^31 per value,
    and the recombined Σ(t³−t) must itself fit the BIGINT `tie_sum`
    output column (< 2^63 — also the bound past which the oracle's
    HUGEINT→BIGINT cast would raise).

    Scale: one partial-aggregated rollup to the distinct-value axis,
    one two-phase running sum over it, one scalar fold whose five
    exact integers return via a one-row local relation.
    """
    from inception_eventstore_spark.functions.ranking import (
        sharded_running_sums,
    )

    vals = events.where(
        F.col(type_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )
    per = (
        vals.groupBy(F.col(value_col).alias("_v"))
        .agg(
            F.sum(
                F.when(F.col(type_col) == group_a, 1).otherwise(0)
            ).cast("bigint").alias("_na"),
            F.sum(
                F.when(F.col(type_col) == group_b, 1).otherwise(0)
            ).cast("bigint").alias("_nb"),
        )
        .withColumn("_nt", (F.col("_na") + F.col("_nb")).cast("bigint"))
    )
    r = sharded_running_sums(per, [F.col("_v")], ["_nt"])
    mid_x2 = (
        2 * (F.col("_nt_cum") - F.col("_nt")) + F.col("_nt") + 1
    )
    # (t−1)·t·(t+1) in base-2^31 lanes: every intermediate ≤ 2^62 for
    # t ≤ 2^31, and each lane column is < 2^31 (ch bounded by t³/2^62)
    lane = 1 << 31
    r = (
        r.withColumn("_p1", F.expr("(_nt - 1) * _nt"))
        .withColumn("_h1", F.expr(f"div(_p1, {lane})"))
        .withColumn("_l1", F.expr(f"_p1 % {lane}"))
        .withColumn("_bb", F.expr("_l1 * (_nt + 1)"))
        .withColumn(
            "_cc", F.expr(f"_h1 * (_nt + 1) + div(_bb, {lane})")
        )
    )
    row = r.agg(
        F.sum(F.col("_na") * mid_x2).cast("bigint").alias("_ra_x2"),
        F.sum("_na").cast("bigint").alias("n_a"),
        F.sum("_nb").cast("bigint").alias("n_b"),
        F.max("_nt").cast("bigint").alias("max_t"),
        F.sum(F.expr(f"div(_cc, {lane})")).cast("bigint").alias("_s2"),
        F.sum(F.expr(f"_cc % {lane}")).cast("bigint").alias("_s1"),
        F.sum(F.expr(f"_bb % {lane}")).cast("bigint").alias("_s0"),
    ).first()
    if row["n_a"] is None:
        raise ValueError("no rows in either group")
    n_a, n_b = int(row["n_a"]), int(row["n_b"])
    if int(row["max_t"]) > lane:
        raise ValueError(
            "mann_whitney_u: a single value ties across "
            f"{row['max_t']} rows (> 2^31) — the lane decomposition "
            "bound; the rank test is degenerate at that tie mass"
        )
    # (t−1)·t·(t+1) IS t³−t, so the lane recombination is the whole
    # tie sum — exact in python ints
    tie_sum = (
        int(row["_s2"]) * lane * lane
        + int(row["_s1"]) * lane
        + int(row["_s0"])
    )
    if tie_sum >= 1 << 63:
        raise ValueError(
            "mann_whitney_u: tie term exceeds BIGINT — the tie_sum "
            "output column (and the oracle's HUGEINT→BIGINT cast) "
            "cannot represent it"
        )
    u_a_x2 = int(row["_ra_x2"]) - n_a * (n_a + 1)
    out = local_df(
        events.sparkSession,
        [(n_a, n_b, u_a_x2, tie_sum)],
        "n_a bigint, n_b bigint, u_a_x2 bigint, tie_sum bigint",
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    nd = d("n_a") + d("n_b")
    var = (
        d("n_a") * d("n_b") / F.lit(12.0)
        * ((nd + 1.0) - d("tie_sum") / (nd * (nd - 1.0)))
    )
    z = (d("u_a_x2") - d("n_a") * d("n_b")) / (2.0 * F.sqrt(var))
    return out.select(
        "n_a", "n_b", "u_a_x2", "tie_sum",
        (F.round(z, 6) + F.lit(0.0)).alias("z_u"),
    )


def propensity_strata(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    n_strata: int = 10,
    weights: tuple[int, int, int] = (37, 101, 53),
    fit: str = "pinned",
) -> DataFrame:
    """Propensity-score STRATIFICATION readout (Rosenbaum & Rubin
    1983/1984 subclassification): users are ranked by a propensity
    index over activity covariates (event count, active days, click
    count), cut into ``n_strata`` equal-rank strata, and the
    treated-vs-control outcome gap (total purchase value) is reported
    per stratum — the within-stratum comparison that removes the
    activity confound a raw diff would carry.

    Two propensity paths share every downstream stage:

    - ``fit="pinned"`` (default, the oracle gate): a pinned linear
      index with integer weights, so the score is an exact BIGINT and
      the whole operator hash-matches a SQL twin (the
      quality_model_score pinned-model pattern) — iterative fitting
      has no SQL twin, while the stratification/readout machinery —
      the part that runs at 100 TB — is identical either way.
    - ``fit="ml"`` (r8, VERDICT r7 missing #3 — the production path
      for real causal work): ``pyspark.ml`` LogisticRegression fits
      P(treated | covariates) distributedly (l-bfgs over
      treeAggregate gradient passes — 100 TB-shaped), and users rank
      by the fitted probability quantized to floor(p·2^40) with the
      same (score, user) total order. Non-oracled by design;
      parity-tested against the pinned deciles on a fixture whose
      true treatment rule is the pinned index
      (TestPropensityStrata::test_ml_fit_parity).

    Determinism: covariates and score are exact BIGINTs; outcome is
    per-row floor(v·2^20) micro-units (exact both engines); the global
    rank goes through grouped_row_number (two-phase shard rank, never
    a single-partition window) with (score, user) total order; stratum
    = div((rank−1)·n_strata, N) in integer arithmetic; per-stratum
    means are fixed-order doubles of exact integers, rounded 6 dp.

    Output per stratum: stratum, n_treated, n_control, diff_y (NULL
    when an arm is empty).
    """
    from inception_eventstore_spark.functions.ranking import (
        grouped_row_number,
    )

    per = propensity_user_scores(
        events, user_col=user_col, type_col=type_col,
        value_col=value_col, ts_col=ts_col, weights=weights, fit=fit,
    )
    ranked = grouped_row_number(
        per, [F.col("_s"), F.col("_u")], rank_col="_rk",
        with_group_count="_n",
    )
    st = ranked.select(
        F.expr(f"div((_rk - 1) * {int(n_strata)}, _n)").alias("stratum"),
        "_t", "_y",
    )
    g = st.groupBy("stratum").agg(
        F.sum("_t").cast("bigint").alias("n_treated"),
        F.sum(1 - F.col("_t")).cast("bigint").alias("n_control"),
        F.sum(F.when(F.col("_t") == 1, F.col("_y")).otherwise(0))
        .cast("bigint").alias("_syt"),
        F.sum(F.when(F.col("_t") == 0, F.col("_y")).otherwise(0))
        .cast("bigint").alias("_syc"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    diff = (
        d("_syt") / d("n_treated") - d("_syc") / d("n_control")
    ) / F.lit(1048576.0)
    return g.select(
        F.col("stratum").cast("bigint").alias("stratum"),
        "n_treated",
        "n_control",
        F.when(
            (F.col("n_treated") > 0) & (F.col("n_control") > 0),
            F.round(diff, 6) + F.lit(0.0),
        ).alias("diff_y"),
    ).orderBy("stratum")


def propensity_user_scores(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    weights: tuple[int, int, int] = (37, 101, 53),
    fit: str = "pinned",
) -> DataFrame:
    """Per-user (_u, _t, _s, _y) propensity frame behind
    `propensity_strata` — exposed so the two fit modes can be compared
    directly (the ml-parity test ranks users under both scores).

    ``fit="pinned"``: _s = w·(n_events, n_days, n_clicks), an exact
    BIGINT. ``fit="ml"``: _s = floor(P̂(treated|x)·2^40) from a
    ``pyspark.ml`` LogisticRegression fitted distributedly on the same
    three covariates (standardized internally by the fitter; maxIter
    50, no regularization — three features can't need shrinkage).
    """
    if fit not in ("pinned", "ml"):
        raise ValueError(f"fit must be 'pinned' or 'ml', got {fit!r}")
    w1, w2, w3 = (int(w) for w in weights)
    per = events.groupBy(F.col(user_col).alias("_u")).agg(
        F.count("*").cast("bigint").alias("_nev"),
        F.countDistinct(F.to_date(F.col(ts_col)))
        .cast("bigint")
        .alias("_ndays"),
        F.sum(F.when(F.col(type_col) == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("_nclick"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col(type_col) == "purchase",
                    F.floor(F.col(value_col) * F.lit(1048576.0))
                    .cast("bigint"),
                )
            ),
            F.lit(0),
        ).cast("bigint").alias("_y"),
    ).withColumn("_t", (F.col("_u") % 2).cast("int"))
    if fit == "pinned":
        return per.select(
            "_u", "_t",
            (
                w1 * F.col("_nev") + w2 * F.col("_ndays")
                + w3 * F.col("_nclick")
            ).cast("bigint").alias("_s"),
            "_y",
        )
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    feats = per.select(
        "_u", "_t", "_y",
        F.col("_nev").cast("double").alias("_f1"),
        F.col("_ndays").cast("double").alias("_f2"),
        F.col("_nclick").cast("double").alias("_f3"),
    )
    # persist: the l-bfgs fit reads the assembled frame many times
    # (one treeAggregate per iteration), then the scored output reads
    # it once more — curation.py's persist → checkpoint → unpersist
    # discipline keeps the rollup shuffle single-run
    assembled = VectorAssembler(
        inputCols=["_f1", "_f2", "_f3"], outputCol="_x"
    ).transform(feats).persist()
    lr = LogisticRegression(
        featuresCol="_x", labelCol="_t", maxIter=50, regParam=0.0,
        standardization=True,
    )
    model = lr.fit(assembled)
    scored = model.transform(assembled).select(
        "_u", "_t",
        F.floor(
            vector_to_array(F.col("probability")).getItem(1)
            * F.lit(float(1 << 40))
        ).cast("bigint").alias("_s"),
        "_y",
    )
    out = scored.localCheckpoint(eager=True)
    assembled.unpersist()
    return out


def chi_square_independence(
    events: DataFrame,
    row_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Pearson chi-square test of independence between an event's
    category and its day-of-week — the classic contingency audit
    ("does event mix drift by weekday?") that decides whether a
    per-weekday breakdown is signal or noise. Reports chi2, the
    degrees of freedom, and Cramér's V effect size in one row.

    Day-of-week is computed PORTABLY as datediff-from-a-known-Monday
    mod 7 (0 = Monday): Spark's ``dayofweek`` is 1-indexed from
    Sunday while DuckDB's is 0-indexed, so neither builtin crosses
    engines.

    Determinism recipe (quantize-before-combine, CLAUDE.md): the full
    R×C grid (distinct categories × observed weekdays, zero-filled —
    empty cells still contribute their expected mass) is bounded, and
    each cell's contribution
        (o·n − rt·ct)² / (n·rt·ct)
    is one fixed-order double expression of four exact BIGINTs
    (o·n − rt·ct is exact while n < ~3·10⁹ rows; every subsequent op
    is a correctly-rounded IEEE step on identical operands, so the
    doubles are bit-identical cross-engine). Each contribution is
    floored to 2^20 micro-units and the micro-units are summed as
    BIGINTs — integer addition is associative, so the total is
    engine/partitioning-independent; chi2 never touches a
    cross-engine-ordered double sum.

    Scale: one partial-aggregated groupBy to the bounded cell axis;
    the row/column marginals re-aggregate those cells (broadcast
    joins back); the final scalar agg's Exchange SinglePartition is
    the legitimate one-row fold.

    Output (one row): n, n_rows, n_cols, dof, chi2 (6 dp),
    cramers_v (6 dp; NULL when dof = 0).
    """
    dow = F.pmod(
        F.datediff(F.to_date(F.col(ts_col)), F.to_date(F.lit("1970-01-05"))),
        F.lit(7),
    ).cast("bigint")
    cells = (
        events.where(F.col(row_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(F.col(row_col).alias("_r"), dow.alias("_c"))
        .agg(F.count("*").cast("bigint").alias("_o"))
    )
    grid = (
        cells.select("_r").distinct()
        .crossJoin(F.broadcast(cells.select("_c").distinct()))
        .join(cells, ["_r", "_c"], "left")
        .select("_r", "_c", F.coalesce("_o", F.lit(0)).alias("_o"))
    )
    rt = grid.groupBy("_r").agg(F.sum("_o").cast("bigint").alias("_rt"))
    ct = grid.groupBy("_c").agg(F.sum("_o").cast("bigint").alias("_ct"))
    j = grid.join(F.broadcast(rt), "_r").join(F.broadcast(ct), "_c")
    # n via a broadcast one-row total (rt and ct both sum to n)
    tot = rt.agg(F.sum("_rt").cast("bigint").alias("_n"))
    j = j.crossJoin(F.broadcast(tot))
    # Overflow guard (r8 advice): o·n and rt·ct are BIGINT products of
    # values ≤ n, exact only while n² < 2^63, i.e. n ≤ 3037000499.
    # The check rides inside the expression (assert-through-branch), so
    # it cannot be pruned and costs nothing per row — matching the
    # explicit-guard style of v_optimal_histogram / haar_energy_daily.
    n_checked = F.expr(
        "if(_n <= 3037000499, _n, raise_error(concat("
        "'chi_square_independence: n = ', _n, "
        "' exceeds the exact-BIGINT bound n <= 3037000499 "
        "(o*n / rt*ct would overflow)')))"
    )
    dd = (F.col("_o") * n_checked - F.col("_rt") * F.col("_ct")).cast(
        "double"
    )
    contrib = (
        dd * dd
        / (
            F.col("_n").cast("double")
            * F.col("_rt").cast("double")
            * F.col("_ct").cast("double")
        )
    )
    per = j.select(
        "_n",
        "_r",
        "_c",
        F.floor(contrib * F.lit(1048576.0)).cast("bigint").alias("_cu"),
    )
    agg = per.groupBy().agg(
        F.max("_n").alias("n"),
        F.countDistinct("_r").cast("bigint").alias("n_rows"),
        F.countDistinct("_c").cast("bigint").alias("n_cols"),
        F.sum("_cu").cast("bigint").alias("_su"),
    )
    dof = (F.col("n_rows") - 1) * (F.col("n_cols") - 1)
    chi2 = F.col("_su").cast("double") / F.lit(1048576.0)
    mindim = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
    v = F.sqrt(
        chi2 / (F.col("n").cast("double") * mindim.cast("double"))
    )
    return agg.select(
        "n",
        "n_rows",
        "n_cols",
        dof.cast("bigint").alias("dof"),
        (F.round(chi2, 6) + F.lit(0.0)).alias("chi2"),
        F.when(dof > 0, F.round(v, 6) + F.lit(0.0)).alias("cramers_v"),
    )


def ipw_ate(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    n_strata: int = 10,
    weights: tuple[int, int, int] = (37, 101, 53),
    fit: str = "pinned",
) -> DataFrame:
    """Average-treatment-effect READOUT over the propensity strata —
    the single number `propensity_strata`'s per-stratum table rolls
    up to. Within each stratum the propensity is the exact rational
    p̂_s = n_treated_s / n_s, and the Hájek inverse-propensity-weighted
    estimator with a stratum-constant p̂ collapses to the classic
    subclassification estimator (Rosenbaum & Rubin 1984):

        ATE = Σ_s (n_s / n) · (ȳ_treated,s − ȳ_control,s)

    so one formula IS both estimators; strata with an empty arm are
    dropped from the sum (and counted in `n_strata_dropped`).

    Determinism: ranks/strata/outcome sums are the exact-integer
    propensity machinery (`propensity_user_scores`; grouped_row_number
    two-phase rank — never a single-partition window); each stratum's
    contribution n_s·(syt/nt − syc/nc)/n is one fixed-order double of
    five exact BIGINTs, floored to 2^20 micro-units (outcome is
    already in 2^20 fixed-point, so contributions are 2^40-scaled)
    and summed as BIGINTs — the chi_square quantize-before-combine
    recipe, immune to cross-engine sum order over the bounded stratum
    axis. The naive (unadjusted) difference is reported alongside for
    the confounding-size contrast.

    Output (one row): n_users, n_treated, n_control, n_strata_used,
    n_strata_dropped, ate (6 dp), naive_diff (6 dp).
    """
    from inception_eventstore_spark.functions.ranking import (
        grouped_row_number,
    )

    per = propensity_user_scores(
        events, user_col=user_col, type_col=type_col,
        value_col=value_col, ts_col=ts_col, weights=weights, fit=fit,
    )
    ranked = grouped_row_number(
        per, [F.col("_s"), F.col("_u")], rank_col="_rk",
        with_group_count="_n",
    )
    st = ranked.select(
        F.expr(f"div((_rk - 1) * {int(n_strata)}, _n)").alias("_st"),
        "_t", "_y", "_n",
    )
    g = st.groupBy("_st").agg(
        F.max("_n").alias("_nu"),
        F.count("*").cast("bigint").alias("_ns"),
        F.sum("_t").cast("bigint").alias("_nt"),
        F.sum(1 - F.col("_t")).cast("bigint").alias("_nc"),
        F.sum(F.when(F.col("_t") == 1, F.col("_y")).otherwise(0))
        .cast("bigint").alias("_syt"),
        F.sum(F.when(F.col("_t") == 0, F.col("_y")).otherwise(0))
        .cast("bigint").alias("_syc"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    ok = (F.col("_nt") > 0) & (F.col("_nc") > 0)
    contrib = (
        d("_ns") * (d("_syt") / d("_nt") - d("_syc") / d("_nc")) / d("_nu")
    )
    agg = g.groupBy().agg(
        F.max("_nu").alias("n_users"),
        F.sum("_nt").cast("bigint").alias("n_treated"),
        F.sum("_nc").cast("bigint").alias("n_control"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("bigint")
        .alias("n_strata_used"),
        F.sum(F.when(ok, 0).otherwise(1)).cast("bigint")
        .alias("n_strata_dropped"),
        F.sum(
            F.when(ok, F.floor(contrib).cast("bigint")).otherwise(0)
        ).cast("bigint").alias("_au"),
        F.sum(F.when(ok, F.col("_syt")).otherwise(0)).cast("bigint")
        .alias("_syt_ok"),
        F.sum(F.when(ok, F.col("_syc")).otherwise(0)).cast("bigint")
        .alias("_syc_ok"),
        F.sum(F.when(ok, F.col("_nt")).otherwise(0)).cast("bigint")
        .alias("_nt_ok"),
        F.sum(F.when(ok, F.col("_nc")).otherwise(0)).cast("bigint")
        .alias("_nc_ok"),
    )
    naive = (
        d("_syt_ok") / d("_nt_ok") - d("_syc_ok") / d("_nc_ok")
    ) / F.lit(1048576.0)
    return agg.select(
        "n_users", "n_treated", "n_control",
        "n_strata_used", "n_strata_dropped",
        (
            F.round(F.col("_au").cast("double") / F.lit(1048576.0), 6)
            + F.lit(0.0)
        ).alias("ate"),
        F.when(
            (F.col("_nt_ok") > 0) & (F.col("_nc_ok") > 0),
            F.round(naive, 6) + F.lit(0.0),
        ).alias("naive_diff"),
    )


def kruskal_wallis(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Kruskal-Wallis H test (Kruskal & Wallis 1952) — the k-group
    generalization of `mann_whitney_u`: do the value distributions of
    ALL event types share a location? One row per group (its size and
    exact rank sum) with the global tie-corrected H repeated, so the
    per-group rank profile and the test statistic travel together.

    Exactness recipe (the mann_whitney_u integer discipline, extended
    to k groups):
    - rank state per DISTINCT value: groupBy(value, group) counts plus
      a per-value re-aggregation; doubles are only grouped/compared,
      never summed;
    - midranks ×2 via `sharded_running_sums` over the distinct-value
      axis (never a single-partition window), joined back to the
      bounded (value, group) cells by value;
    - per-group rank sums R_g (×2 units) are exact BIGINTs
      (Σ n_g(v)·midrank_x2(v) ≤ 2n² — safe to n ≈ 2^31);
    - the tie term Σ(t³−t) uses the base-2^31 LANE decomposition with
      driver-side python-int recombination (the mann_whitney_u /
      logrank pattern — never a BIGINT cube under ANSI mode);
    - H needs Σ_g R_g²/n_g, whose exact integer form overflows at
      n ≈ 55k — so each group's term is ONE fixed-order double of two
      exact BIGINTs, floored to 2^20 micro-units, and the micro-units
      are summed in python ints over the bounded group axis
      (quantize-before-combine): the statistic is bit-reproducible in
      any engine that can floor a correctly-rounded double.

    The bounded k-row readout returns via `local_df` (the km_survival
    driver pattern); only H itself is a double, one fixed-order
    expression rounded 6 dp.

    Output per group: group, n_g, rank_sum_x2, plus the global n,
    tie_sum, h_tied (identical on every row).
    """
    from inception_eventstore_spark.functions.ranking import (
        sharded_running_sums,
    )

    vals = events.where(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    )
    cells = vals.groupBy(
        F.col(value_col).alias("_v"), F.col(group_col).alias("_g")
    ).agg(F.count("*").cast("bigint").alias("_ng"))
    per = cells.groupBy("_v").agg(
        F.sum("_ng").cast("bigint").alias("_nt")
    )
    r = sharded_running_sums(per, [F.col("_v")], ["_nt"])
    mid = r.select(
        "_v",
        (
            2 * (F.col("_nt_cum") - F.col("_nt")) + F.col("_nt") + 1
        ).alias("_mx2"),
        "_nt",
    )
    # tie lanes: (t−1)·t·(t+1) decomposed base-2^31 (every
    # intermediate ≤ 2^62 for t ≤ 2^31) — recombined driver-side
    lane = 1 << 31
    ties = (
        mid.withColumn("_p1", F.expr("(_nt - 1) * _nt"))
        .withColumn("_h1", F.expr(f"div(_p1, {lane})"))
        .withColumn("_l1", F.expr(f"_p1 % {lane}"))
        .withColumn("_bb", F.expr("_l1 * (_nt + 1)"))
        .withColumn(
            "_cc", F.expr(f"_h1 * (_nt + 1) + div(_bb, {lane})")
        )
        .agg(
            F.sum(F.expr(f"_bb % {lane}")).cast("bigint").alias("_s0"),
            F.sum(F.expr(f"_cc % {lane}")).cast("bigint").alias("_s1"),
            F.sum(F.expr(f"div(_cc, {lane})")).cast("bigint")
            .alias("_s2"),
        )
        .collect()[0]
    )
    groups = (
        cells.join(mid.select("_v", "_mx2"), "_v")
        .groupBy("_g")
        .agg(
            F.sum("_ng").cast("bigint").alias("_n_g"),
            F.sum(F.col("_ng") * F.col("_mx2")).cast("bigint")
            .alias("_rs_x2"),
        )
        .collect()
    )
    if not groups:
        raise ValueError("kruskal_wallis: no non-null rows")
    tie_sum = (
        int(ties["_s2"] or 0) * lane * lane
        + int(ties["_s1"] or 0) * lane
        + int(ties["_s0"] or 0)
    )
    if tie_sum >= 1 << 63:
        raise ValueError(
            "kruskal_wallis: tie term exceeds BIGINT — the tie_sum "
            "output column cannot represent it"
        )
    n = sum(int(g["_n_g"]) for g in groups)
    if n < 2:
        # n=1 would divide by n³−n = 0 in the tie correction; match
        # the operator's other degenerate-input guard style.
        raise ValueError(
            "kruskal_wallis: needs at least 2 non-null rows "
            f"(got {n}) — tie correction divides by n^3 - n"
        )
    # Σ_g R_g²/n_g in 2^20 micro-units, floored per group — mirrors
    # the oracle's floor(CAST(rs AS DOUBLE)·CAST(rs AS DOUBLE)
    # / (4.0·CAST(ng AS DOUBLE)) · 1048576.0) exactly
    s_u = 0
    for g in groups:
        rs_d, ng_d = float(int(g["_rs_x2"])), float(int(g["_n_g"]))
        s_u += _math.floor(rs_d * rs_d / (4.0 * ng_d) * 1048576.0)
    n_d = float(n)
    h = (
        12.0 * (float(s_u) / 1048576.0) / (n_d * (n_d + 1.0))
        - 3.0 * (n_d + 1.0)
    )
    denom = 1.0 - float(tie_sum) / (n_d * n_d * n_d - n_d)
    h_tied = h / denom if denom > 0.0 else float("nan")
    rows = sorted(
        (str(g["_g"]), int(g["_n_g"]), int(g["_rs_x2"])) for g in groups
    )
    out = local_df(
        events.sparkSession,
        [(gname, ng, rs, n, tie_sum, h_tied) for gname, ng, rs in rows],
        "grp string, n_g bigint, rank_sum_x2 bigint, n bigint, "
        "tie_sum bigint, h_tied double",
    )
    return out.select(
        "grp", "n_g", "rank_sum_x2", "n", "tie_sum",
        (F.round("h_tied", 6) + F.lit(0.0)).alias("h_tied"),
    )


def spearman_user_corr(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Spearman rank correlation between a user's activity volume
    (event count) and monetary intensity (total value, 2^20
    fixed-point) — the tie-robust monotone-association readout
    (Spearman 1904; Pearson-on-midranks form, the standard
    tie-corrected estimator). Heavy ties are the norm here (most
    users share small event counts), so the d² shortcut formula
    would be WRONG; midranks are required.

    Exactness recipe:
    - per-user covariates are exact BIGINTs (count; floor(v·2^20));
    - each variable's midranks ×2 come from one distinct-value
      rollup + `sharded_running_sums` (never a single-partition
      window), joined back by value — two bounded-axis equi-joins;
    - Σx and Σy need no computation: midranks ×2 over n rows sum to
      exactly n(n+1) BY CONSTRUCTION (asserted in pytest);
    - the cross-moments Σx², Σy², Σxy (each ≤ 4n³ — BIGINT-unsafe
      past n ≈ 1.3M) are decomposed per row into base-2^31 lanes and
      the lane sums recombine DRIVER-SIDE in exact python ints (the
      mann_whitney_u overflow pattern);
    - rho = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)·(n·Syy − Sy²)) is
      evaluated as ONE fixed-order double expression of exact
      integers — python int→float and DuckDB HUGEINT→DOUBLE are both
      correctly rounded, so the doubles agree bit-for-bit.

    Output (one row, via `local_df`): n, sxx, syy, sxy (exact ×4
    rank units; guarded to BIGINT), rho (6 dp).
    """
    from inception_eventstore_spark.functions.ranking import (
        sharded_running_sums,
    )

    per = events.where(F.col(value_col).isNotNull()).groupBy(
        F.col(user_col).alias("_u")
    ).agg(
        F.count("*").cast("bigint").alias("_x"),
        F.sum(
            F.floor(F.col(value_col) * F.lit(1048576.0)).cast("bigint")
        ).cast("bigint").alias("_y"),
    )
    per = per.localCheckpoint(eager=False)  # two rank passes read it

    def midranks(col: str) -> DataFrame:
        ax = per.groupBy(F.col(col).alias("_v")).agg(
            F.count("*").cast("bigint").alias("_nt")
        )
        r = sharded_running_sums(ax, [F.col("_v")], ["_nt"])
        return r.select(
            F.col("_v").alias(col),
            (
                2 * (F.col("_nt_cum") - F.col("_nt")) + F.col("_nt") + 1
            ).alias(f"_m{col}"),
        )

    j = (
        per.join(midranks("_x"), "_x")
        .join(midranks("_y"), "_y")
        .select(F.col("_m_x").alias("_rx"), F.col("_m_y").alias("_ry"))
    )
    lane = 1 << 31
    sums = {}
    lanes = []
    for nm, expr in (("xx", "_rx * _rx"), ("yy", "_ry * _ry"),
                     ("xy", "_rx * _ry")):
        lanes.append(
            F.sum(F.expr(f"({expr}) % {lane}")).cast("bigint")
            .alias(f"_{nm}_lo")
        )
        lanes.append(
            F.sum(F.expr(f"div({expr}, {lane})")).cast("bigint")
            .alias(f"_{nm}_hi")
        )
    row = j.agg(F.count("*").cast("bigint").alias("_n"), *lanes).collect()[0]
    n = int(row["_n"])
    if n < 2:
        raise ValueError("spearman_user_corr: need at least 2 rows")
    for nm in ("xx", "yy", "xy"):
        sums[nm] = int(row[f"_{nm}_hi"]) * lane + int(row[f"_{nm}_lo"])
        if sums[nm] >= 1 << 63:
            raise ValueError(
                f"spearman_user_corr: S{nm} exceeds the BIGINT output "
                "column — reduce n or widen the readout"
            )
    s = n * (n + 1)  # Σ midrank_x2 — exact by construction
    num = n * sums["xy"] - s * s
    dx = n * sums["xx"] - s * s
    dy = n * sums["yy"] - s * s
    rho = (
        float(num) / _math.sqrt(float(dx) * float(dy))
        if dx > 0 and dy > 0 else float("nan")
    )
    out = local_df(
        events.sparkSession,
        [(n, sums["xx"], sums["yy"], sums["xy"], rho)],
        "n bigint, sxx bigint, syy bigint, sxy bigint, rho double",
    )
    return out.select(
        "n", "sxx", "syy", "sxy",
        (F.round("rho", 6) + F.lit(0.0)).alias("rho"),
    )


def cochran_armitage(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    resp_type: str = "purchase",
    max_dose: int = 5,
) -> DataFrame:
    """Cochran-Armitage trend test (Cochran 1954; Armitage 1955) for a
    monotone dose-response: does a user's conversion probability
    (any 'purchase') rise with an ordered exposure dose (active days,
    capped at ``max_dose``)? The one-degree-of-freedom test that a
    k-level chi-square wastes power on when the alternative is
    ordered — the standard readout for engagement-tier funnels.

    With dose scores w_i = i over dose groups (n_i, r_i), n = Σn_i,
    R = Σr_i:

        Z = (n·Σw·r − R·Σw·n)
            / sqrt(R·(n−R)/n · (n·Σw²·n − (Σw·n)²) / n)

    evaluated as the textbook equivalent
        num = n·Σwr − R·Σwn,
        Z   = num / sqrt(R·(n−R)·(n·Σw²n − (Σwn)²) / n)   … all ints.

    Determinism (the kruskal_wallis driver pattern): one user-keyed
    partial-agg rollup, then one bounded groupBy to the ≤ max_dose
    dose axis; the ≤ max_dose exact-integer rows cross to the driver
    where num and the variance term are computed in UNBOUNDED python
    ints (num ≈ w·n² overflows BIGINT past ~40M users — the oracle's
    HUGEINT widening and python ints agree exactly); Z is one
    fixed-order double of exact integers, rounded 6 dp. Output
    integers are guarded against the BIGINT column bound with a clear
    error.

    Output (one row): n_users, n_resp, trend_num (exact), z_ca (6 dp;
    NULL when the variance is zero).
    """
    per = events.groupBy(F.col(user_col).alias("_u")).agg(
        F.least(
            F.countDistinct(F.to_date(F.col(ts_col))).cast("bigint"),
            F.lit(int(max_dose)).cast("bigint"),
        ).alias("_w"),
        F.max(
            F.when(F.col(type_col) == resp_type, 1).otherwise(0)
        ).cast("bigint").alias("_r"),
    )
    dose = per.groupBy("_w").agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum("_r").cast("bigint").alias("_rr"),
    ).collect()
    if not dose:
        raise ValueError("cochran_armitage: no rows")
    n = sum(int(d["_n"]) for d in dose)
    r_tot = sum(int(d["_rr"]) for d in dose)
    swr = sum(int(d["_w"]) * int(d["_rr"]) for d in dose)
    swn = sum(int(d["_w"]) * int(d["_n"]) for d in dose)
    sw2n = sum(int(d["_w"]) * int(d["_w"]) * int(d["_n"]) for d in dose)
    num = n * swr - r_tot * swn
    var_num = r_tot * (n - r_tot) * (n * sw2n - swn * swn)
    if abs(num) >= 1 << 63:
        raise ValueError(
            "cochran_armitage: trend numerator exceeds the BIGINT "
            "output column"
        )
    z = (
        float(num) / _math.sqrt(float(var_num) / float(n))
        if var_num > 0 else None
    )
    out = local_df(
        events.sparkSession,
        [(n, r_tot, num, z)],
        "n_users bigint, n_resp bigint, trend_num bigint, z_ca double",
    )
    return out.select(
        "n_users", "n_resp", "trend_num",
        (F.round("z_ca", 6) + F.lit(0.0)).alias("z_ca"),
    )


def simpsons_check(
    events: DataFrame,
    group_a: str = "click",
    group_b: str = "purchase",
    type_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Simpson's-paradox audit (Simpson 1951; the Blyth 1972 framing):
    does the aggregate mean-value gap between two event groups keep
    its SIGN inside every weekday stratum? A metric whose aggregate
    direction flips under an obvious stratification should never ship
    as a topline — this is the one-glance diagnostic.

    Stratum = the portable epoch-Monday weekday (the chi_square
    convention). Per stratum: exact BIGINT counts and 2^20
    fixed-point value sums; the stratum and aggregate mean gaps are
    fixed-order doubles of exact integers FLOORED to micro-units
    (quantize-before-anything, so the sign tests compare exact
    BIGINTs — no float comparison crosses the engine boundary).
    Strata with an empty arm report NULL gap and don't count as
    reversals.

    Output per stratum: stratum, n_a, n_b, gap_u (micro-units, NULL
    when an arm is empty), agg_gap_u (repeated), reversed (1 when the
    stratum gap's sign opposes a nonzero aggregate gap), plus
    n_reversed repeated — the headline: n_reversed > 0 means the
    topline is confounded.
    """
    vals = events.where(
        F.col(type_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.pmod(
            F.datediff(
                F.to_date(F.col(ts_col)), F.to_date(F.lit("1970-01-05"))
            ),
            F.lit(7),
        ).cast("bigint").alias("_st"),
        F.when(F.col(type_col) == group_a, F.lit(1)).otherwise(F.lit(0))
        .cast("bigint").alias("_a"),
        F.floor(F.col(value_col) * F.lit(1048576.0)).cast("bigint")
        .alias("_v"),
    )
    g = vals.groupBy("_st").agg(
        F.sum("_a").cast("bigint").alias("n_a"),
        F.sum(1 - F.col("_a")).cast("bigint").alias("n_b"),
        F.sum(F.col("_a") * F.col("_v")).cast("bigint").alias("_sva"),
        F.sum((1 - F.col("_a")) * F.col("_v")).cast("bigint")
        .alias("_svb"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    gap_u = F.floor(d("_sva") / d("n_a") - d("_svb") / d("n_b")).cast(
        "bigint"
    )
    per = g.select(
        "_st", "n_a", "n_b", "_sva", "_svb",
        F.when(ok, gap_u).alias("gap_u"),
    )
    agg = per.groupBy().agg(
        F.sum("n_a").cast("bigint").alias("_ta"),
        F.sum("n_b").cast("bigint").alias("_tb"),
        F.sum("_sva").cast("bigint").alias("_tva"),
        F.sum("_svb").cast("bigint").alias("_tvb"),
    ).select(
        F.floor(d("_tva") / d("_ta") - d("_tvb") / d("_tb"))
        .cast("bigint").alias("agg_gap_u")
    )
    j = per.crossJoin(F.broadcast(agg)).select(
        F.col("_st").alias("stratum"),
        "n_a", "n_b", "gap_u", "agg_gap_u",
        F.when(
            F.col("gap_u").isNotNull()
            & (F.col("agg_gap_u") != 0)
            & (
                (F.col("gap_u") > 0) & (F.col("agg_gap_u") < 0)
                | (F.col("gap_u") < 0) & (F.col("agg_gap_u") > 0)
            ),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("bigint").alias("reversed"),
    )
    tot = j.groupBy().agg(
        F.sum("reversed").cast("bigint").alias("n_reversed")
    )
    return (
        j.crossJoin(F.broadcast(tot))
        .select(
            "stratum", "n_a", "n_b", "gap_u", "agg_gap_u",
            "reversed", "n_reversed",
        )
        .orderBy("stratum")
    )


# ---------------------------------------------------------------------------
# r9 additions: classical test-statistic readouts on the event log
# ---------------------------------------------------------------------------


def _group_moments(
    vals: DataFrame, group_col: Column, value_col: str
) -> DataFrame:
    """Per-group exact integer moments of q = floor(value·2^20):
    (n, Σq, Σq² in two base-2^31 lanes). q ≤ 2^31.5 is guarded
    in-expression so p = q·q is exact (≤ 2^63); the lane sums are
    BIGINT-safe to n ≈ 2^31 rows per group (s0 ≤ n·2^31) — the
    mann_whitney_u / kruskal_wallis lane recipe, recombined
    driver-side in unbounded python ints (equal to the oracle's
    HUGEINT sum by exactness of both)."""
    return _int_group_moments(
        vals.withColumn(
            "_qv", F.floor(F.col(value_col) * 1048576.0).cast("bigint")
        ),
        group_col,
    )


def _int_group_moments(vals: DataFrame, group_col: Column) -> DataFrame:
    """The integer half of `_group_moments`: per-group (n, Σq, Σq²
    lanes) over a prepared BIGINT ``_qv`` column — shared with
    operators whose quantity is already an exact integer (e.g.
    Brown-Forsythe's absolute deviations)."""
    lane = 1 << 31
    q = F.expr(
        "CASE WHEN abs(_qv) <= 3037000499 THEN _qv ELSE raise_error("
        "'group moments: |q| exceeds 3037000499 — "
        "q*q would overflow BIGINT') END"
    )
    return (
        vals.withColumn("_q", q)
        .withColumn("_p", F.expr("_q * _q"))
        .groupBy(group_col.alias("_g"))
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum("_q").cast("bigint").alias("_s"),
            F.sum(F.expr(f"_p % {lane}")).cast("bigint").alias("_p0"),
            F.sum(F.expr(f"div(_p, {lane})")).cast("bigint").alias("_p1"),
        )
    )


def _anova_fold(groups: list) -> tuple[int, int, float | None]:
    """Driver fold shared by `anova_oneway` / `brown_forsythe`:
    (n, k, F) from the bounded per-group moment rows — micro-unit
    quantize-before-combine, one fixed-order double ratio."""
    lane = 1 << 31
    k = len(groups)
    n = sum(int(g["_n"]) for g in groups)
    s_tot = sum(int(g["_s"]) for g in groups)
    sq2 = sum(int(g["_p0"]) + int(g["_p1"]) * lane for g in groups)
    a_u = 0
    for g in groups:
        s_d, n_d = float(int(g["_s"])), float(int(g["_n"]))
        a_u += _math.floor(s_d * s_d / n_d * 1048576.0)
    ssb_u = a_u - _math.floor(
        float(s_tot) * float(s_tot) / float(n) * 1048576.0
    )
    ssw_u = sq2 * 1048576 - a_u
    f_stat = None
    if k >= 2 and n > k and ssw_u > 0:
        f_stat = (float(ssb_u) / float(k - 1)) / (
            float(ssw_u) / float(n - k)
        )
    return n, k, f_stat


def anova_oneway(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """One-way analysis of variance (Fisher): does mean ``value``
    differ across ``group_col`` levels? The parametric sibling of
    :func:`kruskal_wallis` — more power when the response is roughly
    normal, and the standard first readout for k-arm experiments.

    Determinism (the kruskal_wallis driver pattern): per-group exact
    integer moments of q = floor(value·2^20) via `_group_moments`
    (Σq² in base-2^31 lanes, recombined driver-side in python ints —
    bit-equal to the oracle's HUGEINT sums); each group's S_g²/n_g
    term is ONE fixed-order double of two exact ints floored to 2^20
    micro-units and summed over the bounded group axis
    (quantize-before-combine), so

        ssb_u = Σ_g floor(S_g²/n_g · 2^20) − floor(S²/n · 2^20)
        ssw_u = (Σq²)·2^20 − Σ_g floor(S_g²/n_g · 2^20)

    are exact integers on both engines, and F is one fixed-order
    double ratio of them. Output (one row): n_rows, k_groups,
    f_stat (6 dp; NULL when k < 2, n ≤ k, or ssw ≤ 0).
    """
    vals = events.where(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    )
    groups = _group_moments(vals, F.col(group_col), value_col).collect()
    if not groups:
        raise ValueError("anova_oneway: no non-null rows")
    if len(groups) > 100_000:
        raise ValueError(
            f"anova_oneway: {len(groups)} groups — the bounded-axis "
            "driver fold expects a categorical group column"
        )
    n, k, f_stat = _anova_fold(groups)
    out = local_df(
        events.sparkSession,
        [(n, k, f_stat)],
        "n_rows bigint, k_groups bigint, f_stat double",
    )
    return out.select(
        "n_rows", "k_groups",
        (F.round("f_stat", 6) + F.lit(0.0)).alias("f_stat"),
    )


def welch_ttest(
    events: DataFrame,
    group_a: str = "click",
    group_b: str = "purchase",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Welch's unequal-variance two-sample t test (Welch 1947) between
    the ``value`` distributions of two event types — the default
    two-arm comparison when variances differ (and the test the classic
    pooled t silently gets wrong when they do). Reports the
    Welch-Satterthwaite effective degrees of freedom alongside t.

    Determinism: the same `_group_moments` exact-integer machinery as
    :func:`anova_oneway` (Σq² lanes, python-int recombination); means,
    variances, t and df are ONE fixed-order double expression tree of
    the six exact integers, mirrored token-for-token in the oracle —
    int→double is correctly rounded on both engines, and t's square
    root keeps the 6-dp rounding off rational half-boundaries.

    Output (one row): n_a, n_b, t_welch (6 dp), df_welch (6 dp; both
    NULL when either arm has < 2 rows or zero variance-sum).
    """
    vals = events.where(
        F.col(type_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )
    lane = 1 << 31
    rows = {
        str(g["_g"]): g
        for g in _group_moments(vals, F.col(type_col), value_col).collect()
    }
    ga, gb = rows.get(group_a), rows.get(group_b)
    n_a = int(ga["_n"]) if ga else 0
    n_b = int(gb["_n"]) if gb else 0
    t_w = df_w = None
    if n_a >= 2 and n_b >= 2:
        def _mv(g, n):
            s_d, n_d = float(int(g["_s"])), float(n)
            q2 = float(int(g["_p0"]) + int(g["_p1"]) * lane)
            m = s_d / n_d
            v = (q2 - s_d * s_d / n_d) / float(n - 1)
            return m, v

        m_a, v_a = _mv(ga, n_a)
        m_b, v_b = _mv(gb, n_b)
        se_a, se_b = v_a / float(n_a), v_b / float(n_b)
        se2 = se_a + se_b
        if se2 > 0.0:
            t_w = (m_a - m_b) / _math.sqrt(se2)
            df_w = (se2 * se2) / (
                se_a * se_a / float(n_a - 1)
                + se_b * se_b / float(n_b - 1)
            )
    out = local_df(
        events.sparkSession,
        [(n_a, n_b, t_w, df_w)],
        "n_a bigint, n_b bigint, t_welch double, df_welch double",
    )
    return out.select(
        "n_a", "n_b",
        (F.round("t_welch", 6) + F.lit(0.0)).alias("t_welch"),
        (F.round("df_welch", 6) + F.lit(0.0)).alias("df_welch"),
    )


def mcnemar_paired(
    events: DataFrame,
    type_a: str = "click",
    type_b: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """McNemar's test (1947) for paired binary outcomes: per user, did
    they ever emit ``type_a`` vs ever emit ``type_b``? Only the
    DISCORDANT users (one behaviour without the other) carry
    information, and χ² = (b−c)²/(b+c) over those — the standard
    paired comparison for two classifiers / two funnel steps measured
    on the same population.

    Fully integer: one user-keyed partial-agg rollup, one 4-cell
    aggregate; the statistic is reported in exact 2^20 micro-units
    via integer division (`div((b−c)²·2^20, b+c)`) so no double — and
    no cross-engine rounding — exists anywhere. (b−c)²·2^20 is exact
    BIGINT for |b−c| ≤ 2^21 discordant users; guarded.

    Output (one row): n_users, b_disc, c_disc, chi2_u (micro-units;
    NULL when b + c = 0).
    """
    per = events.groupBy(F.col(user_col).alias("_u")).agg(
        F.max(F.when(F.col(type_col) == type_a, 1).otherwise(0))
        .cast("bigint").alias("_a"),
        F.max(F.when(F.col(type_col) == type_b, 1).otherwise(0))
        .cast("bigint").alias("_b"),
    )
    row = per.agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum(
            ((F.col("_a") == 1) & (F.col("_b") == 0)).cast("bigint")
        ).cast("bigint").alias("_bd"),
        F.sum(
            ((F.col("_a") == 0) & (F.col("_b") == 1)).cast("bigint")
        ).cast("bigint").alias("_cd"),
    ).first()
    n, bd, cd = int(row["_n"]), int(row["_bd"] or 0), int(row["_cd"] or 0)
    if abs(bd - cd) >= 1 << 21:
        raise ValueError(
            "mcnemar_paired: (b-c)^2 * 2^20 exceeds BIGINT — more than "
            "2^21 net-discordant users"
        )
    chi2_u = (
        ((bd - cd) * (bd - cd) * 1048576) // (bd + cd)
        if bd + cd > 0 else None
    )
    return local_df(
        events.sparkSession,
        [(n, bd, cd, chi2_u)],
        "n_users bigint, b_disc bigint, c_disc bigint, chi2_u bigint",
    )


def _count_inversions(a: list) -> int:
    """Exact count of strict inversions (pairs i<j with a[i] > a[j])
    via bottom-up merge sort — O(n log n) python ints, no recursion
    depth limit, no float anywhere."""
    n = len(a)
    inv = 0
    src = list(a)
    buf = [0] * n
    width = 1
    while width < n:
        for lo in range(0, n, 2 * width):
            mid = min(lo + width, n)
            hi = min(lo + 2 * width, n)
            if mid >= hi or src[mid - 1] <= src[mid]:
                continue  # halves already ordered — nothing to merge
            i, j, k = lo, mid, lo
            while i < mid and j < hi:
                if src[i] <= src[j]:
                    buf[k] = src[i]
                    i += 1
                else:
                    buf[k] = src[j]
                    inv += mid - i
                    j += 1
                k += 1
            buf[k:k + (mid - i)] = src[i:mid]
            k += mid - i
            buf[k:k + (hi - j)] = src[j:hi]
            src[lo:hi] = buf[lo:hi]
        width *= 2
    return inv


def kendall_tau_daily(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Kendall's τ-b between daily event volume and daily distinct
    users over the observation span — the fully tie-corrected monotone
    association on the BOUNDED day axis (the third rank-correlation
    lens next to spearman_user_corr / mann_kendall, and the robust
    choice when the axis is short enough that every pair can be
    examined exactly).

    Exactness: the day rollup (count, distinct users — both exact
    BIGINTs) is bounded by the calendar and crosses to the driver (the
    km_survival pattern), where concordant/discordant/tie counts are
    exact python ints via Knight's O(D log D) algorithm (Knight 1966,
    JASA): sort by (x, y), count discordant pairs as strict merge-sort
    inversions on y, recover concordant from the tie identity
    nc = n0 − nd − tx − ty + txy — bit-identical integers to the naive
    all-pairs sweep (property-tested), no O(D²) loop and no day cap;
    τ-b's denominator sqrt((n0−n1)(n0−n2)) is IEEE-correctly-rounded
    on both engines, so the reported integer
    `tau_ppm = floor(num·10^6 / sqrt(...))` is deterministic (floor of
    a bit-identical double — the pq.py quantization convention, no
    round() half-boundary anywhere).

    Output (one row): n_days, n_pairs, concordant, discordant,
    tie_x, tie_y, tau_ppm (NULL when either axis is fully tied).
    """
    per_day = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("_d"))
        .agg(
            F.count("*").cast("bigint").alias("_x"),
            F.countDistinct(F.col(user_col)).cast("bigint").alias("_y"),
        )
        .collect()
    )
    if not per_day:
        raise ValueError("kendall_tau_daily: no rows")
    days = sorted((int(r["_x"]), int(r["_y"])) for r in per_day)
    d = len(days)
    from collections import Counter

    # Knight 1966: with rows sorted by (x, y), a strict inversion on y
    # is exactly a pair with x_i < x_j and y_i > y_j (x-tied groups
    # arrive y-sorted, contributing zero), i.e. the discordant count.
    nd = _count_inversions([y for _, y in days])
    tx = sum(t * (t - 1) // 2 for t in Counter(x for x, _ in days).values())
    ty = sum(t * (t - 1) // 2 for t in Counter(y for _, y in days).values())
    txy = sum(t * (t - 1) // 2 for t in Counter(days).values())
    n0 = d * (d - 1) // 2
    # every pair is concordant, discordant, or tied in x and/or y;
    # inclusion-exclusion on the tie classes recovers concordant
    nc = n0 - nd - tx - ty + txy
    tau_ppm = None
    if n0 - tx > 0 and n0 - ty > 0:
        denom = _math.sqrt(float(n0 - tx) * float(n0 - ty))
        tau_ppm = _math.floor(float(nc - nd) * 1000000.0 / denom)
    return local_df(
        events.sparkSession,
        [(d, n0, nc, nd, tx, ty, tau_ppm)],
        "n_days bigint, n_pairs bigint, concordant bigint, "
        "discordant bigint, tie_x bigint, tie_y bigint, tau_ppm bigint",
    )


def brown_forsythe(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Brown-Forsythe test (1974) for equality of variances across
    groups: one-way ANOVA on the absolute deviations from each
    group's MEDIAN — the robust (median-centered) Levene variant, and
    the pre-check that decides whether the classic pooled t/F is even
    admissible. Reported F large ⇒ spreads differ.

    Determinism: q = floor(value·2^20) exact BIGINT; the group median
    is the LOW median (value at row k = (n+1) div 2 under
    (q, id) order) — computed with `grouped_row_number` (two-phase
    shard rank, never a per-group single task) and well-defined under
    ties because the k-th ORDER STATISTIC by value does not depend on
    tie order; deviations |q − med_g| are exact integers fed to the
    shared `_int_group_moments` + `_anova_fold` machinery (Σd² lanes,
    micro-unit quantize-before-combine, one fixed-order F).

    Scale: one rank pass over the grouped values (bounded |groups|-row
    median table broadcast back), one moment rollup, driver fold on
    the bounded group axis. Output (one row): n_rows, k_groups,
    f_bf (6 dp; NULL when k < 2, n ≤ k, or zero within-spread).
    """
    from inception_eventstore_spark.functions.ranking import (
        grouped_row_number,
    )

    vals = events.where(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.floor(F.col(value_col) * 1048576.0).cast("bigint").alias("_qv"),
        F.col(id_col).alias("_id"),
    )
    ranked = grouped_row_number(
        vals,
        order_cols=[F.col("_qv").asc(), F.col("_id").asc()],
        group_cols=["_g"],
        rank_col="_r",
        with_group_count="_ng",
    )
    med = ranked.where(
        F.col("_r") == F.expr("div(_ng + 1, 2)")
    ).select("_g", F.col("_qv").alias("_med"))
    dev = vals.join(F.broadcast(med), "_g").select(
        "_g", F.abs(F.col("_qv") - F.col("_med")).alias("_qv")
    )
    groups = _int_group_moments(dev, F.col("_g")).collect()
    if not groups:
        raise ValueError("brown_forsythe: no non-null rows")
    if len(groups) > 100_000:
        raise ValueError(
            f"brown_forsythe: {len(groups)} groups — the bounded-axis "
            "driver fold expects a categorical group column"
        )
    n, k, f_stat = _anova_fold(groups)
    out = local_df(
        events.sparkSession,
        [(n, k, f_stat)],
        "n_rows bigint, k_groups bigint, f_bf double",
    )
    return out.select(
        "n_rows", "k_groups",
        (F.round("f_bf", 6) + F.lit(0.0)).alias("f_bf"),
    )


def cohens_d_effect(
    events: DataFrame,
    group_a: str = "click",
    group_b: str = "purchase",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Standardized effect size between two arms: Cohen's d (pooled-SD
    mean difference) and the small-sample-corrected Hedges' g — the
    number a significance test (welch_ttest) does NOT give you: how
    BIG the difference is, which is what a launch decision actually
    needs once n is large enough to make any difference "significant".

    Determinism: the same `_group_moments` exact-integer machinery as
    welch_ttest/anova; d and g are one fixed-order double tree of the
    six exact integers (pooled variance, then a square root — so the
    6-dp rounding sits on an irrational, never a rational
    half-boundary), mirrored token-for-token in the oracle.

    Output (one row): n_a, n_b, cohens_d (6 dp), hedges_g (6 dp; both
    NULL when either arm has < 2 rows or the pooled variance is 0).
    """
    vals = events.where(
        F.col(type_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )
    lane = 1 << 31
    rows = {
        str(g["_g"]): g
        for g in _group_moments(vals, F.col(type_col), value_col).collect()
    }
    ga, gb = rows.get(group_a), rows.get(group_b)
    n_a = int(ga["_n"]) if ga else 0
    n_b = int(gb["_n"]) if gb else 0
    d_val = g_val = None
    if n_a >= 2 and n_b >= 2:
        def _mv(g, n):
            s_d, n_d = float(int(g["_s"])), float(n)
            q2 = float(int(g["_p0"]) + int(g["_p1"]) * lane)
            m = s_d / n_d
            v = (q2 - s_d * s_d / n_d) / float(n - 1)
            return m, v

        m_a, v_a = _mv(ga, n_a)
        m_b, v_b = _mv(gb, n_b)
        sp2 = (
            float(n_a - 1) * v_a + float(n_b - 1) * v_b
        ) / float(n_a + n_b - 2)
        if sp2 > 0.0:
            d_val = (m_a - m_b) / _math.sqrt(sp2)
            g_val = d_val * (
                1.0 - 3.0 / (4.0 * float(n_a + n_b) - 9.0)
            )
    out = local_df(
        events.sparkSession,
        [(n_a, n_b, d_val, g_val)],
        "n_a bigint, n_b bigint, cohens_d double, hedges_g double",
    )
    return out.select(
        "n_a", "n_b",
        (F.round("cohens_d", 6) + F.lit(0.0)).alias("cohens_d"),
        (F.round("hedges_g", 6) + F.lit(0.0)).alias("hedges_g"),
    )


def wilcoxon_signed_rank(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Wilcoxon signed-rank test (Wilcoxon 1945) on PAIRED per-user
    totals: each user's value sum BEFORE the global time midpoint vs
    AFTER it — the non-parametric paired alternative to a paired t
    (mann_whitney_u is the unpaired cousin; mcnemar_paired the binary
    one). Large |z| ⇒ the within-user before/after shift is systematic.

    Exactness: the midpoint is integer microseconds div 2 of
    (min_ts + max_ts); per-user pre/post sums are rounded at 6 dp then
    floor-quantized to 2^20 micro-units (the cross-engine money
    contract), so the paired difference d is an exact BIGINT. Zero
    differences drop (the classic convention). Ranks of |d| use
    AVERAGE ranks doubled — for a tie group spanning ranks lo..hi the
    doubled average is lo + hi, an exact integer — computed as one
    groupBy(|d|) + the two-phase `sharded_running_sums` prefix (never
    a single-partition window). With S2 = 2·ΣW⁺ and the tie term
    T = Σ(t³ − t):

        z = (2·S2 − n(n+1)) / sqrt((2·n(n+1)(2n+1) − T) / 3)

    — every input an exact integer, so z is a bit-identical double on
    both engines, rounded 6 dp. Output one row:
    (n_pairs, s2_pos, tie_cube, z_ppm = floor(z·10^6) — NULL when the
    variance is 0).

    Overflow guards: n < 2^21 keeps n(n+1)(2n+1) < 2^63; tie groups
    are capped at 10^5 members (quantized nonzero diffs tying 100k
    deep means the value column is degenerate — pre-bucket it)."""
    from inception_eventstore_spark.functions.ranking import (
        sharded_running_sums,
    )

    ev = events.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    )
    b = ev.agg(
        F.min(F.unix_micros(F.col(ts_col))).alias("_lo"),
        F.max(F.unix_micros(F.col(ts_col))).alias("_hi"),
    ).first()
    if b["_lo"] is None:
        raise ValueError("wilcoxon_signed_rank: no rows")
    mid = (int(b["_lo"]) + int(b["_hi"])) // 2
    q = lambda c: F.floor(F.round(c, 6) * F.lit(float(1 << 20))).cast(  # noqa: E731
        "bigint"
    )
    per_user = (
        ev.groupBy(F.col(user_col).alias("_u"))
        .agg(
            F.sum(
                F.when(
                    F.unix_micros(F.col(ts_col)) < mid, F.col(value_col)
                ).otherwise(F.lit(0.0))
            ).alias("_pre"),
            F.sum(
                F.when(
                    F.unix_micros(F.col(ts_col)) >= mid, F.col(value_col)
                ).otherwise(F.lit(0.0))
            ).alias("_post"),
        )
        .select((q(F.col("_post")) - q(F.col("_pre"))).alias("_d"))
        .where(F.col("_d") != 0)
    )
    grp = per_user.groupBy(
        F.abs(F.col("_d")).alias("_ad")
    ).agg(
        F.count("*").cast("bigint").alias("_t"),
        F.sum(F.when(F.col("_d") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("_tpos"),
    )
    stepped = sharded_running_sums(grp, [F.col("_ad")], ["_t"])
    row = stepped.select(
        "_t",
        "_tpos",
        # doubled average rank of the tie group at |d|: prefix-before
        # is the inclusive cumsum minus the group size
        (2 * (F.col("_t_cum") - F.col("_t")) + F.col("_t") + 1).alias(
            "_r2"
        ),
    ).agg(
        F.sum("_t").cast("bigint").alias("n"),
        F.sum(F.col("_r2") * F.col("_tpos")).cast("bigint").alias("s2"),
        F.sum(F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t"))
        .cast("bigint")
        .alias("tc"),
        F.max("_t").cast("bigint").alias("_tmax"),
    ).first()
    n = int(row["n"] or 0)
    if n == 0:
        return local_df(
            events.sparkSession,
            [(0, 0, 0, None)],
            "n_pairs bigint, s2_pos bigint, tie_cube bigint, z_ppm bigint",
        )
    if n >= 1 << 21:
        raise ValueError(
            f"wilcoxon_signed_rank: {n} pairs — n(n+1)(2n+1) would "
            "overflow BIGINT past 2^21 pairs"
        )
    if int(row["_tmax"]) > 100_000:
        raise ValueError(
            "wilcoxon_signed_rank: a quantized |d| tie group exceeds "
            "1e5 members — the value column is degenerate at 2^20 "
            "micro-units; pre-bucket or rescale it"
        )
    s2, tc = int(row["s2"]), int(row["tc"])
    a = 2 * n * (n + 1) * (2 * n + 1) - tc
    z_ppm = None
    if a > 0:
        # floor of a bit-identical double (the pq.py quantization
        # convention) — never round(), which can split engines at an
        # exact 6-dp half boundary
        z_ppm = _math.floor(
            float(2 * s2 - n * (n + 1)) / _math.sqrt(a / 3.0) * 1e6
        )
    return local_df(
        events.sparkSession,
        [(n, s2, tc, z_ppm)],
        "n_pairs bigint, s2_pos bigint, tie_cube bigint, z_ppm bigint",
    )


def hill_tail_index(
    df: DataFrame,
    value_col: str,
    k: int = 100,
) -> DataFrame:
    """Hill estimator (Hill 1975) of the power-law tail index over the
    top-k order statistics of a positive integer column — the standard
    heavy-tail diagnostic for document lengths, degree distributions
    and token frequencies (alpha ≈ 1 ⇒ Zipf-like; small alpha ⇒ the
    tail dominates aggregates and per-key work needs skew handling).

        H = (1/k) Σ_{i=1..k} ln(x_(i) / x_(k+1)),   alpha = 1/H

    Exactness: the top k+1 VALUES are an order-unambiguous multiset
    (ties don't matter — only values enter), fetched with a TakeOrdered
    (per-partition top-k + driver merge, no global sort); the ln fold
    runs driver-side in rank order, mirrored by the oracle's
    list_reduce over the identically-ordered list, so H is a
    bit-identical double and the ppm floors are safe. Output one row:
    (k, x_tail, hill_ppm, alpha_ppm — NULL when the top k+1 values are
    all equal)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    tops = [
        int(r["_x"])
        for r in df.where(F.col(value_col) > 0)
        .select(F.col(value_col).cast("bigint").alias("_x"))
        .orderBy(F.col("_x").desc())
        .limit(k + 1)
        .collect()
    ]
    if len(tops) < k + 1:
        raise ValueError(
            f"hill_tail_index: need {k + 1} positive values, "
            f"got {len(tops)}"
        )
    xk = float(tops[k])
    acc = 0.0
    for x in tops[:k]:
        acc += _math.log(float(x) / xk)
    hm = acc / float(k)
    hill_ppm = _math.floor(hm * 1e6)
    alpha_ppm = _math.floor(1e6 / hm) if hm > 0 else None
    return local_df(
        df.sparkSession,
        [(k, int(tops[k]), hill_ppm, alpha_ppm)],
        "k bigint, x_tail bigint, hill_ppm bigint, alpha_ppm bigint",
    )


def hhi_concentration(
    df: DataFrame,
    group_col: str,
    member_col: str,
) -> DataFrame:
    """Herfindahl–Hirschman concentration of row-count shares per
    group: hhi = Σ_i share_i² over the members of each group, reported
    in ppm next to CR1 (the largest member's share) — the standard
    market/supplier/source concentration gauge (10⁶ = monopoly;
    antitrust's 2500-point line = 25 000 ppm here × 100). For corpus
    work: is a nation's supply (or a language's crawl) dominated by
    one source?

        (group, n_members, total, hhi_ppm, cr1_ppm)

    Exactness: member counts are exact BIGINTs; squares stay exact
    BIGINT under the in-expression guard total ≤ 3 037 000 499 (the
    chi_square bound — beyond it pre-aggregate or sample), summed as
    DECIMAL(38,0) so millions of members cannot overflow; the final
    ratio is (double(Σc²) / (double(C)·double(C)))·10⁶ floored — all
    inputs exact integers, so the double is bit-identical cross-engine
    and the floor is safe. cr1 is pure integer division. One
    partial-aggregated rollup to (group, member) then one to group —
    the corpus shuffles once on the pair key."""
    c = df.groupBy(
        F.col(group_col).alias("grp"), F.col(member_col).alias("_m")
    ).agg(F.count("*").cast("bigint").alias("_c"))
    # _c is cast to DECIMAL(38,0) BEFORE the square (ADVICE r10): a
    # BIGINT _c * _c would hit an ANSI overflow inside the aggregate
    # for any member count > ~3.03e9, firing before the raise_error
    # guard below ever evaluates — the decimal square is exact up to
    # 1e19² and leaves the guard as the only failure mode.
    c_dec = F.col("_c").cast("decimal(38,0)")
    per = c.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("_c").cast("bigint").alias("total"),
        F.sum(c_dec * c_dec).alias("_sq"),
        F.max("_c").cast("bigint").alias("_mx"),
    )
    tot_checked = F.expr(
        "if(total <= 3037000499, total, raise_error(concat("
        "'hhi_concentration: group total = ', total, "
        "' exceeds the exact-BIGINT bound 3037000499 "
        "(member-count squares would overflow)')))"
    )
    return per.select(
        F.col("grp").alias(group_col),
        "n_members",
        "total",
        F.floor(
            (
                F.col("_sq").cast("double")
                / (
                    tot_checked.cast("double")
                    * F.col("total").cast("double")
                )
            )
            * F.lit(1000000.0)
        ).cast("bigint").alias("hhi_ppm"),
        # decimal multiply for the same reason as _sq: `_mx * 1000000`
        # in BIGINT overflows (before the guard can fire) once the
        # largest member exceeds ~9.2e12 rows
        F.expr(
            "cast(div(cast(_mx as decimal(38,0)) * 1000000, total) "
            "as bigint)"
        ).alias("cr1_ppm"),
    )


def sprt_daily(
    events: DataFrame,
    p0: float,
    p1: float,
    success_type: str = "purchase",
    type_col: str = "event_type",
    ts_col: str = "ts",
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald's Sequential Probability Ratio Test (Wald 1945) on the
    daily success rate: each day's events are Bernoulli trials
    (success = ``success_type``), and the cumulative log-likelihood
    ratio of H1: p = p1 vs H0: p = p0 decides as data ARRIVES —
    the always-valid sequential monitor that stops experiments early
    instead of waiting for a fixed horizon:

        LLR_t = X_t·ln(p1/p0) + (N_t − X_t)·ln((1−p1)/(1−p0))
        accept H1 when LLR ≥ ln((1−β)/α); H0 when ≤ ln(β/(1−α)).

    Determinism: X_t/N_t are exact BIGINT running sums over the
    calendar-bounded day rollup (two-phase `sharded_running_sums`,
    never a single-partition window); the two ln constants are
    computed ONCE driver-side and embedded as literals — the oracle
    embeds the repr() of the same doubles, so LLR is one fixed-order
    double expression with identical inputs on both engines; reported
    as floor(LLR·10⁶). The per-day decision flag is the state AT that
    day (the first 'h1'/'h0' day is where a live monitor would stop).

    Output per day: (day, n_cum, x_cum, llr_ppm, decision)."""
    from inception_eventstore_spark.functions.ranking import (
        sharded_running_sums,
    )

    if not (0.0 < p0 < 1.0 and 0.0 < p1 < 1.0 and p0 != p1):
        raise ValueError("need 0 < p0, p1 < 1 and p0 != p1")
    a_const = _math.log(p1 / p0)
    b_const = _math.log((1.0 - p1) / (1.0 - p0))
    hi = _math.log((1.0 - beta) / alpha)
    lo = _math.log(beta / (1.0 - alpha))
    daily = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum(
                (F.col(type_col) == success_type).cast("int")
            ).cast("bigint").alias("_x"),
        )
    )
    stepped = sharded_running_sums(daily, [F.col("day")], ["_n", "_x"])
    llr = (
        F.col("_x_cum").cast("double") * F.lit(a_const)
        + (F.col("_n_cum") - F.col("_x_cum")).cast("double")
        * F.lit(b_const)
    )
    return stepped.select(
        "day",
        F.col("_n_cum").alias("n_cum"),
        F.col("_x_cum").alias("x_cum"),
        F.floor(llr * F.lit(1000000.0)).cast("bigint").alias("llr_ppm"),
        F.when(llr >= F.lit(hi), F.lit("h1"))
        .when(llr <= F.lit(lo), F.lit("h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


def capture_recapture(
    snap_a: DataFrame,
    snap_b: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Chapman capture-recapture estimate (Chapman 1951) of the true
    population size from two OVERLAPPING samples — how big is the real
    corpus/user base when each crawl/snapshot sees only part of it?
    Marking is the id: an item "recaptured" in snapshot B is one whose
    id already appeared in snapshot A.

        N̂ = ((n_a + 1)(n_b + 1)) div (m + 1) − 1,  m = |A ∩ B|

    (the bias-corrected Chapman form — defined even at m = 0, unlike
    the raw Lincoln–Petersen n_a·n_b/m). All quantities are exact
    BIGINT counts and one integer division, so the estimate replays
    exactly in SQL. Output one row: (n_a, n_b, n_both, n_hat).

    Scale: two distinct-id aggregations and one semi-join on the id —
    the snapshots shuffle once each on the 8-byte key. Guard:
    n_a, n_b < 3.03e9 keeps the (n_a+1)(n_b+1) product exact BIGINT
    (in-expression, the chi_square convention)."""
    a = snap_a.select(F.col(id_col).alias("_id")).distinct()
    b = snap_b.select(F.col(id_col).alias("_id")).distinct()
    na = a.agg(F.count("*").cast("bigint").alias("n_a"))
    nb = b.agg(F.count("*").cast("bigint").alias("n_b"))
    m = a.join(b, "_id", "leftsemi").agg(
        F.count("*").cast("bigint").alias("n_both")
    )
    # The guard lives INSIDE n_hat's expression tree (ADVICE r10): as
    # a sibling select column it could lose the evaluation race to the
    # (n_a + 1) * (n_b + 1) multiply, surfacing an ANSI overflow
    # instead of the intended message. `if` is lazy, so here the
    # raise_error always wins. Bound is 3 037 000 498 (not ...499):
    # the Chapman form multiplies n + 1.
    guarded_na = (
        "if(n_a <= 3037000498 and n_b <= 3037000498, n_a, "
        "raise_error('capture_recapture: snapshot sizes exceed the "
        "exact-BIGINT product bound 3037000498'))"
    )
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(m))
        .select(
            F.col("n_a"),
            "n_b",
            "n_both",
            (
                F.expr(
                    f"div(({guarded_na} + 1) * (n_b + 1), n_both + 1)"
                ) - F.lit(1)
            ).cast("bigint").alias("n_hat"),
        )
    )


def sign_test_bh(
    df: DataFrame,
    group_col: str,
    day_col: str,
    value_col: str,
    horizon: int = 57,
    q_ppm: int = 100_000,
    max_groups: int = 10_000,
) -> DataFrame:
    """Per-group exact one-sided SIGN TEST for upward drift over the
    trailing ``horizon``-day window, with Benjamini–Hochberg FDR
    control (Benjamini & Hochberg 1995) across the groups — the
    multiple-testing discipline a dashboard sweeping hundreds of
    segments for "is this metric trending up?" must apply before
    alerting.

    Input: ``day_col`` an INTEGER day index and ``value_col`` an
    already-quantized INTEGER daily amount (callers quantize; exact
    money = cents via DECIMAL cast). Per group the trailing window is
    ZERO-FILLED to a common calendar (fixed n = horizon−1 comparisons;
    ties — e.g. two empty days — count as not-up), k_up = #{d :
    v_d > v_{d−1}}, and the p-value is the exact binomial tail
    p = Σ_{j≥k} C(n,j) / 2ⁿ — an exact BIGINT rational with the SAME
    denominator for every group (that shared denominator is why ties
    are kept: ordering p-values reduces to ordering their BIGINT
    numerators, no cross-denominator rational comparison). BH then
    rejects ranks 1..k* where k* = max{i : pᵢ ≤ (i/m)·q} (step-up).

    Execution is the km_survival bounded-axis pattern: the corpus
    shrinks to one row per (group, day) in a single partial-agg
    shuffle, the window fill and lag run over the bounded
    groups×horizon relation, and the m ≤ ``max_groups`` per-group
    (k_up) rows collect to the driver where C(n,j), the tail sums and
    the step-up scan run in exact arbitrary-precision integers
    (horizon ≤ 63 keeps every emitted numerator inside BIGINT:
    Σ C(62,j) ≤ 2⁶² — the result returns via `local_df`, the SQL
    oracle replays the identical integer arithmetic with HUGEINT
    intermediates).

    Output per group, ordered by BH rank:
        (group, k_up, n_cmp, p_num, p_den, rank, rejected)
    """
    from math import comb

    from pyspark.sql import Window

    if not 2 <= horizon <= 63:
        raise ValueError(f"horizon must be in [2, 63], got {horizon}")
    if not 0 < q_ppm < 1_000_000:
        raise ValueError(f"q_ppm must be in (0, 1e6), got {q_ppm}")
    gtype = df.schema[group_col].dataType.simpleString()
    daily = (
        df.groupBy(
            F.col(group_col).alias("_g"), F.col(day_col).alias("_d")
        )
        .agg(F.sum(value_col).cast("bigint").alias("_v"))
    )
    daily = daily.localCheckpoint(eager=False)  # max-day scalar + fill
    maxd = daily.agg(F.max("_d")).first()[0]
    if maxd is None:
        raise ValueError("sign_test_bh: no rows")
    lo = int(maxd) - horizon + 1
    cal = (
        daily.select("_g").distinct()
        .select(
            "_g",
            F.explode(
                F.sequence(F.lit(lo), F.lit(int(maxd)))
            ).alias("_d"),
        )
    )
    filled = (
        cal.join(daily, ["_g", "_d"], "left")
        .select("_g", "_d", F.coalesce("_v", F.lit(0)).alias("_v"))
    )
    w = Window.partitionBy("_g").orderBy("_d")  # horizon rows per group
    k = (
        filled.withColumn("_pv", F.lag("_v").over(w))
        .where(F.col("_pv").isNotNull())
        .groupBy("_g")
        .agg(
            F.sum(
                F.when(F.col("_v") > F.col("_pv"), 1).otherwise(0)
            ).cast("bigint").alias("_k")
        )
    )
    rows = k.collect()
    if len(rows) > max_groups:
        raise ValueError(
            f"sign_test_bh: {len(rows)} groups exceed max_groups="
            f"{max_groups} — pre-aggregate or raise the dial"
        )
    n = horizon - 1
    m = len(rows)
    tail = [0] * (n + 2)
    for j in range(n, -1, -1):  # tail[j] = sum_{i>=j} C(n, i), exact
        tail[j] = tail[j + 1] + comb(n, j)
    scored = sorted(
        ((tail[int(r["_k"])], r["_g"], int(r["_k"])) for r in rows)
    )
    k_star = 0
    for i, (p_num, _, _) in enumerate(scored, start=1):
        # p <= (i/m)q  <=>  p_num * m * 1e6 <= i * q_ppm * 2^n
        if p_num * m * 1_000_000 <= i * q_ppm * (1 << n):
            k_star = i
    out = [
        (g, ku, n, p_num, 1 << n, i, 1 if i <= k_star else 0)
        for i, (p_num, g, ku) in enumerate(scored, start=1)
    ]
    return local_df(
        df.sparkSession,
        out,
        f"{group_col} {gtype}, k_up bigint, n_cmp bigint, "
        "p_num bigint, p_den bigint, rank bigint, rejected bigint",
    )


def wasserstein_binned(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 1024,
) -> DataFrame:
    """Earth-mover (Wasserstein-1) distance between two value
    distributions on a fixed equal-width grid — the drift metric that,
    unlike KS (max CDF gap) or PSI/JS (bin-wise divergence), weighs
    HOW FAR the mass moved: W1 = ∫|F_A − F_B|, reported in bin units.
    The standard pairing: KS for "did it drift", W1 for "by how
    much".

    Determinism: the bin is floor((v − lo)·bins/(hi − lo)) of an
    identically-computed double, clamped to [0, bins) (the CLAUDE.md
    quantization rule — floor, never round), counts are exact
    BIGINTs, the two CDFs share the common denominator n_a·n_b, and
    each bin's term is quantized to ppm BEFORE summing
    (quantize-before-combine):

        w1_bin_ppm = Σ_b div(|cumA_b·n_b − cumB_b·n_a| · 10⁶,
                             n_a·n_b)

    so the result replays bit-for-bit in SQL. The per-bin floor costs
    < bins/10⁶ ≈ 0.001 bin units of systematic underestimate —
    documented, deterministic, identical both engines.

    Scale: each side is one partial-agg histogram (bounded ``bins``
    rows); the running sums go through `sharded_running_sums` (never
    a single-partition window); the final fold is one scalar
    aggregate. Output one row:
        (n_a, n_b, n_bins, w1_bin_ppm)"""
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    from inception_eventstore_spark.functions.ranking import (
        sharded_running_sums,
    )

    scale = float(bins) / (float(hi) - float(lo))

    def _hist(df, name):
        b = F.least(
            F.lit(int(bins) - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(value_col).cast("double") - F.lit(float(lo)))
                    * F.lit(scale)
                ).cast("bigint"),
            ),
        )
        return (
            df.where(F.col(value_col).isNotNull())
            .select(b.alias("_b"))
            .groupBy("_b")
            .agg(F.count("*").cast("bigint").alias(name))
        )
    ha = _hist(df_a, "_na")
    hb = _hist(df_b, "_nb")
    # the axis must cover EVERY bin: the CDF gap persists across
    # empty bins between the two masses, and dropping them undercounts
    # W1 (a present-bins-only grid scored the 10-bins-apart point-mass
    # fixture as 1 bin)
    axis = df_a.sparkSession.range(int(bins)).select(
        F.col("id").cast("bigint").alias("_b")
    )
    grid = (
        axis.join(ha, "_b", "left")
        .join(hb, "_b", "left")
        .select(
            F.col("_b"),
            F.coalesce("_na", F.lit(0)).cast("bigint").alias("_na"),
            F.coalesce("_nb", F.lit(0)).cast("bigint").alias("_nb"),
        )
    )
    cum = sharded_running_sums(grid, [F.col("_b")], ["_na", "_nb"])
    tot = grid.agg(
        F.sum("_na").cast("bigint").alias("_ta"),
        F.sum("_nb").cast("bigint").alias("_tb"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "cast(div(abs(cast(_na_cum as decimal(38,0)) * _tb "
                "- cast(_nb_cum as decimal(38,0)) * _ta) * 1000000, "
                "cast(_ta as decimal(38,0)) * _tb) as bigint)"
            ).alias("_t"),
            "_ta", "_tb",
        )
        .groupBy("_ta", "_tb")
        .agg(F.sum("_t").cast("bigint").alias("w1_bin_ppm"))
        .select(
            F.col("_ta").alias("n_a"),
            F.col("_tb").alias("n_b"),
            F.lit(int(bins)).cast("bigint").alias("n_bins"),
            "w1_bin_ppm",
        )
    )
