"""Linear model scoring over hashed bag-of-words features.

The fasttext-shaped quality-classifier pass every curation pipeline
runs (CCNet / FineWeb style: a linear model over hashed n-gram
features gates "wikipedia-like" text): score every document with
σ(Σ_b w_b·tf_b / Σ_b tf_b) where b are the md5 hashing-trick buckets
shared with `embeddings.bow_bucket_counts`.

Dataflow is the sparse dot product — explode tokens → bucket →
partial-aggregated (doc, bucket) counts → broadcast-join the |dim|-row
weight table → one groupBy(doc). The corpus shuffles its 8-byte bucket
counts once; the model rides along broadcast. At 100 TB the weight
table for any realistic dim (2²⁰) is a few MB — always broadcast.

Weights are a vector keyed by bucket: pass a trained table (or dict)
via ``weights``; the default is a SEEDED STAND-IN (uniform in [-1, 1]
from the portable md5 arithmetic) so the whole scoring path — bucket
hash, dot product, normalization, sigmoid — is value-oracled against
DuckDB without shipping a trained artifact. Swapping in real weights
changes one small table, nothing in the plan.

Reference analog: payload opacity (CassandraEventStore.cs:211) — the
reference has no text ops; this extends the SURVEY §2 F curation
family alongside `filtering.quantile_threshold_filter` (which gates on
any score column, e.g. this one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.local_df import local_df
from inception_eventstore_spark.operators.embeddings import bow_bucket_counts
from inception_eventstore_spark.operators.sampling import md5_prefix60

__all__ = ["seeded_weight_table", "linear_quality_score"]


def seeded_weight_table(
    spark, dim: int, seed: str = "v1"
) -> DataFrame:
    """(bucket, w) — deterministic stand-in weights uniform in [-1, 1):
    w_b = (md5₆₀('qw:seed:b') − 2⁵⁹) / 2⁵⁹. Engine-portable (same md5
    arithmetic as `sampling.hash_bucket`). The weights are BINARY
    rationals on purpose: decimal-rational weights (k/1000) make the
    normalized dot product a terminating decimal that lands exactly on
    6-dp rounding half-boundaries, where Spark's HALF_UP and DuckDB's
    half-even diverge (the CLAUDE.md half-cent rule — observed on 2 of
    500 fixture docs); a binary-rational score can only hit a decimal
    boundary if the token count contributes a factor 5⁶, which real
    documents never align with."""
    b = F.col("id").cast("bigint")
    h = md5_prefix60(
        F.concat(F.lit(f"qw:{seed}:"), b.cast("string"))
    )
    half = float(1 << 59)
    return spark.range(int(dim)).select(
        b.alias("bucket"),
        ((h - F.lit(1 << 59)).cast("double") / F.lit(half)).alias("w"),
    )


def linear_quality_score(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: DataFrame | None = None,
    seed: str = "v1",
) -> DataFrame:
    """(id, n_tokens, quality_logit, quality_prob) — the linear score
    σ(Σ w_b·tf_b / n_tokens) per document. Empty docs are absent (no
    buckets), matching the sparse-feature convention; logit and prob
    are rounded 6 dp for cross-engine comparison.

    Execution (r11, guide §2.3/§2.4): with the default SEEDED weights
    the ``dim`` weight doubles are computed on the driver (same md5 →
    binary-rational arithmetic, bit-identical doubles) and inlined as
    a literal array — the per-token weight is an ``element_at`` lookup
    and the whole score is ONE partial-aggregated groupBy(doc): no
    (doc, bucket) intermediate aggregation, no weight-table join
    (2.05 → 1.55 s for the kernel alone at sf0.1, ×13 declared
    queries). Per-token vs per-bucket summation differs only in float
    ulps (~1e-10 against the 5e-7 half-boundary margin the
    binary-rational weight seeding guarantees — see
    ``seeded_weight_table``); all 13 score oracles re-hash-matched at
    sf0.001/0.01 and the full 5000-doc sf0.1 outputs compared EQUAL
    post-round against the join form before the switch. A caller
    passing a trained ``weights`` DataFrame keeps the broadcast-join
    path (a real model table can't be inlined)."""
    spark = docs.sparkSession
    # the inlined-literal fast path embeds `dim` doubles in the plan —
    # fine at feature-hashing widths, but a huge dim would bloat the
    # plan/codegen constant pool with an O(dim) literal per element_at;
    # above the cap fall back to the broadcast weight join (identical
    # bits: seeded_weight_table computes the same md5 rationals)
    if weights is None and int(dim) > 4096:
        weights = seeded_weight_table(spark, dim, seed)
    if weights is not None:
        counts = bow_bucket_counts(docs, dim, id_col, text_col)
        scored = (
            counts.join(F.broadcast(weights), "bucket")
            .groupBy(id_col)
            .agg(
                F.sum("cnt").cast("bigint").alias("n_tokens"),
                (F.sum(F.col("w") * F.col("cnt")) / F.sum("cnt"))
                .alias("_z"),
            )
        )
    else:
        import hashlib

        from inception_eventstore_spark.operators.dedup import tokens
        from inception_eventstore_spark.operators.sampling import (
            hash_bucket,
        )

        half = float(1 << 59)
        warr = F.array(*[
            F.lit(
                (int(
                    hashlib.md5(f"qw:{seed}:{b}".encode()).hexdigest()[:15],
                    16,
                ) - (1 << 59)) / half
            )
            for b in range(int(dim))
        ])
        ex = docs.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("_tok")
        )
        b = hash_bucket("_tok", seed="bow-v1", buckets=dim)
        scored = (
            ex.select(
                id_col,
                F.element_at(warr, (b + 1).cast("int")).alias("_w"),
            )
            .groupBy(id_col)
            .agg(
                F.count("*").cast("bigint").alias("n_tokens"),
                (F.sum("_w") / F.count("*")).alias("_z"),
            )
        )
    return scored.select(
        id_col,
        "n_tokens",
        F.round("_z", 6).alias("quality_logit"),
        F.round(1.0 / (1.0 + F.exp(-F.col("_z"))), 6).alias("quality_prob"),
    )


def score_percentiles(
    scored: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    num_shards: int | None = None,
) -> DataFrame:
    """(id, score, below_ppm, cdf_ppm) — every row's exact corpus
    percentile of ``score_col``: ``below_ppm`` = fraction of rows
    strictly below (parts-per-million), ``cdf_ppm`` = fraction at or
    below. The calibration step that turns a raw quality score into a
    corpus-relative threshold ("drop the bottom 20%") that is stable
    across corpora with different score distributions.

    Exact, not sketched, yet never single-task: ties collapse into the
    DISTINCT-score table first (one partial-aggregated groupBy), the
    prefix counts come from the two-phase `sharded_running_sums`
    (integer, so shard splits are bit-identical to a sequential
    window), and rows re-join their percentile on the score key. ppm
    values are BIGINT div — bit-exact on any engine."""
    from inception_eventstore_spark.functions.ranking import (
        sharded_running_sums,
    )

    rows = scored.where(F.col(score_col).isNotNull())
    g = rows.groupBy(F.col(score_col).alias("_s")).agg(
        F.count("*").cast("long").alias("_n")
    )
    r = sharded_running_sums(
        g, [F.col("_s")], ["_n"], num_shards=num_shards
    )
    tot = r.agg(F.sum("_n").cast("bigint").alias("_tot"))
    pct = r.crossJoin(F.broadcast(tot)).select(
        "_s",
        F.expr("CAST(((_n_cum - _n) * 1000000) div _tot AS BIGINT)")
        .alias("below_ppm"),
        F.expr("CAST((_n_cum * 1000000) div _tot AS BIGINT)")
        .alias("cdf_ppm"),
    )
    return rows.select(id_col, F.col(score_col).alias("score")).join(
        pct, F.col("score") == F.col("_s")
    ).select(id_col, "score", "below_ppm", "cdf_ppm")


def calibration_curve(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """(bin, n, n_pos, mean_prob, pos_rate, gap) — the reliability
    diagram of a probabilistic classifier: rows bucket by predicted
    probability (bin = ⌊p·bins⌋, top edge closed), and each bucket
    compares its MEAN PREDICTION against the EMPIRICAL positive rate.
    |gap| summed with bin weights is ECE; a well-calibrated scorer
    hugs the diagonal, and an over-confident quality model silently
    mis-prices every threshold cut built on it.

    One partial-aggregated groupBy on the bin id; counts are exact
    integers, rates are exact BIGINT-div ppm scaled back to 6-dp
    doubles, mean_prob averages already-6-dp-rounded probabilities."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    p = F.col(prob_col)
    y = F.col(label_col).cast("int")
    b = F.least(
        F.floor(p * bins).cast("int"), F.lit(int(bins) - 1)
    )
    g = (
        scored.where(p.isNotNull())
        .select(b.alias("bin"), p.alias("_p"), y.alias("_y"))
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("_y").cast("bigint").alias("n_pos"),
            F.round(F.avg("_p"), 6).alias("mean_prob"),
        )
    )
    pos_rate = F.expr(
        "CAST((n_pos * 1000000) div n AS BIGINT)"
    ).cast("double") / 1e6
    return g.select(
        "bin",
        "n",
        "n_pos",
        "mean_prob",
        pos_rate.alias("pos_rate"),
        F.round(F.col("mean_prob") - pos_rate, 6).alias("gap"),
    ).orderBy("bin")


def woe_iv(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Weight-of-evidence / information-value table — the
    credit-scoring-style audit of how much a score SEPARATES the
    classes, bin by bin (the complement of `calibration_curve`, which
    audits whether the score is honest). One row per occupied score
    bin: (bin, n, n_pos, n_neg, woe, iv_term), where
    ``woe = ln(((pos+½)/P) / ((neg+½)/N))`` (half-count smoothing so
    empty sides stay finite — the standard convention) and
    ``iv_term`` is its share-difference weight; Σ iv_term is the IV
    gauge (< 0.02 useless, > 0.3 strong).

    Every number derives from four integers (bin counts and class
    totals) through ONE closed-form expression — no data-dependent
    float summation — so 6 dp rounding is engine-stable. One
    partial-aggregated bin rollup + a broadcast totals row.

    Binning matches `calibration_curve`: least(floor(p·bins), bins−1),
    so the two audits read off the same axis."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    lab = scored.where(F.col(prob_col).isNotNull()).select(
        F.least(
            F.floor(F.col(prob_col) * bins).cast("int"),
            F.lit(bins - 1),
        ).alias("bin"),
        F.col(label_col).cast("int").alias("_y"),
    )
    g = lab.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("_y").cast("bigint").alias("n_pos"),
    )
    tot = lab.agg(
        F.sum("_y").cast("bigint").alias("_pt"),
        F.sum(1 - F.col("_y")).cast("bigint").alias("_nt"),
    )
    gs = (F.col("n_pos").cast("double") + F.lit(0.5)) / F.col(
        "_pt"
    ).cast("double")
    bs = (
        (F.col("n") - F.col("n_pos")).cast("double") + F.lit(0.5)
    ) / F.col("_nt").cast("double")
    woe = F.log(gs / bs)
    return (
        g.crossJoin(F.broadcast(tot))
        .where((F.col("_pt") > 0) & (F.col("_nt") > 0))
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            "n",
            "n_pos",
            (F.col("n") - F.col("n_pos"))
            .cast("bigint")
            .alias("n_neg"),
            F.round(woe, 6).alias("woe"),
            F.round((gs - bs) * woe, 6).alias("iv_term"),
        )
    )


def label_noise_counts(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
) -> DataFrame:
    """Confident-learning label-noise estimate for a binary task
    (Northcutt et al. 2021, public literature): rows whose predicted
    probability clears the OTHER class's confidence threshold are
    counted as suspected flips. Thresholds are the per-class mean
    predicted probability (t₁ = mean p among y=1, t₀ analogously on
    1−p); the joint count matrix C[given][suggested] and the flip
    rate estimate follow. Returns 4 rows: (given, suggested, n,
    share_ppm) — off-diagonal mass is the estimated label-noise rate,
    the audit run before trusting a labeled corpus.

    Exactness: ``prob_col`` is expected 6-dp-rounded (the repo's
    score convention), so p·10⁶ is an exact integer; the threshold
    comparison ``p > t_j`` is evaluated as the INTEGER cross-product
    ``p_micro · n_j > Σ p_micro(j)`` — no float mean ever
    materializes, so boundary rows (p exactly at the class mean)
    resolve identically in both engines. Two passes: one 2-row class
    aggregate (broadcast back), one partial-aggregated 4-cell count.
    """
    lab = scored.where(F.col(prob_col).isNotNull()).select(
        F.round(F.col(prob_col) * 1000000).cast("bigint").alias("_pm"),
        F.col(label_col).cast("int").alias("_y"),
    )
    cls = lab.groupBy("_y").agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum("_pm").cast("bigint").alias("_sp"),
    )
    # class-1 threshold on p; class-0 threshold on (1-p) ⇔ compare
    # (1e6 - p_micro)·n₀ > Σ(1e6 - p_micro | y=0) = 1e6·n₀ - Σp₀
    t1 = cls.where(F.col("_y") == 1).select(
        F.col("_n").alias("_n1"), F.col("_sp").alias("_sp1")
    )
    t0 = cls.where(F.col("_y") == 0).select(
        F.col("_n").alias("_n0"), F.col("_sp").alias("_sp0")
    )
    j = lab.crossJoin(F.broadcast(t1)).crossJoin(F.broadcast(t0))
    sug = (
        F.when(
            F.col("_pm") * F.col("_n1") > F.col("_sp1"), F.lit(1)
        )
        .when(
            (F.lit(1000000) - F.col("_pm")) * F.col("_n0")
            > F.lit(1000000) * F.col("_n0") - F.col("_sp0"),
            F.lit(0),
        )
        .otherwise(F.col("_y"))
    )
    cells = j.groupBy(
        F.col("_y").cast("bigint").alias("given"),
        sug.cast("bigint").alias("suggested"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    tot = lab.agg(F.count("*").cast("bigint").alias("_t"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "given",
        "suggested",
        "n",
        F.expr("CAST(n * 1000000 div _t AS BIGINT)").alias(
            "share_ppm"
        ),
    )


def isotonic_calibration(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Isotonic (PAVA) recalibration of a probabilistic classifier on
    the same bin axis as ``calibration_curve`` — the standard
    monotone-regression fix for an over/under-confident scorer
    (Zadrozny & Elkan 2002). Instead of iterative pool-adjacent-
    violators, the fit uses the closed-form minimax characterization
    fit_i = max_{j≤i} min_{k≥i} avg(y over bins j..k) — a B³ join over
    the BOUNDED bin table, fully distributed and fully SQL-replayable
    (no sequential pooling loop, no driver state).

    Exactness: range averages are rationals of exact BIGINT counts —
    the 6-dp half-boundary class — so they are quantized FIRST to
    integer micro-units ``div((P_k−P_{j−1})·2^20, N_k−N_{j−1})`` and
    the max/min runs over integers: the result is isotonic regression
    on 2^-20-quantized rates, bit-equal in any engine, monotone by
    construction.

    Output per non-empty bin: bin, n, n_pos, raw_micro, iso_micro
    (both in 2^20 micro-units). The heavy pass is the per-bin rollup;
    the minimax runs on ≤ bins² range rows.
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    p = F.col(prob_col)
    y = F.col(label_col).cast("int")
    b = F.least(F.floor(p * bins).cast("int"), F.lit(int(bins) - 1))
    g = (
        scored.where(p.isNotNull())
        .select(b.alias("bin"), y.alias("_y"))
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("_y").cast("bigint").alias("n_pos"),
        )
        .localCheckpoint(eager=False)  # ≤ bins rows, reused 3×
    )
    jk = (
        g.select(F.col("bin").alias("_j"))
        .crossJoin(g.select(F.col("bin").alias("_k")))
        .where(F.col("_j") <= F.col("_k"))
        .join(
            g.select("bin", "n", "n_pos"),
            (F.col("bin") >= F.col("_j")) & (F.col("bin") <= F.col("_k")),
        )
        .groupBy("_j", "_k")
        .agg(
            F.sum("n").alias("_sn"),
            F.sum("n_pos").alias("_sp"),
        )
        .withColumn(
            "_avg_micro", F.expr("div(_sp * 1048576, _sn)")
        )
    )
    fit = (
        g.select(F.col("bin").alias("_i"))
        .join(
            jk,
            (F.col("_j") <= F.col("_i")) & (F.col("_k") >= F.col("_i")),
        )
        .groupBy("_i", "_j")
        .agg(F.min("_avg_micro").alias("_inner"))
        .groupBy("_i")
        .agg(F.max("_inner").alias("iso_micro"))
    )
    return (
        g.join(fit, g["bin"] == fit["_i"])
        .select(
            "bin",
            "n",
            "n_pos",
            F.expr("div(n_pos * 1048576, n)").alias("raw_micro"),
            F.col("iso_micro").cast("bigint").alias("iso_micro"),
        )
        .orderBy("bin")
    )


def quantile_normalize(
    scored: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    num_shards: int | None = None,
) -> DataFrame:
    """Cross-group quantile normalization (the genomics-standard
    distribution harmonizer, Bolstad 2003, applied to quality scores):
    each row's value is replaced by the GLOBAL value at the matching
    quantile — rank r of n_g within its group maps to global rank
    ceil(r·N/n_g) — so every group ends up with an identical score
    distribution and per-source scorer drift cannot leak into a
    downstream threshold cut (quality_quantile_filter's cross-source
    failure mode).

    Determinism: both rankings are TOTAL orders ((value, id)
    tie-break) computed with the two-phase shard rank — never a
    single-task window — and the target rank is exact integer
    arithmetic ``div(r·N + n_g − 1, n_g)`` (= ceil for positives), so
    the mapping replays bit-for-bit. Values should be exact integers
    (quantized upstream).

    Scale/efficiency (r11): the in-group and global rankings share ONE
    range partitioning. Both rank by the same total order (value, id),
    and a shard of the (value, id) range respects the global order of
    EVERY group's subsequence — so one repartitionByRange + one
    checkpoint + one (shard, group)-count collect yields both the
    per-group shard offsets and (summed across groups, in shard order)
    the global ones. The former two grouped_row_number passes executed
    the upstream scoring chain twice and ran two shuffles, two
    checkpoints, two collects, plus a separate n_total action (guide
    §2.4: shuffles share an exchange when keyed the same way). Ranks
    are identical rank-for-rank, so the oracle hash-match is unchanged.
    """
    from inception_eventstore_spark.functions.ranking import _OFF, _PID

    spark = scored.sparkSession
    if num_shards is None:
        # match grouped_row_number's default; the explicit parameter
        # exists because some platforms set a non-numeric conf value
        # ("auto") and because callers may want scan-sized shards
        try:
            num_shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except ValueError:
            num_shards = spark.sparkContext.defaultParallelism
    v = F.col(value_col)
    base = scored.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_g"),
        v.alias("_v"),
    ).where(v.isNotNull())
    order_cols = [F.col("_v"), F.col("_id")]
    parts = (
        base.repartitionByRange(num_shards, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    rows = (
        parts.groupBy(_PID, "_g").agg(F.count("*").alias("_n")).collect()
    )
    # one fold, three products: per-(shard, group) exclusive prefixes,
    # per-shard global exclusive prefixes, and the group/global totals
    grp_off: dict = {}
    glob_off: dict[int, int] = {}
    glob_acc = 0
    grp_rows, glob_rows = [], []
    for r in sorted(rows, key=lambda r: (r[_PID], str(r["_g"]))):
        pid = int(r[_PID])
        key = r["_g"]
        grp_rows.append((pid, key, grp_off.get(key, 0)))
        grp_off[key] = grp_off.get(key, 0) + int(r["_n"])
        if pid not in glob_off:
            glob_off[pid] = glob_acc
        glob_acc += int(r["_n"])
    glob_rows = [(p, o) for p, o in glob_off.items()]
    n_total = glob_acc
    off_schema = parts.select(
        F.col(_PID), F.col("_g"), F.lit(0).cast("long").alias(_OFF)
    ).schema
    off_df = local_df(spark, grp_rows, off_schema, slices=1)
    goff_df = local_df(spark, glob_rows, f"{_PID} int, _goff long", slices=1)
    ng_rows = [(k, int(n)) for k, n in grp_off.items()]
    ng_schema = parts.select(
        F.col("_g"), F.lit(0).cast("long").alias("_ng")
    ).schema
    ng_df = local_df(spark, ng_rows, ng_schema, slices=1)
    w_grp = Window.partitionBy(_PID, "_g").orderBy(*order_cols)
    w_glob = Window.partitionBy(_PID).orderBy(*order_cols)
    ranked = (
        parts.join(F.broadcast(off_df), [_PID, "_g"])
        .join(F.broadcast(goff_df), _PID)
        .join(F.broadcast(ng_df), "_g")
        .withColumn(
            "_r", (F.col(_OFF) + F.row_number().over(w_grp)).cast("bigint")
        )
        .withColumn(
            "_ts",
            (F.col("_goff") + F.row_number().over(w_glob)).cast("bigint"),
        )
    )
    target = ranked.select(
        "_id", "_g", "_v", "_r", F.col("_ng"),
        F.expr(f"div(_r * {n_total} + _ng - 1, _ng)").alias("_t"),
    )
    global_vals = ranked.select(F.col("_ts").alias("_t"),
                                F.col("_v").alias("_gv"))
    return (
        target.join(global_vals, "_t")
        .select(
            F.col("_id").alias(id_col),
            F.col("_g").alias(group_col),
            F.col("_v").alias(value_col),
            F.col("_r").alias("group_rank"),
            F.col("_ng").cast("bigint").alias("group_n"),
            F.col("_gv").alias(f"{value_col}_qnorm"),
        )
        .orderBy(id_col)
    )


def threshold_sweep(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
    n_thresholds: int = 9,
) -> DataFrame:
    """Precision / recall / F1 at every decision threshold k/(n+1) —
    the operating-point table read before committing a quality-filter
    cutoff (the tabular view of quality_auc's curve). One
    partial-aggregated scan: each row's (pm, y) contributes to all
    thresholds via conditional sums over the bounded threshold axis,
    so the corpus is read ONCE, not once per threshold.

    Exactness: probabilities compare as integer ppm against integer
    threshold ppm (strict >); precision/recall/F1 are reported as
    exact integer ppm via truncating BIGINT division — rationals of
    small denominators are precisely the 6-dp-round half-boundary
    class, so no float rates exist anywhere. F1's single-division form
    2tp/(2tp+fp+fn) keeps it one div.
    """
    if not 1 <= n_thresholds <= 99:
        raise ValueError("n_thresholds must be in [1, 99]")
    p = F.col(prob_col)
    y = F.col(label_col).cast("int")
    pm = F.round(p * 1e6).cast("bigint")
    base = scored.where(p.isNotNull()).select(
        pm.alias("_pm"), y.alias("_y")
    )
    step = 1_000_000 // (n_thresholds + 1)
    aggs = []
    for k in range(1, n_thresholds + 1):
        t = k * step
        pred = F.col("_pm") > t
        aggs += [
            F.sum(F.when(pred & (F.col("_y") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias(f"_tp{k}"),
            F.sum(F.when(pred & (F.col("_y") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias(f"_fp{k}"),
            F.sum(F.when(~pred & (F.col("_y") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias(f"_fn{k}"),
        ]
    wide = base.agg(*aggs)
    rows = None
    for k in range(1, n_thresholds + 1):
        t = k * step
        one = wide.select(
            F.lit(t).cast("bigint").alias("threshold_ppm"),
            F.col(f"_tp{k}").alias("tp"),
            F.col(f"_fp{k}").alias("fp"),
            F.col(f"_fn{k}").alias("fn"),
            F.expr(
                f"CASE WHEN _tp{k} + _fp{k} > 0 THEN "
                f"div(_tp{k} * 1000000, _tp{k} + _fp{k}) END"
            ).cast("bigint").alias("precision_ppm"),
            F.expr(
                f"CASE WHEN _tp{k} + _fn{k} > 0 THEN "
                f"div(_tp{k} * 1000000, _tp{k} + _fn{k}) END"
            ).cast("bigint").alias("recall_ppm"),
            F.expr(
                f"CASE WHEN 2 * _tp{k} + _fp{k} + _fn{k} > 0 THEN "
                f"div(2 * _tp{k} * 1000000,"
                f" 2 * _tp{k} + _fp{k} + _fn{k}) END"
            ).cast("bigint").alias("f1_ppm"),
        )
        rows = one if rows is None else rows.unionByName(one)
    return rows.orderBy("threshold_ppm")


def eb_shrunk_rates(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    success_type: str = "purchase",
    min_n_fit: int = 5,
) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-key success
    rates — the standard smoother for CTR/quality rates before they
    feed ranking or filtering: raw x/n for a 3-event key is noise, so
    every key's rate is pulled toward the corpus prior with strength
    proportional to the prior's pseudo-counts:

        shrunk = (x + α) / (n + α + β)

    with (α, β) fitted by method of moments on the raw-rate
    distribution of keys with n ≥ ``min_n_fit`` (Robinson's
    batting-average construction): μ, v = mean/variance of raw rates →
    α = μ·(μ(1−μ)/v − 1), β = (1−μ)·(μ(1−μ)/v − 1).

    Determinism: per-key raw rates are quantized to exact integers
    div(x·2^20, n) BEFORE any summation, so the fit moments are exact
    BIGINT sums (float sums over data-sized rows would be
    order-dependent); μ, v, α, β and each shrunk rate are then
    fixed-order double expressions of exact integers, rounded 6 dp.
    Degenerate fit (v ≤ 0 or undefined) falls back to raw rates,
    flagged in the ``prior_used`` column.

    Scale: the per-key rollup is persisted, read by the fit action and
    by the returned plan, then released (curation.py's persist →
    checkpoint-result → unpersist discipline) — the corpus never
    shuffles twice. μ and v are computed as float(s)/m — CAST-then-
    divide, the exact order the DuckDB oracle runs — so the two
    engines agree bit-for-bit even past s2 > 2^53 (~8M keys), where a
    fused exact-int division would differ by 1 ulp.
    """
    per = events.groupBy(F.col(key_col).alias("_k")).agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum(
            F.when(F.col(type_col) == success_type, 1).otherwise(0)
        ).cast("bigint").alias("_x"),
    ).withColumn("_rq", F.expr("div(_x * 1048576, _n)")).persist()
    fit = per.where(F.col("_n") >= int(min_n_fit)).agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("_rq").cast("bigint").alias("s1"),
        F.sum(F.col("_rq") * F.col("_rq")).cast("bigint").alias("s2"),
    ).first()
    m, s1, s2 = int(fit["m"]), int(fit["s1"] or 0), int(fit["s2"] or 0)
    q = float(1 << 20)
    prior_used = False
    alpha = beta = 0.0
    if m >= 2:
        # float(s)/m (round s to double FIRST) — matches the oracle's
        # CAST(s AS DOUBLE)/m; see docstring
        mu = (float(s1) / m) / q
        v = (
            (float(s2) / m - (float(s1) / m) * (float(s1) / m))
            / (q * q) * (m / (m - 1.0))
        )
        if 0.0 < mu < 1.0 and v > 0.0:
            k = mu * (1.0 - mu) / v - 1.0
            if k > 0.0:
                alpha, beta, prior_used = mu * k, (1.0 - mu) * k, True
    num = F.col("_x").cast("double") + F.lit(alpha)
    den = F.col("_n").cast("double") + F.lit(alpha) + F.lit(beta)
    out = per.select(
        F.col("_k").alias(key_col),
        F.col("_n").alias("n"),
        F.col("_x").alias("x"),
        (F.round(F.col("_rq").cast("double") / F.lit(q), 6) + F.lit(0.0))
        .alias("raw_rate"),
        (F.round(num / den, 6) + F.lit(0.0)).alias("shrunk_rate"),
        F.lit(prior_used).alias("prior_used"),
    )
    # one row per key — checkpoint the result eagerly so the persisted
    # rollup can be released here rather than leaking across calls
    # (SIDE EFFECT: the operator executes at call time)
    out = out.localCheckpoint(eager=True)
    per.unpersist()
    return out


def brier_decomposition(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """One-row Brier-score decomposition (Murphy 1973) of a
    probabilistic classifier: exact Brier = mean (p − y)², plus the
    binned reliability / resolution / uncertainty split
    REL − RES + UNC and the within-bin residual (Brier − that) that a
    constant-within-bin assumption hides — the single table that says
    whether a quality model's error is miscalibration (REL) or missing
    discrimination (low RES).

    Exactness recipe: p quantized per row to pq = floor(p·2^20), and
    every squared term re-quantized by div(·, 2^14) BEFORE summation
    so the BIGINT accumulators stay ANSI-safe far past gate scale:
    per-row squared error div((pq − y·2^20)², 2^14) ≤ 2^26, so
    Σ ≤ N·2^26 holds to N < 2^37 (~1.4e11 rows; raising past that
    needs a wider quantum — documented bound, was N < 2^23 before the
    r8 rescale). Bin deviations are integer-divided to micro-units
    FIRST: reliability uses D_b = div(s_pq − 2^20·pos_b, n_b) and
    resolution uses the micro-unit RATE gap div(pos_b·2^20, n_b) −
    div(pos_tot·2^20, n_tot) (each ±2^20-bounded, so n·div(D², 2^14)
    ≤ n·2^26 — never the unbounded cross product pos_b·n_tot·2^20
    that overflowed past n·n_tot > 2^43). Both engines run the
    identical truncating arithmetic; quantization displaces each
    ratio by < 2^-26 ≈ 1.5e-8, invisible at the 6-dp rounding; the
    final five ratios are fixed-order double expressions of exact
    integers.

    Scale: one partial-aggregated groupBy on the bin id, one ≤bins-row
    fold. No window, no python.
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    q = 1 << 20
    sh = 1 << 14  # squared-term quantum: keeps BIGINT sums to N < 2^37
    p = F.col(prob_col)
    pq = F.floor(p * F.lit(float(q))).cast("bigint")
    y = F.col(label_col).cast("bigint")
    b = F.least(F.floor(p * bins).cast("int"), F.lit(int(bins) - 1))
    rows = scored.where(p.isNotNull()).select(
        b.alias("_b"), pq.alias("_pq"), y.alias("_y")
    )
    # ≤bins rows, read by TWO folds (totals, then resolution with the
    # totals baked in) — eager checkpoint so the corpus scoring scan
    # runs exactly once, not once per fold
    per_bin = rows.groupBy("_b").agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum("_y").cast("bigint").alias("_pos"),
        F.sum("_pq").cast("bigint").alias("_spq"),
        F.sum(F.expr(
            f"div((_pq - {q} * _y) * (_pq - {q} * _y), {sh})"
        )).cast("bigint").alias("_se"),
    ).localCheckpoint(eager=True)
    # integer micro deviations per bin (truncating div — identical in
    # DuckDB), squares re-quantized by 2^14 before the n-weighting so
    # n·div(db², 2^14) ≤ n·2^26 stays a BIGINT to n < 2^37
    g = per_bin.select(
        "_n", "_pos", "_se",
        (F.col("_n") * F.expr(
            f"div(div(_spq - {q} * _pos, _n)"
            f" * div(_spq - {q} * _pos, _n), {sh})"
        )).cast("bigint").alias("_rel_q"),
    )
    tot = g.agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.sum("_pos").cast("bigint").alias("pos"),
        F.sum("_se").cast("bigint").alias("se_q"),
        F.sum("_rel_q").cast("bigint").alias("rel_q"),
    )
    # resolution needs global pos — second small pass over the bin
    # table with the global micro-unit rate baked in as a literal
    tot_row = tot.first()
    n_total, pos_total = int(tot_row["n"]), int(tot_row["pos"])
    if n_total == 0:
        raise ValueError("no scored rows")
    rate_g = (pos_total * q) // n_total  # exact, ∈ [0, 2^20]
    res_q = int(
        per_bin.select(
            F.sum(
                F.col("_n")
                * F.expr(
                    f"div((div(_pos * {q}, _n) - {rate_g})"
                    f" * (div(_pos * {q}, _n) - {rate_g}), {sh})"
                )
            ).cast("bigint").alias("r")
        ).first()["r"]
    )
    se_q, rel_q = int(tot_row["se_q"]), int(tot_row["rel_q"])
    spark = scored.sparkSession

    out = local_df(
        spark,
        [(n_total, pos_total, se_q, rel_q, res_q)],
        "n bigint, pos bigint, _se bigint, _rel bigint, _res bigint",
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    qq = float(q) * float(q) / float(sh)  # accumulators are q²/2^14
    brier = d("_se") / (d("n") * F.lit(qq))
    rel = d("_rel") / (d("n") * F.lit(qq))
    res = d("_res") / (d("n") * F.lit(qq))
    ybar = d("pos") / d("n")
    unc = ybar * (F.lit(1.0) - ybar)
    return out.select(
        "n", "pos",
        (F.round(brier, 6) + F.lit(0.0)).alias("brier"),
        (F.round(rel, 6) + F.lit(0.0)).alias("reliability"),
        (F.round(res, 6) + F.lit(0.0)).alias("resolution"),
        (F.round(unc, 6) + F.lit(0.0)).alias("uncertainty"),
        (F.round(brier - (rel - res + unc), 6) + F.lit(0.0))
        .alias("residual"),
    )


def ece_report(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Expected calibration error — the one-number rollup of
    :func:`calibration_curve`'s reliability diagram:
    ECE = Σ_b (n_b/n)·|pos_rate_b − mean_prob_b| (Naeini et al., AAAI
    2015), the metric a probability-gated curation threshold should be
    judged by before anyone trusts its cutoff.

    Determinism: the per-bin `gap` column is already cross-engine
    stable (6-dp round of a mean-of-rounded-probabilities minus an
    exact integer-ppm rate); it is re-quantized to integer ppm with a
    nearest-int round (the double sits within 1e-9 of an integer, so
    no half-boundary exists) and the weighted sum + final division are
    exact BIGINT arithmetic over the bounded bin axis.

    Output (one row): n, n_bins_occupied, ece_ppm.
    """
    curve = calibration_curve(scored, prob_col, label_col, bins)
    g = curve.select(
        "n",
        F.round(F.abs(F.col("gap")) * 1000000.0)
        .cast("bigint")
        .alias("_gap_ppm"),
    )
    return g.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_bins_occupied"),
        F.expr("CAST(div(sum(n * _gap_ppm), sum(n)) AS BIGINT)").alias(
            "ece_ppm"
        ),
    )


def conformal_interval(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    key_col: str = "event_id",
    alpha_ppm: int = 100_000,
    seed: str = "v1",
) -> DataFrame:
    """Split-conformal prediction interval (Vovk et al. 2005; Lei et
    al. 2018) with its finite-sample coverage audit — the
    distribution-free "how wrong can the model be" wrapper every
    production scorer should ship with. Three disjoint md5-hash splits
    (train 1/2, calibration 1/4, test 1/4 — the `hash_bucket`
    convention, reproducible on any engine), a per-group integer-mean
    model fit on train, and the conformal quantile

        q̂ = the ⌈(n_cal + 1)(1 − α)⌉-th smallest |y − ŷ| on calibration

    which guarantees P(|y − ŷ| ≤ q̂) ≥ 1 − α on exchangeable test
    rows. The audit reports the realized test coverage next to the
    1 − α target.

    Exactness: values are floor(v·2²⁰) fixed-point BIGINTs, the model
    is the INTEGER mean div(Σv, n) (exact both engines, no double
    ratio), residuals are BIGINT, and q̂ is an exact ORDER STATISTIC —
    rank selection over (residual, key), no interpolation — so every
    output column replays bit-for-bit in SQL.

    Scale: the calibration ranking runs through `grouped_row_number`'s
    two-phase shard rank (never a single-partition window); the model
    is one bounded per-group aggregate broadcast back; coverage is one
    scan of the test split against the broadcast scalar q̂."""
    from inception_eventstore_spark.functions.ranking import (
        grouped_row_number,
    )
    from inception_eventstore_spark.operators.sampling import hash_bucket

    if not 0 < alpha_ppm < 1_000_000:
        raise ValueError(f"alpha_ppm must be in (0, 1e6), got {alpha_ppm}")
    base = events.where(F.col(value_col).isNotNull()).select(
        F.col(key_col).cast("string").alias("_k"),
        F.col(group_col).alias("_g"),
        F.floor(F.col(value_col) * F.lit(1048576.0)).cast("bigint")
        .alias("_v"),
        hash_bucket(F.col(key_col).cast("string"),
                    seed=f"conf:{seed}", buckets=4).alias("_b"),
    )
    base = base.localCheckpoint(eager=False)  # feeds 3 splits
    model = (
        base.where(F.col("_b") <= 1)
        .groupBy("_g")
        .agg(F.expr("cast(div(sum(_v), count(*)) as bigint)").alias("_mu"))
    )
    cal = (
        base.where(F.col("_b") == 2)
        .join(F.broadcast(model), "_g")
        .select("_k", F.abs(F.col("_v") - F.col("_mu")).alias("_r"))
    )
    n_cal = cal.agg(F.count("*").cast("bigint").alias("_nc"))
    # ceil((n+1)(1-alpha)) clamped to n — exact integer ceil-div
    rank_expr = (
        f"least(_nc, div((_nc + 1) * {1_000_000 - int(alpha_ppm)} "
        f"+ 999999, 1000000))"
    )
    ranked = grouped_row_number(
        cal, [F.col("_r"), F.col("_k")], rank_col="_rank"
    )
    qhat = (
        ranked.crossJoin(
            F.broadcast(n_cal.withColumn("_rsel", F.expr(rank_expr)))
        )
        .where(F.col("_rank") == F.col("_rsel"))
        .select("_nc", F.col("_rsel").cast("bigint").alias("_rk"),
                F.col("_r").alias("_qhat"))
    )
    test = (
        base.where(F.col("_b") == 3)
        .join(F.broadcast(model), "_g")
        .select(F.abs(F.col("_v") - F.col("_mu")).alias("_r"))
    )
    return (
        test.crossJoin(F.broadcast(qhat))
        .groupBy("_nc", "_rk", "_qhat")
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.sum(
                F.when(F.col("_r") <= F.col("_qhat"), 1).otherwise(0)
            ).cast("bigint").alias("covered"),
        )
        .select(
            F.col("_nc").alias("n_cal"),
            F.col("_rk").alias("q_rank"),
            F.col("_qhat").alias("qhat_u"),
            "n_test",
            "covered",
            F.expr("cast(div(covered * 1000000, n_test) as bigint)")
            .alias("coverage_ppm"),
            F.lit(1_000_000 - int(alpha_ppm)).cast("bigint")
            .alias("target_ppm"),
        )
    )


def gains_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    key_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table (the decile chart every targeting
    model ships with): rank rows by score descending, cut into
    ``n_buckets`` equal-count buckets, and report per bucket the
    response rate and the CUMULATIVE lift vs the base rate —
    "mailing the top 2 deciles captures X% of responders at Y× the
    base rate".

    Exactness: the ranking is a total order (score desc, key), buckets
    are the exact integer cut div((rank−1)·n_buckets, n), and every
    reported rate/lift is an exact-integer ppm with
    lift_ppm = div(cum_resp·n_total·10⁶, cum_n·resp_total) — no float
    anywhere, so the SQL replay is bit-exact.

    Scale: the global rank runs through `grouped_row_number`'s
    two-phase shard rank; the per-bucket rollup is bounded
    (n_buckets rows), and the cumulative sums are a bounded
    triangular self-join over those rows — no window at all.

    Output per bucket (0-based, 0 = best-scored):
        (bucket, n, resp, rate_ppm, cum_n, cum_resp,
         cum_capture_ppm, cum_lift_ppm)"""
    from inception_eventstore_spark.functions.ranking import (
        grouped_row_number,
    )

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    base = df.select(
        F.col(key_col).alias("_k"),
        F.col(score_col).alias("_s"),
        F.col(label_col).cast("bigint").alias("_y"),
    ).where(F.col("_s").isNotNull())
    ranked = grouped_row_number(
        base, [F.col("_s").desc(), F.col("_k")],
        rank_col="_rank", with_group_count="_n",
    )
    per = (
        ranked.select(
            F.expr(f"div((_rank - 1) * {int(n_buckets)}, _n)")
            .alias("bucket"),
            "_y",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("_y").cast("bigint").alias("resp"),
        )
    )
    per = per.localCheckpoint(eager=False)  # bounded; feeds self-join
    tot = per.agg(
        F.sum("n").cast("bigint").alias("_tn"),
        F.sum("resp").cast("bigint").alias("_tr"),
    )
    # broadcast the inner side: a non-equi join of two non-broadcast
    # relations compiles to a CartesianProduct node even at 10 rows —
    # the broadcast form is a BroadcastNestedLoopJoin over the bounded
    # bucket table, which is the plan shape the repo's no-cartesian
    # lint admits
    cum = (
        per.alias("a")
        .join(
            F.broadcast(per.alias("b")),
            F.col("b.bucket") <= F.col("a.bucket"),
        )
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(
            F.sum("b.n").cast("bigint").alias("cum_n"),
            F.sum("b.resp").cast("bigint").alias("cum_resp"),
        )
    )
    return (
        per.join(cum, "bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            "n",
            "resp",
            F.expr("cast(div(resp * 1000000, n) as bigint)")
            .alias("rate_ppm"),
            "cum_n",
            "cum_resp",
            F.expr(
                "cast(if(_tr = 0, 0, div(cum_resp * 1000000, _tr)) "
                "as bigint)"
            ).alias("cum_capture_ppm"),
            # DECIMAL intermediates: cum_resp·n_total·10⁶ overflows
            # BIGINT past ~10⁶ total rows per responder — the decimal
            # product is exact to 38 digits and the quotient is
            # bounded by n_buckets·10⁶
            F.expr(
                "cast(if(_tr = 0, 0, "
                "div(cast(cum_resp as decimal(38,0)) * _tn * 1000000, "
                "cast(cum_n as decimal(38,0)) * _tr)) as bigint)"
            ).alias("cum_lift_ppm"),
        )
        .orderBy("bucket")
    )
