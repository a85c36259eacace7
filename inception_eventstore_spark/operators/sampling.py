"""Deterministic sampling / splitting for training-data pipelines.

A training corpus needs reproducible, engine-independent assignment of
every document to train/val/test (and reproducible down-sampling for
mixture weighting) — `df.sample()`/`randomSplit()` are seed-dependent on
partitioning and not portable across engines or runs. The standard fix
is content-keyed hashing: bucket = H(seed || id) mod B, assign by
cumulative weight thresholds. Properties:

- deterministic under any partitioning, executor count, or engine
  (the hash is md5, identical everywhere);
- stable under corpus growth: a document's split never changes when
  other documents are added or removed;
- nested fractions: ``deterministic_sample(f1) ⊆ deterministic_sample(f2)``
  whenever f1 ≤ f2 — growing a mixture weight only ADDS documents.

All JVM-side column expressions (md5 + conv), no UDFs; one projection,
no shuffle. The 60-bit hash prefix keeps the value positive and exact
in a BIGINT (and in DuckDB's ``CAST('0x…' AS BIGINT)`` for the oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.local_df import local_df

#: Bucket space for split assignment — 1e6 gives weight resolution 1e-6.
BUCKETS = 1_000_000


def md5_prefix60(col: Column) -> Column:
    """Portable 60-bit content hash: the first 15 hex digits of
    md5(UTF-8 bytes) as a BIGINT — identical in any engine with md5
    (DuckDB twin: ``CAST(concat('0x', substr(md5(x), 1, 15)) AS
    BIGINT)``). The single definition all portable-hash surfaces share
    (bucket sampling here, the SimHash md5 bit-source in
    operators/dedup.py) so the cross-engine arithmetic can never
    drift between them."""
    return F.conv(
        F.substring(F.md5(F.encode(col, "UTF-8")), 1, 15), 16, 10
    ).cast("bigint")


def hash_bucket(col: Column | str, seed: str = "v1",
                buckets: int = BUCKETS) -> Column:
    """Portable uniform bucket in [0, buckets): md5 of ``seed:value``,
    60-bit prefix as BIGINT, mod buckets."""
    c = F.col(col) if isinstance(col, str) else col
    h = md5_prefix60(F.concat(F.lit(seed + ":"), c.cast("string")))
    return F.pmod(h, F.lit(buckets))


def hash_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: str = "v1",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by cumulative weight thresholds
    over its hash bucket. Default 80/10/10 train/val/test.

    Weights must sum to ≤ 1 + 1e-9; any residual mass (weights summing
    below 1) falls into the LAST split, so the assignment is total."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    if not weights:
        raise ValueError("weights must be non-empty")
    total = sum(weights.values())
    if total > 1 + 1e-9:
        raise ValueError(f"split weights sum to {total} > 1")
    b = hash_bucket(id_col, seed)
    names = list(weights)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name]
        cond = b < int(round(cum * BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, out)


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    seed: str = "v1",
) -> DataFrame:
    """Keep rows with bucket < fraction·BUCKETS — reproducible threshold
    sampling; samples at growing fractions are nested."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.where(hash_bucket(id_col, seed) < int(round(fraction * BUCKETS)))


def stratified_hash_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "v1",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the language/domain
    re-balancing step of a training mixture (keep 100% of a rare
    language, 10% of an over-represented one). Same hash-threshold
    mechanics as ``deterministic_sample``, so per-stratum samples are
    nested under rate increases and stable under corpus growth; strata
    missing from ``rates`` get ``default_rate``.

    One codegen'd projection (CASE over the strata thresholds), no
    shuffle — unlike ``df.sampleBy``, which is seed-and-partitioning
    dependent and not reproducible across engines."""
    for k, v in rates.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rate for {k!r} must be in [0, 1], got {v}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    c = F.col(strata_col).cast("string")
    thr: Column = F.lit(int(round(default_rate * BUCKETS)))
    for k, v in rates.items():
        thr = F.when(c == k, F.lit(int(round(v * BUCKETS)))).otherwise(thr)
    return df.where(hash_bucket(id_col, seed) < thr)


def temperature_mixture(
    df: DataFrame,
    domain_col: str = "lang",
    alpha: float = 0.5,
    id_col: str = "doc_id",
    seed: str = "v1",
) -> DataFrame:
    """Temperature-flattened domain mixture (the multilingual-LM
    re-balancing rule, e.g. mBERT/XLM-R exponent sampling): resample
    each domain d with weight w_d ∝ p_d^alpha where p_d is its corpus
    share — alpha < 1 up-weights rare domains, alpha = 1 keeps the
    natural distribution. Expected output size stays ≈ |df| (a domain's
    keep fraction min(1, w_d·N/n_d) caps at 1, so over-asked rare
    domains keep everything rather than duplicating rows).

    Same deterministic hash-threshold mechanics as the other samplers:
    the per-domain fractions come from one tiny count aggregate (rows =
    #domains, collected driver-side), baked into a single codegen'd
    CASE projection — the corpus itself is never shuffled, and the
    sample is reproducible across engines and corpus growth."""
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    # NULL domains form their own domain (sentinel key) — they are
    # sampled like any other instead of silently dropped by the CASE /
    # join mismatch on NULL
    _NULL = "\x00__null_domain__"
    c = F.coalesce(F.col(domain_col).cast("string"), F.lit(_NULL))
    counts = df.groupBy(c.alias("_d")).agg(F.count("*").alias("_n")).collect()
    if not counts:
        return df
    by_domain = {r["_d"]: int(r["_n"]) for r in counts}
    total = sum(by_domain.values())
    weights = {d: (n / total) ** alpha for d, n in by_domain.items()}
    wsum = sum(weights.values())
    fractions = {
        d: min(1.0, (w / wsum) * total / by_domain[d])
        for d, w in weights.items()
    }
    if len(fractions) <= 64:
        # few domains: bake thresholds into one codegen'd CASE chain —
        # zero joins, zero shuffles
        thr: Column = F.lit(0)
        for d, frac in fractions.items():
            thr = F.when(
                c == d, F.lit(int(round(frac * BUCKETS)))
            ).otherwise(thr)
        return df.where(hash_bucket(id_col, seed) < thr)
    # many domains (e.g. per-site sampling): a 10k-branch CASE blows up
    # plan compilation — broadcast a threshold table instead; the
    # corpus side still never shuffles
    spark = df.sparkSession
    thr_df = spark.createDataFrame(
        [(d, int(round(frac * BUCKETS))) for d, frac in fractions.items()],
        "_d string, _thr long",
    )
    return (
        df.join(F.broadcast(thr_df), c == F.col("_d"), "inner")
        .where(hash_bucket(id_col, seed) < F.col("_thr"))
        .drop("_d", "_thr")
    )


def mix_corpora(
    sources: list[tuple[DataFrame, float]],
    id_col: str = "doc_id",
    seed: str = "v1",
    source_col: str = "source",
) -> DataFrame:
    """Weighted corpus mixture: down-sample each source to its weight
    (deterministic threshold sampling, per-source seed) and union with a
    ``source`` tag. Columns are aligned by name; each input must share
    the schema. Raising a weight later only adds documents (nesting), so
    mixtures are refinable without resampling the world."""
    if not sources:
        raise ValueError("sources must be non-empty")
    parts = []
    for i, (df, w) in enumerate(sources):
        tagged = deterministic_sample(
            df, w, id_col, f"{seed}/{i}"
        ).withColumn(source_col, F.lit(i))
        parts.append(tagged)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def epoch_shuffle_rank(
    df: DataFrame,
    id_col: str = "doc_id",
    epoch: int = 0,
    seed: str = "shuffle",
    shard_size: int = 1_000_000,
) -> DataFrame:
    """Deterministic global training-order: adds ``shuffle_rank`` —
    the row's 1-based position in the epoch's pseudo-random permutation
    (portable md5 order keyed by (seed, epoch, id), the same arithmetic
    every sampling surface here uses, so any engine reproduces the
    exact epoch order).

    Every epoch is a DIFFERENT permutation (the epoch number is part of
    the hash key) yet each is fully reproducible — the property a
    resumable training loop needs: re-running epoch 3 after a crash
    yields byte-identical batch order with no stored permutation state.

    Scale: two-phase shard rank, NOT one global row_number (an
    unpartitioned Window funnels the whole corpus through a single
    task — the anti-pattern packing.token_offsets exists to avoid).
    The md5 key is uniform on [0, 2^60), so fixed-width key ranges
    ARE balanced shards with no boundary sampling: rank = the shard's
    exclusive row-count prefix (a #shards-row driver fold, broadcast
    back) + row_number within the shard. Equal keys share a shard by
    construction, so (shard, _k, id) order IS the global (_k, id)
    order and the ranks are identical to the single-window form —
    the oracle pins that rank-for-rank. For writing shuffled SHARDS,
    skip the rank and ``repartitionByRange(_k).sortWithinPartitions
    (_k)`` directly: same layout, no rank columns at all.
    """
    k = md5_prefix60(
        F.concat(
            F.lit(f"{seed}:{int(epoch)}:"),
            F.col(id_col).cast("string"),
        )
    )
    keyed = df.withColumn("_k", k)
    # pin the lineage before the multi-job rank: the count, the shard
    # offsets and the final ranked plan must all see the SAME rows —
    # if df's lineage were non-deterministic (sample(), shuffle
    # repartition) the offsets of job 2 could disagree with the rows
    # ranked in job 3, yielding duplicate/gapped ranks. eager=False:
    # the count() below is the first action and materializes it once.
    keyed = keyed.localCheckpoint(eager=False)
    n = keyed.count()
    n_shards = max(1, min(1 << 16, (n + shard_size - 1) // shard_size))
    width = (1 << 60) // n_shards + 1
    sharded = keyed.withColumn(
        "_shard", F.expr(f"_k div {width}").cast("long")
    )
    counts = (
        sharded.groupBy("_shard").agg(F.count("*").alias("_n")).collect()
    )
    offsets, acc = {}, 0
    for row in sorted(counts, key=lambda r: r["_shard"]):
        offsets[row["_shard"]] = acc
        acc += int(row["_n"])
    off_df = df.sparkSession.createDataFrame(
        [(int(s), int(o)) for s, o in offsets.items()],
        "_shard long, _shard_off long",
    )
    w = Window.partitionBy("_shard").orderBy(F.col("_k"), F.col(id_col))
    return (
        sharded.join(F.broadcast(off_df), "_shard")
        .withColumn(
            "shuffle_rank",
            (F.col("_shard_off") + F.row_number().over(w)).cast("bigint"),
        )
        .drop("_k", "_shard", "_shard_off")
    )


def length_bucketed_batches(
    df: DataFrame,
    length_col: str,
    batch_size: int,
    id_col: str = "doc_id",
    bucket_edges: tuple = (64, 128, 256, 512, 1024, 2048),
    epoch: int = 0,
    seed: str = "lenbatch",
) -> DataFrame:
    """Batch assignment for padding-efficient training: rows are
    length-bucketed (≤ each edge, else overflow), pseudo-randomly
    ordered WITHIN their bucket (md5, epoch-keyed), and numbered into
    batches of ``batch_size`` — so a batch mixes only similar lengths
    and padding waste is bounded by its bucket's spread, while order
    stays reproducible per epoch.

    Returns the input plus ``len_bucket``, ``batch_idx`` (global,
    bucket-major) and ``pos_in_batch``. One window shuffle partitioned
    by bucket; the bucket-major batch numbering folds the per-bucket
    batch counts in from a #buckets-row aggregate (no second pass over
    the data).
    """
    edges = sorted(set(int(e) for e in bucket_edges))
    b = F.lit(len(edges))
    for i, e in enumerate(reversed(edges)):
        b = F.when(
            F.col(length_col) <= F.lit(e), F.lit(len(edges) - 1 - i)
        ).otherwise(b)
    k = md5_prefix60(
        F.concat(
            F.lit(f"{seed}:{int(epoch)}:"), F.col(id_col).cast("string")
        )
    )
    w = Window.partitionBy("len_bucket").orderBy("_k", id_col)
    rows = (
        df.withColumn("len_bucket", b.cast("int"))
        .withColumn("_k", k)
        .withColumn("_rn", F.row_number().over(w) - 1)
        .drop("_k")
    )
    # per-bucket batch counts → exclusive prefix over bucket ids gives
    # each bucket's global batch offset (|buckets| rows on the driver)
    counts = (
        rows.groupBy("len_bucket")
        .agg(F.count("*").alias("_n"))
        .collect()
    )
    n_batches = {
        r["len_bucket"]: (int(r["_n"]) + batch_size - 1) // batch_size
        for r in counts
    }
    offsets, acc = {}, 0
    for bk in sorted(n_batches):
        offsets[bk] = acc
        acc += n_batches[bk]
    off_df = df.sparkSession.createDataFrame(
        [(int(bk), int(o)) for bk, o in offsets.items()],
        "len_bucket int, _off long",
    )
    return (
        rows.join(F.broadcast(off_df), "len_bucket")
        .withColumn(
            "batch_idx",
            (F.col("_off") + (F.col("_rn") / batch_size).cast("long")).cast(
                "bigint"
            ),
        )
        .withColumn(
            "pos_in_batch", (F.col("_rn") % batch_size).cast("bigint")
        )
        .drop("_rn", "_off")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: str = "v1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — exactly
    ``k`` rows drawn with inclusion probability proportional to
    ``weight_col`` (Efraimidis & Spirakis 2006, algorithm A-ES):

        key(row) = ln(u) / w,   u = portable md5-uniform in (0, 1)

    and the sample is the k LARGEST keys (ln u < 0, so a big weight
    divides the penalty toward 0). One projection + a global top-k
    (TakeOrdered — per-partition heaps of k rows, never a full sort),
    no shuffle of the table body; re-running with the same seed returns
    the identical sample on any engine with md5 — the same
    growth-stable portability contract as `hash_split` /
    `stratified_hash_sample`, which cover the UNweighted cases.
    Non-positive / NULL weights are excluded (they have probability 0).

    The RANK key is the A-ES key rounded at 12 dp — enough to absorb
    cross-engine ln() ulp jitter (these keys' ulp is ~1e-19) without
    destroying the statistic: at 6 dp, keys for large weights compress
    toward 0 (w≈2000 puts ~0.1% of rows inside one rounding bucket of
    0) and the cut degenerates into id-ordered ties, so inclusion is
    no longer ∝ weight. ``sample_key`` (6 dp) stays as the audit
    column only; residual ties beyond 12 dp are cut by ``id_col``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    u = (
        md5_prefix60(
            F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 60))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_rank_key", F.round(key, 12))
        .withColumn("sample_key", F.round(key, 6))
        .orderBy(F.col("_rank_key").desc(), F.col(id_col))
        .limit(int(k))
        .drop("_rank_key")
    )


def weighted_sample_per_group(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_col: str,
    id_col: str = "doc_id",
    seed: str = "v1",
) -> DataFrame:
    """`weighted_sample`, stratified: k rows PER GROUP drawn ∝ weight
    (per-language / per-domain balanced corpora with quality-weighted
    inclusion). Same A-ES key arithmetic — including the 12-dp RANK
    key / 6-dp audit ``sample_key`` split (see `weighted_sample` for
    why 6 dp degenerates under large weights); the global TakeOrdered
    becomes one rank window partitioned by the group — a single
    shuffle on the group key, no per-group driver loops."""
    if k < 1:
        raise ValueError("k must be >= 1")
    u = (
        md5_prefix60(
            F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 60))
    key = F.log(u) / F.col(weight_col).cast("double")
    from pyspark.sql import Window as _W

    w = _W.partitionBy(group_col).orderBy(
        F.col("_rank_key").desc(), F.col(id_col)
    )
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_rank_key", F.round(key, 12))
        .withColumn("sample_key", F.round(key, 6))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= int(k))
        .drop("_rk", "_rank_key")
    )


def negative_sampling_intervals(
    docs: DataFrame,
    power: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(token, cnt, t_lo, t_hi) — the unigram^power inverse-CDF table
    behind word2vec negative sampling (Mikolov et al. 2013: p_i ∝
    cnt_i^0.75), with cumulative thresholds as EXACT integers in
    [0, 2⁶⁰]: token i owns u ∈ [t_lo, t_hi).

    Weights are QUANTIZED to integer micro-units — w_i =
    floor(cnt^power · 2²⁰) — for two reasons: (a) integer running
    sums are associative, so the vocabulary-sized prefix runs as the
    TWO-PHASE shard cumsum (`functions/ranking.sharded_running_sums`)
    instead of a ``partitionBy(lit(1))`` window that caps the
    vocabulary at one task (web vocabularies are billions of values),
    bit-identical to the sequential window the SQL oracle replays;
    (b) exact integer cums make the interval algebra closed: t_lo =
    floor((cum−w)/total · 2⁶⁰) IS the previous row's t_hi (no lag
    window), and the last t_hi = floor(total/total · 2⁶⁰) = 2⁶⁰
    exactly (no row-count pin). The 2⁻²⁰ relative quantization of the
    sampling distribution is far below the ±cnt^-0.5 estimation noise
    of the counts themselves."""
    from inception_eventstore_spark.functions.ranking import (
        sharded_running_sums,
    )
    from inception_eventstore_spark.operators.dedup import tokens

    vocab = (
        docs.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "_w",
            F.floor(
                F.pow(F.col("cnt").cast("double"), float(power))
                * F.lit(float(1 << 20))
            ).cast("long"),
        )
    )
    cum = sharded_running_sums(
        vocab, [F.col("cnt").desc(), F.col("token")], ["_w"]
    )
    row = cum.agg(F.sum("_w").alias("_t")).first()
    total = int(row["_t"] or 0)
    if not total:
        raise ValueError("corpus has no tokens")
    scale = F.lit(float(1 << 60))
    tot = F.lit(float(total))
    return cum.select(
        "token",
        "cnt",
        F.floor(
            (F.col("_w_cum") - F.col("_w")).cast("double") / tot * scale
        ).cast("bigint").alias("t_lo"),
        F.floor(F.col("_w_cum").cast("double") / tot * scale)
        .cast("bigint").alias("t_hi"),
    )


def sample_negatives(
    docs: DataFrame,
    n: int,
    power: float = 0.75,
    seed: str = "v1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(sample_id, token) — ``n`` deterministic negative samples drawn
    from the unigram^power distribution: md5-uniform 60-bit keys
    matched into the inverse-CDF intervals via the in-repo bucketized
    `range_join` (hash join on bucket ids — NO nested-loop, the whole
    point of that operator). Reproducible from the seed; the declared
    oracle re-derives every sample."""
    from inception_eventstore_spark.operators.joins import range_join

    if n < 1:
        raise ValueError("n must be >= 1")
    iv = negative_sampling_intervals(docs, power, id_col, text_col)
    samples = docs.sparkSession.range(int(n)).select(
        F.col("id").alias("sample_id"),
        md5_prefix60(
            F.concat(F.lit(f"neg:{seed}:"), F.col("id").cast("string"))
        ).alias("u"),
    )
    joined = range_join(
        samples, iv, point_col="u", lo_col="t_lo", hi_col="t_hi",
        bucket_width=1 << 48, bounds="[)",
    )
    return joined.select("sample_id", "token").orderBy("sample_id")


def quality_domain_weights(
    docs: DataFrame,
    score: DataFrame,
    domain_col: str = "lang",
    id_col: str = "doc_id",
    score_col: str = "lm_score",
    eta: float = 0.5,
) -> DataFrame:
    """(domain, n_docs, mean_score, weight): quality-driven domain
    mixture reweighting — the exponentiated-gradient update family of
    DoReMi (Xie et al. 2023): each domain's share is multiplied by
    exp(eta * (its mean quality - the global doc-weighted mean)) and
    renormalized,

        w_d  ∝  (n_d / N) * exp(eta * (q̄_d - q̄)),

    so above-average-quality domains gain mass smoothly (eta = 0 gives
    natural proportions; large eta approaches winner-take-most). The
    complement of `temperature_mixture`, which reweights by SIZE alone.

    ``score`` is any (id, score) table — the CCNet-style
    `lm.bigram_lm_score` fluency signal by default; docs missing from
    it (unscoreable) are excluded, as in the bucketing pipeline.
    ``eta`` should be a BINARY rational (0.5, 0.25, …): exact in both
    engines, so exp() arguments agree to the ulp (repo rounding
    invariant). Output weights round at 6 dp.

    Scale: one broadcast-sized groupBy per domain (|domains| rows),
    driver-free — the weights come out as a DataFrame ready to
    broadcast-join onto a sampler.
    """
    joined = docs.select(id_col, domain_col).join(
        score.select(id_col, F.col(score_col).alias("_q")), id_col
    )
    # ONE pass over the scored join (r12, guide §2.4): `joined` used to
    # feed the per-domain groupBy AND a separate global aggregate — the
    # whole upstream scoring chain (for the declared query, a full
    # bigram-LM pass) executed twice. The global totals are exact
    # functions of the per-domain sums, so aggregate once per domain
    # (carrying Σq), eager-checkpoint the |domains|-row result, and
    # derive N and the global doc-weighted mean from it. gq moves from
    # avg-over-docs to Σ(domain sums)/N — a float-summation-order
    # change of ~1 ulp, far inside the 6-dp rounding margin (validated
    # against the unchanged oracle at sf0.001/0.01/0.1).
    per = joined.groupBy(domain_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("_q").alias("_sq"),
        F.avg("_q").alias("_mq"),
    ).localCheckpoint(eager=True)
    tot = per.agg(
        F.sum("n_docs").alias("_n"),
        (F.sum("_sq") / F.sum("n_docs")).alias("_gq"),
    )
    raw = per.crossJoin(F.broadcast(tot)).select(
        domain_col,
        "n_docs",
        "_mq",
        (
            (F.col("n_docs") / F.col("_n"))
            * F.exp(F.lit(float(eta)) * (F.col("_mq") - F.col("_gq")))
        ).alias("_w"),
    )
    z = raw.agg(F.sum("_w").alias("_z"))
    return (
        raw.crossJoin(F.broadcast(z))
        .select(
            domain_col,
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.round("_mq", 6).alias("mean_score"),
            F.round(F.col("_w") / F.col("_z"), 6).alias("weight"),
        )
        .orderBy(domain_col)
    )


def token_budget_allocation(
    docs: DataFrame,
    weights: DataFrame,
    budget: int,
    domain_col: str = "lang",
    tok_col: str = "n_tok",
    weight_col: str = "weight",
) -> DataFrame:
    """(domain, n_docs, tot_tok, target_tok, alloc_tok, sample_rate):
    turn a domain mixture (any (domain, weight) table — DoReMi output,
    temperature weights, hand-set) plus a TOKEN budget into the
    concrete per-domain sampling plan a corpus job executes:

        target_tok = floor(weight * budget)
        alloc_tok  = min(tot_tok, target_tok)   -- integer-exact
        sample_rate = min(1, target_tok / tot_tok), 6 dp

    ``alloc_tok < target_tok`` exposes UNDERSUPPLIED domains (the
    mixture wants more of them than the corpus has) — the report a
    pipeline inspects before re-normalizing or relaxing weights;
    the min keeps every number an exact integer on any engine
    (no floor-of-double-product boundary to disagree about, repo
    rounding invariant). Two |domains|-row aggregates + one broadcast
    join; the corpus shuffles once on the domain key."""
    if budget < 0:
        raise ValueError("budget must be >= 0")
    per = docs.groupBy(domain_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col(tok_col).cast("long")).alias("tot_tok"),
    )
    w = weights.select(domain_col, F.col(weight_col).alias("_w"))
    target = F.floor(F.col("_w") * F.lit(float(budget))).cast("bigint")
    return (
        per.join(F.broadcast(w), domain_col)
        .withColumn("target_tok", target)
        .select(
            domain_col,
            "n_docs",
            F.col("tot_tok").cast("bigint").alias("tot_tok"),
            "target_tok",
            F.least("tot_tok", "target_tok").cast("bigint").alias(
                "alloc_tok"
            ),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("target_tok").cast("double") / F.col("tot_tok"),
                ),
                6,
            ).alias("sample_rate"),
        )
        .orderBy(domain_col)
    )


def grouped_kfold(
    df: DataFrame,
    k: int = 5,
    group_col: str = "user_id",
    seed: str = "v1",
    fold_col: str = "fold",
) -> DataFrame:
    """Add ``fold_col`` in [0, k): group-aware k-fold assignment — every
    row of a GROUP lands in the same fold (fold = portable hash of the
    group value, not the row id), the split discipline that prevents
    train/test leakage through entity overlap (a user's events, a
    domain's documents, a near-dup cluster's survivors must never
    straddle folds). Same content-keyed md5 mechanics as `hash_split`:
    deterministic under any partitioning, any engine, any retry; no
    shuffle — the assignment is a map-side expression."""
    if k < 2:
        raise ValueError("k must be >= 2")
    return df.withColumn(
        fold_col,
        F.pmod(
            md5_prefix60(
                F.concat(
                    F.lit(f"kfold-{seed}:"),
                    F.col(group_col).cast("string"),
                )
            ),
            F.lit(int(k)),
        ).cast("int"),
    )


def kfold_leakage_report(
    df: DataFrame,
    k: int = 5,
    group_col: str = "user_id",
    seed: str = "v1",
) -> DataFrame:
    """(fold, n_rows, n_groups, leaked_groups) — per-fold sizes of a
    `grouped_kfold` assignment plus the invariant that makes it
    group-aware: ``leaked_groups`` (groups appearing in more than one
    fold) is 0 BY CONSTRUCTION, and this report proves it from the
    data rather than the code. One partial-aggregated (group, fold)
    rollup — |groups| rows shuffle, never the input."""
    folded = grouped_kfold(df, k, group_col, seed)
    per_group = folded.groupBy(group_col).agg(
        F.count("*").alias("_rows"),
        F.min("fold").alias("fold"),
        F.countDistinct("fold").alias("_nf"),
    )
    return (
        per_group.groupBy("fold")
        .agg(
            F.sum("_rows").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("_nf") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("leaked_groups"),
        )
        .select(
            F.col("fold").cast("int").alias("fold"),
            "n_rows",
            "n_groups",
            "leaked_groups",
        )
    )


# Truncated-Poisson(1) CDF thresholds on a 20-bit lane domain:
# P(W <= i) for i = 0..3, scaled by 2^20 and floored. A draw u is a
# 20-bit lane value in [0, 2^20) — one md5 yields three such lanes
# (the CLAUDE.md lane-split rule) — mapping to the first i with
# u < threshold, else 4. Exact integer literals shared by the Spark
# plan and the oracle generator below — the two sides can never drift.
import math as _math

_POISSON1_CDF = [
    _math.exp(-1.0),
    2.0 * _math.exp(-1.0),
    2.5 * _math.exp(-1.0),
    (8.0 / 3.0) * _math.exp(-1.0),
]
POISSON1_THRESHOLDS = [int(c * float(1 << 20)) for c in _POISSON1_CDF]


def _poisson1_weight(u: Column) -> Column:
    """Truncated Poisson(1) weight (0..4) from a uniform 20-bit draw
    (granularity 2^-20 ≈ 1e-6 against the CDF — far inside bootstrap
    noise; 20 bits so one 60-bit md5 serves THREE replicates)."""
    t = POISSON1_THRESHOLDS
    return (
        F.when(u < t[0], 0)
        .when(u < t[1], 1)
        .when(u < t[2], 2)
        .when(u < t[3], 3)
        .otherwise(4)
    )


def poisson_bootstrap_ci(
    df: DataFrame,
    key_col: str,
    value_col: str,
    b: int = 200,
    alpha: float = 0.05,
    seed: str = "v1",
) -> DataFrame:
    """Percentile bootstrap CI for the mean of ``value_col`` via the
    Poisson bootstrap (Chamandy 2012, "Estimating uncertainty for
    massive data streams" — the resampling scheme that works in one
    streaming pass): instead of drawing n rows with replacement per
    replicate (impossible without global coordination), each row
    contributes an independent Poisson(1) weight per replicate, here a
    DETERMINISTIC truncated-Poisson draw from the portable 60-bit md5
    hash of (seed, replicate, key) so the whole procedure replays
    bit-identically in any engine.

    Scale shape: one projection explodes each row into ``b``
    (replicate, weight) pairs — map-side only — and a partial-first
    groupBy reduces them to exactly ``b`` (sum_w, sum_wx) integer
    pairs; value quantization is ``floor(value · 2^20)`` (binary
    fixed-point, exact in doubles). The bounded b-row table crosses to
    the driver where the order statistics are picked (the km_survival
    bounded-axis pattern); no window, no python UDF, no full-data
    shuffle — the log never moves, only b rows do.

    Output (one row): n_rows, b, mean_full, boot_median, ci_lo, ci_hi
    (doubles rounded 6dp in-plan). Replicate means are doubles
    computed as float(sum_wx)/float(sum_w)/2^20 with ties broken by
    replicate id, so selection is deterministic; a replicate with zero
    total weight (only possible for tiny inputs) is excluded from the
    order statistics.
    """
    if b < 8:
        raise ValueError(f"b must be >= 8, got {b}")
    lo_rank = max(1, _math.ceil(alpha / 2.0 * b))
    micros = F.floor(F.col(value_col) * F.lit(1048576.0)).cast("bigint")
    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(key_col).cast("string").alias("_k"),
        micros.alias("_v"),
    )
    totals = base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("_v").cast("bigint").alias("sv"),
    ).collect()[0]
    n_rows, sum_micros = int(totals["n"]), int(totals["sv"] or 0)

    # spread the b-way explode across cores BEFORE it multiplies the
    # data: a small input often arrives as one parquet partition, and
    # without this the whole rows·b hash work runs in a single task
    # (observed: 36 s → ~3 s at sf0.1·b=200 on local[32])
    base = base.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col("_k")
    )
    # one md5 per (key, 3-replicate block): the 60-bit hash splits
    # into three independent 20-bit draws (rep mod 3 picks the lane),
    # cutting the dominant hashing cost 3x at identical statistics
    blk = F.explode(
        F.sequence(F.lit(0), F.lit((b + 2) // 3 - 1))
    ).alias("_blk")
    h = md5_prefix60(
        F.concat(
            F.lit(f"boot:{seed}:"),
            F.col("_blk").cast("string"),
            F.lit(":"),
            F.col("_k"),
        )
    )
    lanes = F.array(
        F.pmod(F.col("_h"), F.lit(1 << 20)),
        F.pmod(F.expr("div(_h, 1048576)"), F.lit(1 << 20)),
        F.expr("div(_h, 1099511627776)"),
    )
    reps = (
        base.select("_k", "_v", blk)
        .withColumn("_h", h)
        .select(
            "_k",
            "_v",
            "_blk",
            F.posexplode(lanes).alias("_l", "_u"),
        )
        .select(
            "_k",
            "_v",
            (F.col("_blk") * 3 + F.col("_l")).alias("rep"),
            "_u",
        )
        .where(F.col("rep") < b)
        .withColumn("_w", _poisson1_weight(F.col("_u")).cast("bigint"))
        .groupBy("rep")
        .agg(
            F.sum("_w").cast("bigint").alias("sw"),
            F.sum(F.col("_w") * F.col("_v")).cast("bigint").alias("swx"),
        )
        .collect()
    )
    means = sorted(
        (float(r["swx"]) / float(r["sw"]) / 1048576.0, int(r["rep"]))
        for r in reps
        if int(r["sw"]) > 0
    )
    nb = len(means)
    med = means[(nb + 1) // 2 - 1][0]
    lo = means[lo_rank - 1][0]
    hi = means[nb - lo_rank][0]
    mean_full = float(sum_micros) / float(n_rows) / 1048576.0

    raw = local_df(
        df.sparkSession,
        [(n_rows, b, mean_full, med, lo, hi)],
        "n_rows bigint, b bigint, mean_full double, boot_median double, "
        "ci_lo double, ci_hi double",
    )
    return raw.select(
        "n_rows",
        "b",
        F.round("mean_full", 6).alias("mean_full"),
        F.round("boot_median", 6).alias("boot_median"),
        F.round("ci_lo", 6).alias("ci_lo"),
        F.round("ci_hi", 6).alias("ci_hi"),
    )


def poisson_bootstrap_oracle_sql(
    source_sql: str,
    key_expr: str,
    value_expr: str,
    b: int = 200,
    alpha: float = 0.05,
    seed: str = "v1",
) -> str:
    """DuckDB twin of ``poisson_bootstrap_ci`` — same hash, same
    integer thresholds, same fixed-point quantization, same order
    statistics. Generated from the SAME python threshold constants."""
    t = POISSON1_THRESHOLDS
    lo_rank = max(1, _math.ceil(alpha / 2.0 * b))
    return f"""
WITH src AS (SELECT CAST({key_expr} AS VARCHAR) AS k,
    CAST(floor(({value_expr}) * 1048576.0) AS BIGINT) AS v
  FROM ({source_sql}) s WHERE {value_expr} IS NOT NULL),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(v) AS BIGINT) AS sv FROM src),
blocks AS (SELECT r.blk, k, v,
    CAST(concat('0x', substr(md5(concat('boot:{seed}:',
      CAST(r.blk AS VARCHAR), ':', k)), 1, 15)) AS BIGINT) AS h
  FROM src CROSS JOIN range(0, {(b + 2) // 3}) r(blk)),
reps AS (SELECT blk * 3 + lane AS rep, v,
    CASE lane WHEN 0 THEN h % 1048576
              WHEN 1 THEN (h // 1048576) % 1048576
              ELSE h // 1099511627776 END AS u
  FROM blocks CROSS JOIN range(0, 3) l(lane)
  WHERE blk * 3 + lane < {b}),
w AS (SELECT rep,
    CASE WHEN u < {t[0]} THEN 0 WHEN u < {t[1]} THEN 1
         WHEN u < {t[2]} THEN 2 WHEN u < {t[3]} THEN 3
         ELSE 4 END AS w, v
  FROM reps),
agg AS (SELECT rep, CAST(sum(w) AS BIGINT) AS sw,
    CAST(sum(w * v) AS BIGINT) AS swx
  FROM w GROUP BY rep HAVING sum(w) > 0),
m AS (SELECT rep,
    CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) / 1048576.0 AS mu,
    row_number() OVER (ORDER BY CAST(swx AS DOUBLE)
      / CAST(sw AS DOUBLE) / 1048576.0, rep) AS r,
    count(*) OVER () AS nb
  FROM agg)
SELECT (SELECT n FROM tot) AS n_rows, CAST({b} AS BIGINT) AS b,
  round((SELECT CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0
    FROM tot), 6) AS mean_full,
  round(max(CASE WHEN r = (nb + 1) // 2 THEN mu END), 6)
    AS boot_median,
  round(max(CASE WHEN r = {lo_rank} THEN mu END), 6) AS ci_lo,
  round(max(CASE WHEN r = nb - {lo_rank} + 1 THEN mu END), 6) AS ci_hi
FROM m
"""


def permutation_pvalue(
    df: DataFrame,
    group_a: str = "click",
    group_b: str = "purchase",
    type_col: str = "event_type",
    value_col: str = "value",
    key_col: str = "event_id",
    b: int = 199,
    seed: str = "v1",
) -> DataFrame:
    """Two-sample permutation test for the difference of means —
    the assumption-free companion of `poisson_bootstrap_ci` and the
    parametric t-family: under H₀ the group labels are exchangeable,
    so relabel the pooled rows ``b`` times and ask how often the
    relabeled |mean_A − mean_B| reaches the observed one. p-value is
    the standard add-one rational (1 + #extreme)/(1 + b) (Phipson &
    Smyth 2010 — never exactly zero).

    The relabeling is the Bernoulli(n_a/n) RE-ALLOCATION form (each
    row independently redraws its label with the pooled treatment
    rate) rather than the exact-hypergeometric shuffle — the only
    form with a one-pass, coordination-free distributed execution;
    asymptotically equivalent, and the docstring says so rather than
    pretending otherwise.

    Determinism (the poisson_bootstrap recipe, label-flavored): one
    portable 60-bit md5 per (seed, 3-replicate block, row key) splits
    into three 20-bit lanes; a row joins pseudo-group A in replicate
    r iff its lane draw < div(n_a·2^20, n) (integer threshold,
    identical both engines); values are floor(v·2^20) fixed-point, so
    per-replicate sums are exact BIGINTs, every replicate mean is one
    fixed-order double of two exact integers, and the |T_r| ≥ |T_obs|
    comparisons are decided on bit-identical doubles. Fully in-plan:
    the b-row replicate table and the one-row observed statistic meet
    in a broadcast cross join; the final scalar agg's Exchange
    SinglePartition is the legitimate one-row fold.

    Scale: the explode multiplies rows by b MAP-SIDE ONLY and the
    partial-first groupBy collapses to b rows before any shuffle; the
    input is repartitioned first so a single-file parquet doesn't
    serialize the whole rows·b hash work onto one task (the
    poisson_bootstrap lesson).

    Output (one row): n_a, n_b, b, t_obs (6 dp), n_extreme, p_value
    (6 dp).
    """
    if b < 19:
        raise ValueError(f"b must be >= 19, got {b}")
    base = df.where(
        F.col(type_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).cast("string").alias("_k"),
        F.floor(F.col(value_col) * F.lit(1048576.0)).cast("bigint")
        .alias("_v"),
        F.when(F.col(type_col) == group_a, F.lit(1))
        .otherwise(F.lit(0)).cast("bigint").alias("_a"),
    )
    base = base.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col("_k")
    ).localCheckpoint(eager=False)  # observed agg + b-way explode
    obs = base.agg(
        F.sum("_a").cast("bigint").alias("_na"),
        F.sum(1 - F.col("_a")).cast("bigint").alias("_nb"),
        F.sum(F.col("_a") * F.col("_v")).cast("bigint").alias("_sva"),
        F.sum((1 - F.col("_a")) * F.col("_v")).cast("bigint")
        .alias("_svb"),
    ).withColumn(
        "_thresh",
        F.expr("div(_na * 1048576, _na + _nb)").cast("bigint"),
    )
    blk = F.explode(
        F.sequence(F.lit(0), F.lit((b + 2) // 3 - 1))
    ).alias("_blk")
    h = md5_prefix60(
        F.concat(
            F.lit(f"perm:{seed}:"),
            F.col("_blk").cast("string"),
            F.lit(":"),
            F.col("_k"),
        )
    )
    lanes = F.array(
        F.pmod(F.col("_h"), F.lit(1 << 20)),
        F.pmod(F.expr("div(_h, 1048576)"), F.lit(1 << 20)),
        F.expr("div(_h, 1099511627776)"),
    )
    reps = (
        base.select("_k", "_v", blk)
        .withColumn("_h", h)
        .select(
            "_k", "_v",
            F.posexplode(lanes).alias("_l", "_u"),
            F.col("_blk"),
        )
        .select(
            "_v",
            (F.col("_blk") * 3 + F.col("_l")).alias("_rep"),
            "_u",
        )
        .where(F.col("_rep") < b)
        .crossJoin(F.broadcast(obs.select("_thresh")))
        .withColumn(
            "_pa", F.when(F.col("_u") < F.col("_thresh"), F.lit(1))
            .otherwise(F.lit(0)).cast("bigint")
        )
        .groupBy("_rep")
        .agg(
            F.sum("_pa").cast("bigint").alias("_ra"),
            F.count("*").cast("bigint").alias("_rn"),
            F.sum(F.col("_pa") * F.col("_v")).cast("bigint")
            .alias("_rva"),
            F.sum((1 - F.col("_pa")) * F.col("_v")).cast("bigint")
            .alias("_rvb"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    t_obs = d("_sva") / d("_na") - d("_svb") / d("_nb")
    t_rep = d("_rva") / d("_ra") - d("_rvb") / (d("_rn") - d("_ra"))
    scored = reps.crossJoin(F.broadcast(obs)).select(
        "_na", "_nb", "_sva", "_svb",
        F.when(
            (F.col("_ra") > 0) & (F.col("_rn") > F.col("_ra"))
            & (F.abs(t_rep) >= F.abs(t_obs)),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("bigint").alias("_ex"),
    )
    agg = scored.groupBy().agg(
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
        F.max("_sva").alias("_sva"),
        F.max("_svb").alias("_svb"),
        F.sum("_ex").cast("bigint").alias("n_extreme"),
    )
    t_final = (
        d("_sva") / d("n_a") - d("_svb") / d("n_b")
    ) / F.lit(1048576.0)
    return agg.select(
        "n_a", "n_b",
        F.lit(int(b)).cast("bigint").alias("b"),
        (F.round(t_final, 6) + F.lit(0.0)).alias("t_obs"),
        "n_extreme",
        (
            F.round(
                (F.col("n_extreme") + 1).cast("double")
                / F.lit(float(b + 1)),
                6,
            )
            + F.lit(0.0)
        ).alias("p_value"),
    )


def target_encode_kfold(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    k: int = 5,
    group_col: str = "user_id",
    seed: str = "v1",
) -> DataFrame:
    """Out-of-fold target encoding — the leakage-free way to turn a
    categorical column into a numeric feature: rows in fold f are
    encoded with the target mean of the category computed over the
    OTHER folds only (Micci-Barreca 2001's mean encoding, k-fold
    variant), so a row never sees its own target. Folds come from
    `grouped_kfold` (group-aware, content-keyed md5), so the encoding
    inherits the no-entity-straddle discipline.

    Exactness: the target is quantized to q = floor(target·2^20)
    BIGINT; per-(category, fold) sums/counts and the category totals
    are exact integers, and the encoding is the exact integer division
    ``enc_u = div(S_cat − S_cat,f, n_cat − n_cat,f)`` (2^20
    micro-units, truncation identical in both engines) — no doubles
    anywhere.

    Scale: ONE partial-aggregated (category, fold) rollup; the
    category totals re-aggregate those |cats|·k rows; output is the
    bounded (category, fold) encoding table a training job broadcast-
    joins back to the corpus. Output: cat, fold, n_in (rows of the
    fold), n_out, enc_u (NULL when the fold holds the whole category).
    """
    folded = grouped_kfold(df, k, group_col, seed)
    cells = (
        folded.where(
            F.col(cat_col).isNotNull() & F.col(target_col).isNotNull()
        )
        .groupBy(
            F.col(cat_col).alias("cat"), F.col("fold").cast("bigint").alias("fold")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_in"),
            F.sum(
                F.floor(F.col(target_col) * 1048576.0).cast("bigint")
            ).cast("bigint").alias("_s_in"),
        )
    )
    totals = cells.groupBy("cat").agg(
        F.sum("n_in").cast("bigint").alias("_n_tot"),
        F.sum("_s_in").cast("bigint").alias("_s_tot"),
    )
    return (
        cells.join(F.broadcast(totals), "cat")
        .select(
            "cat",
            "fold",
            "n_in",
            (F.col("_n_tot") - F.col("n_in")).alias("n_out"),
            F.when(
                F.col("_n_tot") > F.col("n_in"),
                F.expr("div(_s_tot - _s_in, _n_tot - n_in)"),
            ).cast("bigint").alias("enc_u"),
        )
    )
