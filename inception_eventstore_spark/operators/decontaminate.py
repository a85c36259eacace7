"""Benchmark decontamination for LLM training corpora.

Training data that overlaps an evaluation benchmark inflates eval
scores; standard practice (GPT-3 appendix C, The Pile, Dolma) removes
any training document sharing a long-enough word n-gram with the
benchmark. This module is the Spark-first formulation:

1. ``ngram_hashes``: each doc → distinct xxhash64 of its word
   ``n``-grams (JVM expressions only — the tokens array is staged as a
   real column BEFORE the gram lambda, per the repo invariant: a
   ``tokens(text)`` call inside ``transform`` re-splits the text per
   element).
2. ``contaminated_ids``: explode the BENCHMARK side (the small side —
   benchmarks are a few thousand docs even when the corpus is 100 TB)
   into a distinct hash set, and LEFT SEMI broadcast-join the exploded
   training grams against it. Only 8-byte hashes ever shuffle, and the
   broadcast means the training table is touched in a single map-side
   pass: no shuffle of the 100 TB side at all.
3. ``decontaminate``: anti-join the flagged ids back out (or keep them
   with a flag for audit via ``flag_contamination``).

Contamination is judged on normalized tokens (lower-case, whitespace
split) so cosmetic differences don't hide overlap — the same
normalization both The Pile and Dolma apply.

At 100 TB: the benchmark gram set is O(benchmark tokens) ≈ MBs —
broadcast-able by construction; the training side is scanned once,
grams are generated inline in codegen, and the semi-join is map-side.
The only wide operation is the final ``distinct`` on contaminated ids,
whose input is already a tiny fraction of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inception_eventstore_spark.operators.dedup import tokens


def _gram_hashes(toks: Column, n: int) -> Column:
    """Distinct xxhash64 of every ``n``-gram of a staged token array.

    ``transform(sequence(...))`` indexes the SAME array column n times
    per gram — cheap — instead of re-tokenizing, and hashing the
    space-joined gram keeps the downstream join payload at 8 bytes.

    Guarded for short docs: Spark's ``sequence(1, 0)`` DESCENDS
    ([1, 0]) instead of being empty, so docs with < n tokens must
    yield an explicit empty array (both public callers also filter
    them out up front)."""
    length = F.size(toks)
    starts = F.sequence(F.lit(1), length - F.lit(n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]
    )
    grams = F.array_distinct(
        F.transform(starts, lambda i: F.xxhash64(gram(i)))
    )
    empty = F.array().cast("array<bigint>")
    return F.when(length >= n, grams).otherwise(empty)


def ngram_hashes(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, gram_hash) — one row per distinct word n-gram per document.

    Documents shorter than ``n`` tokens produce no rows (they cannot
    carry a full n-gram, matching the n-gram-overlap definition)."""
    staged = docs.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).where(F.size("_toks") >= n)
    return staged.select(
        F.col(id_col),
        F.explode(_gram_hashes(F.col("_toks"), n)).alias("gram_hash"),
    )


def benchmark_gram_set(
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Distinct gram hashes of the benchmark — the broadcast side."""
    staged = benchmark.select(tokens(text_col).alias("_toks")).where(
        F.size("_toks") >= n
    )
    return (
        staged.select(
            F.explode(_gram_hashes(F.col("_toks"), n)).alias("gram_hash")
        )
        .distinct()
    )


def contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ids of training docs sharing ≥1 word n-gram with the benchmark.

    The benchmark gram set is broadcast: the training side is a single
    map-side semi-join pass with no shuffle of the corpus."""
    grams = ngram_hashes(docs, n=n, id_col=id_col, text_col=text_col)
    bench = benchmark_gram_set(benchmark, n=n, text_col=text_col)
    return (
        grams.join(F.broadcast(bench), "gram_hash", "left_semi")
        .select(id_col)
        .distinct()
    )


def flag_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """docs + a boolean ``contaminated`` column (audit mode)."""
    bad = contaminated_ids(
        docs, benchmark, n=n, id_col=id_col, text_col=text_col
    ).withColumn("contaminated", F.lit(True))
    return docs.join(F.broadcast(bad), id_col, "left").withColumn(
        "contaminated", F.coalesce("contaminated", F.lit(False))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """docs with every benchmark-overlapping document removed.

    The contaminated id set (tiny) is broadcast for the anti-join, so
    the corpus again moves through a single map-side pass."""
    bad = contaminated_ids(
        docs, benchmark, n=n, id_col=id_col, text_col=text_col
    )
    return docs.join(F.broadcast(bad), id_col, "left_anti")


def contamination_fraction(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_grams, n_contaminated, overlap_frac): GRADED
    contamination — the fraction of each document's distinct word
    n-grams that appear in the benchmark, not just the binary flag.
    A doc quoting one benchmark sentence scores ~0.02; a wholesale
    copy scores ~1.0 — the number a curation pipeline thresholds when
    binary decontamination would over-delete (the standard practice
    behind published "13-gram overlap > X%" contamination reports).

    Same dataflow as `contaminated_ids`: the benchmark gram set is
    broadcast, the corpus makes one map-side pass + one partial-
    aggregated fold to a row per doc — no corpus shuffle on gram
    strings (8-byte hashes only). Docs shorter than ``n`` tokens have
    no full n-gram and are absent, matching `ngram_hashes`."""
    grams = ngram_hashes(docs, n=n, id_col=id_col, text_col=text_col)
    bench = benchmark_gram_set(benchmark, n=n, text_col=text_col)
    hit = F.broadcast(bench.withColumn("_hit", F.lit(1)))
    return (
        grams.join(hit, "gram_hash", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("bigint").alias(
                "n_contaminated"
            ),
        )
        .withColumn(
            "overlap_frac",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_grams"),
                6,
            ),
        )
    )


def ngram_novelty(
    train: DataFrame,
    test: DataFrame,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """One-row novelty report: what fraction of the test split's
    DISTINCT word n-grams never appear in the training split —
    the memorization-vs-generalization denominator every eval-split
    design needs (a test set with low n-gram novelty measures recall
    of the training data, not generalization; cf. the train-test
    overlap analyses of Lewis et al. 2021).

        (n_train_grams, n_test_grams, n_novel, novelty)

    Gram identity is the PORTABLE 60-bit md5 of the space-joined
    lowercase token n-gram (`sampling.md5_prefix60` — the repo-wide
    cross-engine hash), so counts replay exactly in SQL. Scale shape:
    each side collapses to its distinct gram-hash set first (one
    partial-aggregated shuffle each, 8-byte keys), then one full-outer
    join of the two sets; the corpus text never shuffles."""
    from inception_eventstore_spark.operators.sampling import md5_prefix60

    if n < 1:
        raise ValueError("n must be >= 1")

    def _grams(docs: DataFrame) -> DataFrame:
        staged = docs.select(tokens(text_col).alias("_toks")).where(
            F.size("_toks") >= n
        )
        length = F.size("_toks")
        starts = F.sequence(F.lit(1), length - F.lit(n - 1))
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(F.col("_toks"), i + F.lit(j))
                   for j in range(n)]
        )
        return (
            staged.select(
                F.explode(
                    F.transform(starts, lambda i: gram(i))
                ).alias("_g")
            )
            .select(md5_prefix60(F.col("_g")).alias("gh"))
            .distinct()
        )

    # ONE pass per split (r12, guide §2.4): the three counts used to
    # run each distinct-gram pipeline twice (its own count + one side
    # of an anti-join). A full-outer join of the two distinct sets on
    # the gram hash carries presence markers for both sides, so ONE
    # scalar aggregate yields all three counts — and both join inputs
    # arrive already hash-partitioned on gh from their distinct
    # aggregates, so the join adds no exchange. Integers identical.
    tr = _grams(train).withColumn("_t", F.lit(1))
    te = _grams(test).withColumn("_e", F.lit(1))
    row = (
        tr.join(te, "gh", "full_outer")
        .agg(
            F.count("_t").cast("bigint").alias("n_train_grams"),
            F.count("_e").cast("bigint").alias("n_test_grams"),
            F.count(
                F.when(F.col("_e").isNotNull() & F.col("_t").isNull(), 1)
            ).cast("bigint").alias("n_novel"),
        )
    )
    return row.select(
        "n_train_grams",
        "n_test_grams",
        "n_novel",
        F.when(
            F.col("n_test_grams") > 0,
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_test_grams"),
                6,
            ),
        ).alias("novelty"),
    )
