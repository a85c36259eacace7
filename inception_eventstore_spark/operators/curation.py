"""Corpus-curation filters for LLM training-data pipelines.

The standard published heuristics — Gopher's repetition/quality rules
(Rae et al. 2021, "Scaling Language Models", Appendix A) and C4's
cleaning rules (Raffel et al. 2020, §2.2) — re-expressed as JVM column
expressions, so a 100 TB curation pass is one whole-stage-codegen scan
with no Python in the loop. The reference engine has no analog (it
never inspects payloads — SURVEY §1.2); this module is part of the
mandated LLM-pipeline extension surface.

Every metric is deterministic arithmetic over the document text, so the
declared queries are DuckDB-oracle-paired (plans/queries.py) — unlike
the hash-family dedup operators, nothing here is approximate.

Shuffle profile: per-document metrics shuffle nothing (a projection);
``top_ngram_fraction`` shuffles twice, keyed by (doc_id, gram) then
doc_id — both linear in corpus size, no per-document quadratic blowup
(a per-doc array self-count would be O(tokens²) per document, which a
single 1 M-token outlier document turns into 10¹² comparisons).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.local_df import local_df
from inception_eventstore_spark.operators.dedup import tokens

#: Gopher Appendix A thresholds (public paper values).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRACTION = 0.8
GOPHER_MAX_BULLET_LINE_FRACTION = 0.9
GOPHER_MAX_ELLIPSIS_LINE_FRACTION = 0.3
GOPHER_MAX_DUP_LINE_FRACTION = 0.3
GOPHER_MAX_DUP_PARAGRAPH_FRACTION = 0.3


def doc_lines(col: Column | str) -> Column:
    """Non-empty trimmed lines of the document."""
    c = F.col(col) if isinstance(col, str) else col
    # explicit unary lambda: passing F.trim itself would let transform
    # call it as (element, index), binding index as the trim char set
    return F.filter(
        F.transform(F.split(c, "\n"), lambda l: F.trim(l)),
        lambda l: l != F.lit(""),
    )


def doc_paragraphs(col: Column | str) -> Column:
    """Non-empty trimmed paragraphs (blank-line separated)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.transform(F.split(c, "\n\n"), lambda p: F.trim(p)),
        lambda p: p != F.lit(""),
    )


def duplicate_fraction(arr: Column) -> Column:
    """Fraction of array elements that repeat an earlier element:
    1 - distinct/total; 0 for empty arrays."""
    n = F.size(arr)
    return F.when(
        n > 0,
        F.lit(1.0) - F.size(F.array_distinct(arr)).cast("double") / n,
    ).otherwise(F.lit(0.0))


def _frac(matching: Column, total: Column) -> Column:
    return F.when(total > 0, matching.cast("double") / total).otherwise(
        F.lit(0.0)
    )


def curation_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document curation metrics (one codegen'd projection):

    - ``word_count``, ``mean_word_len``, ``alpha_word_fraction``,
      ``symbol_word_ratio`` (Gopher word-level rules);
    - ``dup_line_fraction``, ``dup_paragraph_fraction`` (Gopher
      repetition rules);
    - ``bullet_line_fraction``, ``ellipsis_line_fraction`` (Gopher
      layout rules);
    - ``terminal_punct_line_fraction`` (C4: lines should end in
      terminal punctuation);
    - ``has_curly_brace``, ``has_lorem_ipsum`` (C4 code/placeholder
      page flags), emitted as BIGINT 0/1 for oracle portability.

    All fractions are rounded to 6 dp in-query (repo invariant: round
    floating aggregates before they reach a hash gate).
    """
    # Materialize the token/line/paragraph arrays ONCE: every metric
    # below references these columns, and chained withColumns do not
    # get common-subexpression-eliminated across the projection — the
    # naive form re-split + re-trimmed the document ~6 times (measured
    # ~4× slower end-to-end).
    staged = docs.withColumns(
        {
            "_toks": tokens(text_col),
            "_lines": doc_lines(text_col),
            "_paras": doc_paragraphs(text_col),
        }
    )
    c = F.col(text_col)
    toks = F.col("_toks")
    lines = F.col("_lines")
    paras = F.col("_paras")
    n_words = F.size(toks)
    n_lines = F.size(lines)
    # Σ token lengths WITHOUT an F.aggregate fold (interpreted per
    # element — the CLAUDE.md 30× rule): the length of the
    # empty-joined token array is the same exact integer, computed by
    # one codegen'd expression (r12).
    total_word_chars = F.length(F.array_join(toks, ""))
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    # Gopher's symbol set: '#' and ellipsis ('…' or '...')
    n_hash = F.length(c) - F.length(F.regexp_replace(c, "#", ""))
    n_ellipsis = F.size(F.split(c, r"\.\.\.|…")) - F.lit(1)
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike("^[-*•]")))
    n_ellipsis_end = F.size(
        F.filter(lines, lambda l: l.rlike("(\\.\\.\\.|…)$"))
    )
    n_terminal = F.size(F.filter(lines, lambda l: l.rlike("[.!?\"]$")))
    return (
        staged.withColumn("word_count", n_words.cast("bigint"))
        .withColumn(
            "mean_word_len",
            F.round(_frac(total_word_chars, n_words), 6),
        )
        .withColumn(
            "alpha_word_fraction", F.round(_frac(n_alpha_words, n_words), 6)
        )
        .withColumn(
            "symbol_word_ratio",
            F.round(_frac(n_hash + n_ellipsis, n_words), 6),
        )
        .withColumn(
            "dup_line_fraction", F.round(duplicate_fraction(lines), 6)
        )
        .withColumn(
            "dup_paragraph_fraction", F.round(duplicate_fraction(paras), 6)
        )
        .withColumn(
            "bullet_line_fraction", F.round(_frac(n_bullet, n_lines), 6)
        )
        .withColumn(
            "ellipsis_line_fraction",
            F.round(_frac(n_ellipsis_end, n_lines), 6),
        )
        .withColumn(
            "terminal_punct_line_fraction",
            F.round(_frac(n_terminal, n_lines), 6),
        )
        .withColumn(
            "has_curly_brace", c.contains("{").cast("bigint")
        )
        .withColumn(
            "has_lorem_ipsum",
            F.lower(c).contains("lorem ipsum").cast("bigint"),
        )
    )


def gopher_quality_flags(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Gopher Appendix-A accept/reject verdict per document.

    Adds one BIGINT 0/1 column per rule plus ``passes_gopher`` (the
    conjunction) and ``n_rules_failed`` — keeping per-rule verdicts lets
    a curation pipeline report *why* mass was dropped, which matters
    when a threshold change resamples terabytes."""
    feat = curation_features(docs, text_col)
    rules = {
        "r_word_count": F.col("word_count").between(
            GOPHER_MIN_WORDS, GOPHER_MAX_WORDS
        ),
        "r_mean_word_len": F.col("mean_word_len").between(
            GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN
        ),
        "r_symbol_ratio": F.col("symbol_word_ratio")
        <= GOPHER_MAX_SYMBOL_WORD_RATIO,
        "r_alpha_fraction": F.col("alpha_word_fraction")
        >= GOPHER_MIN_ALPHA_WORD_FRACTION,
        "r_bullet_lines": F.col("bullet_line_fraction")
        <= GOPHER_MAX_BULLET_LINE_FRACTION,
        "r_ellipsis_lines": F.col("ellipsis_line_fraction")
        <= GOPHER_MAX_ELLIPSIS_LINE_FRACTION,
        "r_dup_lines": F.col("dup_line_fraction")
        <= GOPHER_MAX_DUP_LINE_FRACTION,
        "r_dup_paragraphs": F.col("dup_paragraph_fraction")
        <= GOPHER_MAX_DUP_PARAGRAPH_FRACTION,
    }
    out = feat
    for name, cond in rules.items():
        out = out.withColumn(name, cond.cast("bigint"))
    n_failed = sum(
        (F.lit(1) - F.col(name) for name in rules), F.lit(0)
    )
    return out.withColumn(
        "n_rules_failed", n_failed.cast("bigint")
    ).withColumn(
        "passes_gopher", (n_failed == 0).cast("bigint")
    )


def remove_duplicate_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 10,
) -> DataFrame:
    """C4-style corpus-level span dedup at line granularity (Raffel et
    al. 2020 §2.2 deduplicate their three-sentence spans the same way):
    a line occurring anywhere else in the CORPUS survives only in its
    first occurrence, ordered by (doc id, position). Lines shorter than
    ``min_line_chars`` bypass dedup — trivial connectives ("Yes.",
    bullet glyphs, blank separators) are structure, not boilerplate.

    Returns the input with ``text`` rebuilt from the surviving lines
    (documents keep their row even if every line was removed).

    Distributed shape: posexplode → one window shuffle keyed by the
    8-byte line hash (row_number over (doc, pos)) → one reassembly
    shuffle keyed by doc. Both linear; the boilerplate skew case (one
    line in 10⁸ documents) lands one hot window partition whose state
    is a single running counter, not a buffered list.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    w = Window.partitionBy(F.xxhash64("_line")).orderBy(id_col, "_pos")
    ranked = lines.withColumn("_rk", F.row_number().over(w))
    kept = ranked.where(
        (F.length("_line") < min_line_chars) | (F.col("_rk") == 1)
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
        ).alias(text_col),
        F.count("*").cast("bigint").alias("n_lines_kept"),
    )
    # left join keeps fully-deduped documents (empty text, 0 lines)
    return (
        docs.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
        )
    )


def top_ngram_fraction(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Gopher repetition rule: fraction of n-gram occurrences taken by
    the document's single most frequent word n-gram — high values mean
    boilerplate/templated text. Returns (id, top_ngram_frac) for
    documents with ≥ n tokens.

    Distributed shape: explode n-grams → count by (doc, gram) → max/sum
    by doc. Both shuffles are keyed by document (plus gram), so the
    work is linear in corpus size and a pathological single document
    cannot quadratic-blow a task the way a per-row self-join of its
    gram array would.

    The token array MUST be staged as a column before the gram lambda:
    ``element_at(tokens(text), i)`` inside ``transform`` re-evaluates
    the whole split per element (codegen subexpression elimination does
    not reach through lambda scopes) — O(tokens²) per document,
    measured 9× slower at sf0.1. (A shuffle-free sort+max-run fold was
    tried and is 30× slower still: ``F.aggregate`` folds are
    interpreted per element.)"""
    staged = docs.withColumn("_toks", tokens(text_col)).where(
        F.size("_toks") >= n
    )
    toks = F.col("_toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    exploded = staged.select(F.col(id_col), F.explode(grams).alias("_gram"))
    per_gram = exploded.groupBy(id_col, "_gram").agg(
        F.count("*").alias("_n")
    )
    return per_gram.groupBy(id_col).agg(
        F.round(
            F.max("_n").cast("double") / F.sum("_n").cast("double"), 6
        ).alias("top_ngram_frac")
    )


def ngram_uniqueness(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, n_grams, unique_grams, uniqueness) — the fraction of a
    document's distinct word n-grams that appear in NO other document:
    high = distinctive original content, low = boilerplate/template
    text (the inverse of `top_ngram_fraction`'s within-doc repetition
    — this one measures ACROSS-corpus repetition per doc).

    One shingle explode over hashed grams (8-byte keys), ONE gram
    aggregate, and a doc-sized fold — no self-join of documents and
    (r11, guide §2.3/§2.4) no join back onto the exploded relation:
    a gram with df == 1 has exactly one owner, so ``min(_id)`` in the
    same per-gram aggregate names it for free, ``unique_grams`` is a
    count over the df==1 gram subset grouped by that owner, and
    ``n_grams`` is ``size(_sh)`` read map-side off the shingle sets.
    The former shape shuffled the full exploded relation a second time
    (ex ⋈ df_tab, then a groupBy(_id) over it); this one shuffles the
    grams once and everything after is doc-sized."""
    from inception_eventstore_spark.operators.dedup import shingle_sets

    # sets feeds the gram explode AND the per-doc size — persist the
    # per-doc arrays (narrower than the explode the old shape pinned)
    sets = shingle_sets(docs, id_col, text_col, k=n).persist()
    sets.count()
    ex = sets.select(F.col("_id"), F.explode("_sh").alias("_g"))
    uniq = (
        ex.groupBy("_g")
        .agg(F.count("*").alias("_df"), F.min("_id").alias("_owner"))
        .where(F.col("_df") == 1)
        .groupBy(F.col("_owner").alias("_id"))
        .agg(F.count("*").alias("unique_grams"))
    )
    per_doc = sets.select(
        "_id", F.size("_sh").cast("bigint").alias("n_grams")
    ).join(uniq, "_id", "left")
    out = per_doc.select(
        F.col("_id").alias(id_col),
        "n_grams",
        F.coalesce(F.col("unique_grams"), F.lit(0))
        .cast("bigint")
        .alias("unique_grams"),
        F.round(
            F.coalesce(F.col("unique_grams"), F.lit(0)).cast("double")
            / F.col("n_grams"),
            6,
        ).alias("uniqueness"),
    )
    # one row per doc — cheap to checkpoint eagerly, and releasing the
    # persisted sets here keeps repeated calls from accumulating
    # executor storage in a long-lived session. SIDE EFFECT: the
    # operator executes at call time (eager=False would unpersist the
    # shingle sets before they are ever reused); compose further
    # filters on the per-doc RESULT, not into this plan
    out = out.localCheckpoint(eager=True)
    sets.unpersist()
    return out


def ppl_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """(id, lang, n_bigrams, lm_score, bucket): CCNet-style perplexity
    bucketing (Wenzek et al. 2020, §4.3) — documents split per language
    into head / middle / tail thirds by LM fluency, the standard
    pre-training data-quality stratification (head = most fluent).

    The fluency signal is the add-one bigram LM self-score
    (`lm.bigram_lm_score`, the same oracled arithmetic as
    lm_bigram_score). Cuts are RANK-based, not quantile-interpolated:
    rank r of n docs (score desc, id tiebreak) → head iff 3r <= n,
    middle iff 3r <= 2n, else tail — integer arithmetic on both
    engines, no interpolation to disagree about. Ranking uses the
    6-dp-rounded score, which the cross-engine hash match of
    lm_bigram_score certifies identical, so bucket membership is
    deterministic. Documents with no bigrams (< 2 tokens) are
    unscoreable and absent, as in CCNet.

    Scale: one LM-count pass + a TWO-PHASE shard rank per language
    (`functions/ranking.grouped_row_number`) — a plain
    ``Window.partitionBy(lang)`` would funnel each language through a
    single task, and on exactly the corpus shape this operator exists
    to stratify (web-scale, English ≈ half the data) that is ~50 TB
    through one executor thread. Range shards bound every task at
    ~|data|/shards regardless of language skew; ranks (and therefore
    buckets) are identical to the single-window form, which the
    unchanged oracle hash-match certifies.
    """
    from inception_eventstore_spark.functions.ranking import (
        grouped_row_number,
    )
    from inception_eventstore_spark.operators.lm import bigram_lm_score

    sc = bigram_lm_score(docs, id_col=id_col, text_col=text_col)
    joined = docs.select(id_col, lang_col).join(sc, id_col)
    ranked = grouped_row_number(
        joined,
        order_cols=[F.col("lm_score").desc(), F.col(id_col)],
        group_cols=[lang_col],
        rank_col="_rn",
        with_group_count="_n",
    )
    return ranked.select(
        F.col(id_col),
        F.col(lang_col),
        F.col("n_bigrams"),
        F.col("lm_score"),
        F.when(3 * F.col("_rn") <= F.col("_n"), F.lit("head"))
        .when(3 * F.col("_rn") <= 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def quality_signal_correlations(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(signal_a, signal_b, corr, n): Pearson correlation between the
    curation signals (word_count, mean_word_len, LM fluency) over the
    corpus — the diagnostic that tells a pipeline which quality
    filters are REDUNDANT (highly correlated signals gate the same
    documents twice) before it spends a full pass applying all of
    them. Docs without an LM score (< 2 tokens) are excluded so every
    pair is computed over the same row set.

    One metrics projection + one LM pass + a single partial-aggregated
    correlation fold — no shuffle of the corpus body beyond the LM
    count tables."""
    from inception_eventstore_spark.operators.lm import bigram_lm_score

    feats = curation_features(
        docs.select(id_col, text_col), text_col
    ).select(id_col, "word_count", "mean_word_len")
    sc = bigram_lm_score(docs, id_col=id_col, text_col=text_col)
    j = feats.join(sc.select(id_col, "lm_score"), id_col)
    pairs = [
        ("word_count", "mean_word_len"),
        ("word_count", "lm_score"),
        ("mean_word_len", "lm_score"),
    ]
    aggs = [F.count("*").cast("bigint").alias("_n")]
    for a, b in pairs:
        # round INSIDE the aggregate row (Spark HALF_UP), never on the
        # driver (python round() is half-even — cross-engine rule)
        aggs.append(
            F.round(
                F.corr(F.col(a).cast("double"), F.col(b)), 6
            ).alias(f"_c_{a}_{b}")
        )
    # ONE driver collect of the single aggregate row, then a 1-slice
    # local frame: a union of per-pair row.select(...) branches would
    # embed the whole feature+LM aggregation chain once per branch,
    # each its own `Exchange SinglePartition` aggregate.

    vals = j.agg(*aggs).collect()[0]
    rows = [
        (a, b, vals[f"_c_{a}_{b}"], int(vals["_n"])) for a, b in pairs
    ]
    return local_df(
        docs.sparkSession,
        rows,
        "signal_a string, signal_b string, corr double, n bigint",
    )


def boilerplate_fraction(
    docs: DataFrame,
    min_df: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document boilerplate share: the fraction of a document's
    non-empty lines that are CORPUS-COMMON (trimmed line appears in
    ≥ ``min_df`` distinct documents) — navigation chrome, cookie
    banners, footers. The complementary READOUT to
    `remove_duplicate_lines` (which mutates): curation pipelines
    score first and gate on the score, because a 90%-boilerplate page
    should be dropped whole, not trimmed and kept.

    Scale: one line explode; the line-df table is |distinct lines|
    rows built from the same explode (dropDuplicates before the df
    count, map-side combined); one equi-join back on the line hash —
    never a doc×doc comparison. Counts are exact BIGINTs; the
    fraction is the only double, rounded 6 dp.

    Output: (id, n_lines, n_boiler, boiler_ppm), the share as EXACT
    integer parts-per-million via truncating division (the
    quality_auc ppm pattern — a rounded double ratio of small ints
    can land on 6-dp half-boundaries where Spark HALF_UP and DuckDB
    half-even diverge); docs with zero non-empty lines excluded.
    """
    lines = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.col(text_col), "\n")).alias("_raw"),
        )
        .select("_id", F.trim(F.col("_raw")).alias("_ln"))
        .where(F.col("_ln") != "")
    )
    lines = lines.persist()
    df_tab = (
        lines.dropDuplicates(["_id", "_ln"])
        .groupBy("_ln")
        .agg(F.countDistinct("_id").cast("bigint").alias("_df"))
    )
    per = (
        lines.join(df_tab, "_ln")
        .groupBy("_id")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(
                F.when(F.col("_df") >= int(min_df), 1).otherwise(0)
            ).cast("bigint").alias("n_boiler"),
        )
    )
    out = per.select(
        F.col("_id").alias(id_col),
        "n_lines",
        "n_boiler",
        F.expr("div(n_boiler * 1000000, n_lines)").cast("bigint")
        .alias("boiler_ppm"),
    ).localCheckpoint(eager=True)
    lines.unpersist()
    return out


def blocklist_hits(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document blocklist density: token count, blocklisted-token
    count, and hit rate for an exact-term blocklist (the
    unsafe-content / spam-vocabulary gate every corpus curation run
    applies before training). Exact TOKEN matching on the shared
    tokenizer — substring matching flags 'classic' for 'ass'; callers
    wanting phrase blocks compose `retrieval.phrase_search`.

    Scale: one tokenize+explode, the blocklist as a broadcast literal
    IN-set filter evaluated map-side (hits aggregate before any
    shuffle); the token total comes from the same pass via a
    conditional sum, so the corpus is scanned ONCE. Docs with zero
    tokens are excluded (no rate defined).

    Output: (id, n_tokens, n_hits, hit_ppm) — the rate as EXACT
    integer parts-per-million (truncating div, the quality_auc ppm
    pattern; no cross-engine rounding surface at all).
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    tset = sorted({t.lower() for t in terms})
    ex = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(F.col(text_col))).alias("_t"),
    )
    per = ex.groupBy("_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("_t").isin(tset), 1).otherwise(0))
        .cast("bigint").alias("n_hits"),
    )
    return per.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        "n_hits",
        F.expr("div(n_hits * 1000000, n_tokens)").cast("bigint")
        .alias("hit_ppm"),
    )
