"""Count-based n-gram language-model scoring (KenLM-style, in-engine).

Data-curation pipelines score documents by likelihood under a cheap
reference LM (CCNet buckets corpora by LM perplexity; Gopher and many
quality filters use the same signal). This module fits the simplest
useful such model — an add-one-smoothed bigram model — entirely as
DataFrame algebra, so it runs wherever the corpus lives with no model
artifact to ship:

    P(w_i | w_{i-1}) = (c2(w_{i-1}, w_i) + 1) / (c1(w_{i-1}) + V)

with ``c2`` the reference bigram count, ``c1(a) = Σ_b c2(a, b)`` and
``V`` the reference unigram vocabulary size. A document's score is the
mean natural log-probability over its bigrams (higher = more fluent
under the reference); documents with < 2 tokens have no bigrams and are
dropped.

Scale shape: both the corpus and reference sides reduce to
(token_a, token_b) pairs via one explode each; the count table is built
with a partial-agg groupBy, and scoring is an equi-join on the bigram
key followed by one per-doc aggregation. Every step is JVM-side and
map-side-combinable; the only shuffles are the count groupBys and the
score join — there is no UDF and no driver-side model state.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.local_df import local_df
from inception_eventstore_spark.operators.dedup import tokens


def _tokenized(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _tk) — the tokenized corpus, staged as a column relation so
    n-gram extractors never re-split the raw text (CLAUDE.md invariant:
    lambdas re-evaluate unstaged array expressions per element)."""
    return docs.select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_tk")
    )


def _bigrams_tk(staged: DataFrame) -> DataFrame:
    """(id, a, b) — consecutive token pairs from a (_id, _tk) relation."""
    staged = staged.where(F.size("_tk") >= 2)
    return staged.select(
        "_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("_tk"), 1, F.size("_tk") - 1),
                F.slice(F.col("_tk"), 2, F.size("_tk") - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("_bg"),
    ).select("_id", F.col("_bg.a").alias("_a"), F.col("_bg.b").alias("_b"))


def _bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return _bigrams_tk(_tokenized(docs, id_col, text_col))


def bigram_counts(
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pre_tokenized: bool = False,
) -> tuple[DataFrame, DataFrame, int]:
    """Reference model: ((a, b) → c2 table, a → c1 table, vocab size).

    The count tables are pure aggregates of the reference corpus — at
    100 TB they are materialized once per reference snapshot and reused
    by every scoring run (orders of magnitude smaller than the corpus:
    one row per distinct bigram / left token). ``pre_tokenized`` takes
    a staged (_id, _tk) relation so callers scoring the same corpus
    reuse one tokenization across the count tables and the scorer."""
    tk = (
        ref
        if pre_tokenized
        else _tokenized(ref, id_col, text_col).localCheckpoint(eager=False)
    )
    bg = _bigrams_tk(tk)
    # c2 is the root of TWO consumers — the scorer's bigram join AND
    # c1 (its own re-aggregation) — so without staging, the bigram
    # explode + partial agg over the reference executes twice per
    # scoring run (guide §2.4, r12). Eager localCheckpoint: c2 is
    # distinct-bigram-sized (bounded far below the corpus), blocks are
    # RDD-scoped (no CacheManager pin) and GC-reaped with the result.
    c2 = bg.groupBy("_a", "_b").agg(F.count("*").alias("_c2"))\
        .localCheckpoint(eager=True)
    c1 = c2.groupBy("_a").agg(F.sum("_c2").alias("_c1"))
    vocab = (
        tk.select(F.explode("_tk").alias("_t"))
        .agg(F.countDistinct("_t"))
        .collect()[0][0]
    )
    return c2, c1, int(vocab)


def bigram_lm_score(
    docs: DataFrame,
    ref: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_bigrams, lm_score): mean ln P(w_i | w_{i-1}) per document
    under the add-one bigram model counted from ``ref`` (default: the
    corpus itself — self-scoring flags outlier documents).

    Bigrams absent from the reference fall back to the smoothing floor
    1 / (c1(a) + V) — c1 joined on the left token alone, so a seen
    left token keeps its true continuation mass (1 / V only when the
    left token itself is unseen). Self-scoring (the default) stages the
    tokenized corpus once and shares it between the count tables and
    the scoring side — one tokenization pass instead of three."""
    self_scoring = ref is None
    ref = ref if ref is not None else docs
    tk_ref = _tokenized(ref, id_col, text_col).localCheckpoint(eager=False)
    c2, c1, vocab = bigram_counts(
        tk_ref, id_col, text_col, pre_tokenized=True
    )
    bg = _bigrams_tk(
        tk_ref if self_scoring else _tokenized(docs, id_col, text_col)
    )
    scored = bg.join(c2, ["_a", "_b"], "left").join(c1, ["_a"], "left").select(
        "_id",
        F.log(
            (F.coalesce(F.col("_c2"), F.lit(0)).cast("double") + 1.0)
            / (F.coalesce(F.col("_c1"), F.lit(0)).cast("double") + float(vocab))
        ).alias("_lp"),
    )
    return scored.groupBy("_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("_lp"), 6).alias("lm_score"),
    ).select(F.col("_id").alias(id_col), "n_bigrams", "lm_score")


def bpe_pair_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int | None = None,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """One iteration of BPE tokenizer training: weighted adjacent-symbol
    pair counts over the corpus (Sennrich et al. 2016 — the merge step
    picks the argmax row of this table).

    Classic formulation: dataflow is word-frequency-first — the corpus
    collapses to its (word, freq) vocabulary BEFORE any per-character
    work, so the expensive explode runs over |vocab| rows, not |corpus
    tokens| (the whole reason BPE training is tractable on big corpora).
    Symbols here are single characters of the initial alphabet plus the
    end-of-word marker '</w>' appended to each word, exactly as in the
    original algorithm. Returns (sym_a, sym_b, pair_count) — feed the
    max row back in via ``merges`` (applied in list order to every
    word's symbol sequence before pairing) and re-run for subsequent
    iterations: ``merges=[("t","h"), ("th","e")]`` reproduces the state
    after two canonical merge steps.

    Merge application is JVM-side regex, no UDF: the symbol sequence
    lives as a space-joined string and each merge is one
    ``regexp_replace`` with NON-CONSUMING space lookarounds —
    ``(?<= )a b(?= )`` — so back-to-back occurrences all merge in one
    left-to-right pass, exactly the greedy semantics of the reference
    implementation (a space-consuming pattern would skip every other
    occurrence in runs: 'a a a a' must give 'aa aa', not 'aa a a').

    Scale: explode(word→positions) is O(chars of the vocab); both
    groupBys are partial-aggregated; no UDF, no driver state; merge
    regexes run over |vocab| rows, not corpus tokens. top_n uses
    TakeOrdered (per-partition top-k + driver merge), no full sort.
    """
    vocab = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    return _bpe_pairs_from_vocab(vocab, merges=merges, top_n=top_n)


def _bpe_pairs_from_vocab(
    vocab: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    top_n: int | None = None,
) -> DataFrame:
    """Pair-count core of ``bpe_pair_counts`` over a pre-built
    (w, freq) vocabulary — split out so the merge-learning loop can
    checkpoint the corpus rollup ONCE and re-pair per round."""
    if merges:
        # " c h a r s </w> " — spaces delimit symbols; sentinels keep
        # the lookarounds valid at both ends (shared with bpe_encode)
        sym = _merged_symbol_string(F.col("w"), merges)
        staged = vocab.select(
            "freq", F.split(F.trim(sym), " ").alias("_syms")
        )
        pairs = (
            staged.select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice(
                            F.col("_syms"), 1, F.size("_syms") - 1
                        ),
                        F.slice(
                            F.col("_syms"), 2, F.size("_syms") - 1
                        ),
                        lambda a, b: F.struct(
                            a.alias("a"), b.alias("b")
                        ),
                    )
                ).alias("_p"),
            )
            .select(
                "freq",
                F.col("_p.a").alias("sym_a"),
                F.col("_p.b").alias("sym_b"),
            )
            .groupBy("sym_a", "sym_b")
            .agg(F.sum("freq").alias("pair_count"))
        )
    else:
        # first iteration: symbols ARE the characters — substr math on
        # the raw word, no array build
        pairs = (
            vocab.withColumn("_n", F.length("w"))
            .select(
                "freq",
                "w",
                "_n",
                F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("i"),
            )
            .select(
                "freq",
                F.col("w").substr(F.col("i"), F.lit(1)).alias("sym_a"),
                F.when(
                    F.col("i") < F.col("_n"),
                    F.col("w").substr(F.col("i") + 1, F.lit(1)),
                )
                .otherwise(F.lit("</w>"))
                .alias("sym_b"),
            )
            .groupBy("sym_a", "sym_b")
            .agg(F.sum("freq").alias("pair_count"))
        )
    if top_n is not None:
        pairs = pairs.orderBy(
            F.col("pair_count").desc(), "sym_a", "sym_b"
        ).limit(int(top_n))
    return pairs


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The BPE merge-learning loop (Sennrich et al. 2016): ``n_merges``
    rounds of argmax-pair selection over the word-frequency
    vocabulary — the tokenizer-training primitive the token-fertility
    / OOV operators assume. Output one row per learned merge:

        (merge_rank, sym_a, sym_b, pair_count)

    where pair_count is the pair's weighted corpus count AT SELECTION
    TIME (i.e. after the preceding merges were applied). Ties break
    (pair_count DESC, sym_a, sym_b) — binary string order on both
    engines, so the learned sequence is deterministic.

    Scale shape: the ONE corpus-scale pass is the (word, freq) rollup,
    checkpointed up front; every round then re-pairs the vocabulary
    (|vocab| rows, orders of magnitude smaller than the corpus) with
    the merges-so-far applied as JVM regex, and takes the argmax with
    a 1-row TakeOrdered — n small jobs over bounded data, no driver
    state beyond the merge list itself (the km_survival sequential-
    small-state shape; the recurrence axis here is n_merges, a dial).
    Greedy run semantics match the oracle's run-parity rule: for
    a == b, a run of k symbols merges at offsets 0, 2, 4, …; for
    a != b matches never overlap.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")

    vocab = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str]] = []
    out_rows = []
    for r in range(int(n_merges)):
        best = (
            _bpe_pairs_from_vocab(vocab, merges=merges or None)
            .orderBy(F.col("pair_count").desc(), "sym_a", "sym_b")
            .first()
        )
        if best is None:
            break  # vocabulary fully merged — fewer rows than asked
        merges.append((best["sym_a"], best["sym_b"]))
        out_rows.append(
            (r + 1, best["sym_a"], best["sym_b"], int(best["pair_count"]))
        )
    return local_df(
        docs.sparkSession,
        out_rows,
        "merge_rank bigint, sym_a string, sym_b string, pair_count bigint",
    )


def pmi_collocations(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_pair_count: int = 5,
    top_n: int | None = None,
) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs — the
    classic collocation / multi-word-expression signal (Church & Hanks
    1990), used by pipelines to decide tokenizer merges and to spot
    boilerplate n-grams.

        pmi(a,b) = ln( c(a,b) · T / (c(a)·c(b)) )

    with T the total number of adjacent pairs in the corpus. Unigram
    counts come from the SAME pair table (left occurrences + per-doc
    tail correction is deliberately avoided: c(a) counts a's
    occurrences as a left element, the standard bigram-margin
    convention, so the three tables share one explode).

    Shape: ONE bigram explode → pair groupBy, materialized once
    (localCheckpoint) so the total, both margins and the final join all
    read the reduced pair table instead of re-exploding the corpus;
    margins are |vocab|-sized and join back broadcast. pmi rounded to
    6 dp for cross-engine determinism.
    """
    pairs = (
        _bigrams(docs, id_col, text_col)
        .groupBy(F.col("_a").alias("tok_a"), F.col("_b").alias("tok_b"))
        .agg(F.count("*").alias("pair_count"))
    )
    # the pair table feeds FOUR consumers (total, two margins, the
    # final join) — materialize it once (it is |distinct bigrams| rows,
    # orders of magnitude smaller than the corpus) instead of
    # re-running the corpus explode per consumer; localCheckpoint
    # leaves no persisted cache behind
    pairs = pairs.localCheckpoint(eager=True)
    total = pairs.agg(F.sum("pair_count").alias("t")).first()["t"]
    if not total:
        raise ValueError("corpus has no adjacent token pairs")
    left = pairs.groupBy(F.col("tok_a").alias("_a")).agg(
        F.sum("pair_count").alias("c_a")
    )
    right = pairs.groupBy(F.col("tok_b").alias("_b")).agg(
        F.sum("pair_count").alias("c_b")
    )
    out = (
        pairs.where(F.col("pair_count") >= int(min_pair_count))
        .join(F.broadcast(left), F.col("tok_a") == F.col("_a"))
        .join(F.broadcast(right), F.col("tok_b") == F.col("_b"))
        .select(
            "tok_a",
            "tok_b",
            "pair_count",
            F.round(
                F.log(
                    F.col("pair_count").cast("double")
                    * F.lit(float(total))
                    / (
                        F.col("c_a").cast("double")
                        * F.col("c_b").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    if top_n is not None:
        out = out.orderBy(
            F.col("pmi").desc(), "tok_a", "tok_b"
        ).limit(int(top_n))
    return out


def _trigrams_tk(staged: DataFrame) -> DataFrame:
    """(id, a, b, c) — consecutive token triples from (_id, _tk)."""
    staged = staged.where(F.size("_tk") >= 3)
    return staged.select(
        "_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("_tk"), 1, F.size("_tk") - 2),
                F.zip_with(
                    F.slice(F.col("_tk"), 2, F.size("_tk") - 2),
                    F.slice(F.col("_tk"), 3, F.size("_tk") - 2),
                    lambda b, c: F.struct(b.alias("b"), c.alias("c")),
                ),
                lambda a, bc: F.struct(
                    a.alias("a"), bc["b"].alias("b"), bc["c"].alias("c")
                ),
            )
        ).alias("_tg"),
    ).select(
        "_id",
        F.col("_tg.a").alias("_a"),
        F.col("_tg.b").alias("_b"),
        F.col("_tg.c").alias("_c"),
    )


def _trigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return _trigrams_tk(_tokenized(docs, id_col, text_col))


def stupid_backoff_score(
    docs: DataFrame,
    ref: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Document fluency under a trigram STUPID BACKOFF model (Brants et
    al. 2007 — the web-scale LM that deliberately skips normalization):

        S(c | a, b) = c3(a,b,c) / c2(a,b)          if the trigram is seen
                    = α · c2(b,c) / c1(b)          else if the bigram is
                    = α² · (c1(c) + 1) / (T + V)   else (add-one floor —
                                                   pure stupid backoff
                                                   assumes seen unigrams;
                                                   the floor keeps ln
                                                   finite for novel
                                                   tokens)

    ``ref`` (default: the corpus itself) supplies the counts; a doc's
    score is the MEAN ln S over its trigram positions; docs with < 3
    tokens are dropped. Returns (<id_col>, n_trigrams, sb_score).

    Scale: three count tables (trigram/bigram/unigram) are aggregates
    of one explode each over the reference — materialized once per
    reference snapshot in production; scoring is three equi-joins on
    token-string keys + one per-doc aggregation, no UDF anywhere. The
    tokenized reference is staged ONCE (lazy localCheckpoint) so the
    trigram/bigram/unigram tables — and, when self-scoring, the scoring
    side too — share a single text tokenization instead of four
    (VERDICT r3 plan-audit note on lm_stupid_backoff).
    """
    self_scoring = ref is None
    ref = docs if ref is None else ref
    tk_ref = _tokenized(ref, id_col, text_col).localCheckpoint(eager=False)
    c3 = _trigrams_tk(tk_ref).groupBy("_a", "_b", "_c").agg(
        F.count("*").alias("_c3")
    )
    # The count tables deliberately stay LAZY (r12, VERDICT r11 #2 —
    # the r11 persist() regressed this operator, cold 3.3 → 6.1 s, and
    # an eager-checkpoint variant measured 3.2 → 3.7 s): their two
    # consumer join sides are IDENTICAL aggregate subtrees over the
    # checkpointed tokens, so Spark's exchange reuse already computes
    # each once per action — staging only added materialization
    # actions in front of the reuse it was trying to create. At scale
    # the count tables are materialized once per reference snapshot by
    # the caller anyway (the docstring contract).
    c2 = _bigrams_tk(tk_ref).groupBy("_a", "_b").agg(
        F.count("*").alias("_c2")
    )
    uni = tk_ref.select(F.explode("_tk").alias("_t")).groupBy(
        "_t"
    ).agg(F.count("*").alias("_c1"))
    totals = uni.agg(
        F.sum("_c1").alias("t"), F.count("*").alias("v")
    ).first()
    T, V = int(totals["t"] or 0), int(totals["v"] or 0)
    if T == 0:
        raise ValueError("reference corpus has no tokens")

    tg = _trigrams_tk(
        tk_ref if self_scoring else _tokenized(docs, id_col, text_col)
    )
    j = (
        tg.join(c3, ["_a", "_b", "_c"], "left")
        .join(c2, ["_a", "_b"], "left")
        .join(
            c2.select(
                F.col("_a").alias("_b"),
                F.col("_b").alias("_c"),
                F.col("_c2").alias("_c2r"),
            ),
            ["_b", "_c"],
            "left",
        )
        .join(uni.select(F.col("_t").alias("_b"), F.col("_c1").alias("_c1b")),
              ["_b"], "left")
        .join(uni.select(F.col("_t").alias("_c"), F.col("_c1").alias("_c1c")),
              ["_c"], "left")
    )
    a = F.lit(float(alpha))
    score = (
        F.when(
            F.col("_c3").isNotNull(),
            F.col("_c3").cast("double") / F.col("_c2"),
        )
        .when(
            F.col("_c2r").isNotNull(),
            a * F.col("_c2r").cast("double") / F.col("_c1b"),
        )
        .otherwise(
            a
            * a
            * (F.coalesce(F.col("_c1c"), F.lit(0)).cast("double") + F.lit(1.0))
            / F.lit(float(T + V))
        )
    )
    return (
        j.withColumn("_lp", F.log(score))
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count("*").alias("n_trigrams"),
            F.round(F.avg("_lp"), 6).alias("sb_score"),
        )
    )


def _skipgram_pairs(
    docs: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """(_x, _y) — canonical unordered token pairs at distance 1..window
    within a document. One union branch per distance; each branch
    stages the token array in its own projection and references it from
    a SINGLE zip_with lambda (the CLAUDE.md staging rule), so the work
    is `window` linear corpus scans — no O(n²) re-tokenization, no
    corpus-sized checkpoint."""
    parts = []
    for d in range(1, int(window) + 1):
        tk = _tokenized(docs, id_col, text_col).where(
            F.size("_tk") >= d + 1
        )
        parts.append(
            tk.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("_tk"), 1, F.size("_tk") - d),
                        F.slice(F.col("_tk"), 1 + d, F.size("_tk") - d),
                        lambda a, b: F.struct(
                            F.least(a, b).alias("x"),
                            F.greatest(a, b).alias("y"),
                        ),
                    )
                ).alias("_p")
            ).select(F.col("_p.x").alias("_x"), F.col("_p.y").alias("_y"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.where(F.col("_x") != F.col("_y"))


def skipgram_ppmi(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 2,
    min_pair_count: int = 5,
    top_n: int | None = None,
) -> DataFrame:
    """Positive PMI over unordered skip-gram co-occurrences — the
    count statistic behind SGNS/word2vec-style embeddings (Levy &
    Goldberg 2014: SGNS factorizes the shifted PPMI matrix):

        ppmi(x,y) = max(0, ln( c(x,y) · T / (m(x) · m(y)) ))

    for token pairs within ``window`` positions of each other (pairs at
    distance 1..window all count once; same-token pairs are dropped).
    Margins m(t) count t's appearances across the PAIR table (both
    sides), the symmetric-window convention, so total/margins/scores
    all derive from one materialized pair aggregate — identical shape
    to `pmi_collocations`, which covers the adjacency-only (ordered)
    statistic. Scale: `window` linear explodes → one groupBy on the
    pair key; margins are |vocab| rows, broadcast back.
    """
    pairs = (
        _skipgram_pairs(docs, id_col, text_col, window)
        .groupBy(F.col("_x").alias("tok_x"), F.col("_y").alias("tok_y"))
        .agg(F.count("*").alias("pair_count"))
        .localCheckpoint(eager=True)
    )
    total = pairs.agg(F.sum("pair_count").alias("t")).first()["t"]
    if not total:
        raise ValueError("corpus has no in-window token pairs")
    margins = (
        pairs.select(
            F.explode(F.array("tok_x", "tok_y")).alias("_t"), "pair_count"
        )
        .groupBy("_t")
        .agg(F.sum("pair_count").alias("_m"))
    )
    mx = margins.select(F.col("_t").alias("_tx"), F.col("_m").alias("m_x"))
    my = margins.select(F.col("_t").alias("_ty"), F.col("_m").alias("m_y"))
    out = (
        pairs.where(F.col("pair_count") >= int(min_pair_count))
        .join(F.broadcast(mx), F.col("tok_x") == F.col("_tx"))
        .join(F.broadcast(my), F.col("tok_y") == F.col("_ty"))
        .select(
            "tok_x",
            "tok_y",
            "pair_count",
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.log(
                        F.col("pair_count").cast("double")
                        * F.lit(float(total))
                        / (
                            F.col("m_x").cast("double")
                            * F.col("m_y").cast("double")
                        )
                    ),
                ),
                6,
            ).alias("ppmi"),
        )
    )
    if top_n is not None:
        out = out.orderBy(
            F.col("ppmi").desc(), "tok_x", "tok_y"
        ).limit(int(top_n))
    return out


def _merged_symbol_string(col, merges: list[tuple[str, str]]):
    """' s1 s2 … </w> ' — the space-joined symbol string of a word
    after applying ``merges`` in order. JVM-only: per merge one
    regexp_replace with non-consuming space lookarounds (see
    bpe_pair_counts for why lookarounds, not consumed spaces)."""
    sym = F.concat(
        F.lit(" "),
        F.regexp_replace(col, "(.)", "$1 "),
        F.lit("</w> "),
    )
    for a, b in merges or []:
        pat = "(?<= )" + re.escape(a) + " " + re.escape(b) + "(?= )"
        rep = (a + b).replace("\\", "\\\\").replace("$", "\\$")
        sym = F.regexp_replace(sym, pat, rep)
    return sym


def bpe_encode_words(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(word, freq, pieces, n_pieces) — the corpus vocabulary encoded
    under a learned BPE merge list (tokenizer APPLICATION, completing
    the train half in `bpe_pair_counts`/`bpe_train`).

    Vocabulary-first dataflow: every distinct word is encoded exactly
    ONCE however often it occurs — the merge chain runs over |vocab|
    rows, and per-token results come from an equi-join on the word
    (`bpe_token_counts`), the same collapse that makes training
    tractable. Encoding itself is the JVM regex chain (no UDF); the
    declared oracle replays the identical greedy left-to-right merge
    semantics with a DuckDB list_reduce per merge, so the whole
    encoder is value-checked cross-engine."""
    vocab = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    pieces = F.split(F.trim(_merged_symbol_string(F.col("w"), merges)), " ")
    return vocab.select(
        "w",
        "freq",
        pieces.alias("pieces"),
        F.size(pieces).alias("n_pieces"),
    )


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_words, n_pieces) — per-document BPE token counts under
    ``merges``: corpus tokens equi-join the once-encoded vocabulary
    (broadcast when small), then one partial-aggregated groupBy. The
    budget signal sequence packing and context-window planning read."""
    enc = bpe_encode_words(docs, merges, id_col, text_col).select(
        "w", "n_pieces"
    )
    toks = docs.select(
        F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("w")
    )
    return (
        toks.join(enc, "w")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
        )
        .select(F.col("_id").alias(id_col), "n_words", "n_pieces")
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """The full Sennrich training loop: ``n_merges`` rounds of
    argmax(bpe_pair_counts) with the accumulated merges applied each
    round (ties → lexicographic, the top_n ordering). Driver state is
    the merge list alone (n_merges tuples); each round is one
    vocabulary-scale Spark job. Note the round-k job re-applies k−1
    regex merges over the vocabulary — O(n²) vocab-row regex passes
    total, the standard cost of exact BPE; for large n_merges
    checkpoint the symbolized vocabulary periodically instead."""
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        top = bpe_pair_counts(
            docs, id_col, text_col, top_n=1, merges=merges
        ).collect()
        if not top or top[0]["pair_count"] < int(min_pair_count):
            break
        merges.append((top[0]["sym_a"], top[0]["sym_b"]))
    return merges


def heldout_perplexity(
    docs: DataFrame,
    k_folds: int = 5,
    test_fold: int = 0,
    seed: str = "v1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(n_test_docs, n_bigrams, cross_entropy, perplexity) — held-out
    evaluation of the add-one bigram LM: counts train on every fold
    but ``test_fold`` (folds assigned by the content-keyed
    `sampling.grouped_kfold`, so the split is engine/partitioning/
    retry-identical), the held-out fold is scored against those
    counts, and the corpus-level cross-entropy weights each document
    by its bigram count. The eval loop every data-curation change
    should re-run: perplexity moving on a FIXED held-out fold is the
    signal, and an unseen-bigram test set exercises the smoothing
    floor self-scoring never touches.

    Execution is `bigram_lm_score` with an explicit train reference
    (broadcastable count tables, one tokenization per side) + a 4-sum
    scalar fold; the only additions to the scorer's plan are two
    map-side hash filters."""
    from inception_eventstore_spark.operators.sampling import (
        grouped_kfold,
    )

    if not 0 <= test_fold < k_folds:
        raise ValueError("test_fold must be in [0, k_folds)")
    folded = grouped_kfold(
        docs, k=k_folds, group_col=id_col, seed=seed
    )
    train = folded.where(F.col("fold") != int(test_fold)).drop("fold")
    test = folded.where(F.col("fold") == int(test_fold)).drop("fold")
    sc = bigram_lm_score(test, ref=train, id_col=id_col,
                         text_col=text_col)
    xent = -F.sum(F.col("n_bigrams") * F.col("lm_score")) / F.sum(
        "n_bigrams"
    )
    return sc.agg(
        F.count("*").cast("bigint").alias("n_test_docs"),
        F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.round(xent, 6).alias("cross_entropy"),
        F.round(F.exp(xent), 6).alias("perplexity"),
    )


def good_turing_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_r: int = 20,
    gram_n: int = 1,
) -> DataFrame:
    """Good–Turing frequency-of-frequencies table with the smoothed
    count r* = (r+1)·N_{r+1}/N_r (Good 1953) — the classic LM
    smoothing primitive and the standard unseen-mass estimator
    (p_unseen = N_1/N): how much probability should a tokenizer /
    LM reserve for words it has never seen?

    Output one row per raw count r in [1, max_r] where N_r > 0:
    (r, n_r, n_r1, r_star_u, p0_ppm) with r_star_u =
    div((r+1)·N_{r+1}·2^20, N_r) — exact integer micro-units, NULL
    when N_{r+1} = 0 (the turn-to-regression tail, reported rather
    than extrapolated) — and p0_ppm = div(N_1·10^6, N) repeated on
    each row (N = total token count). All-BIGINT arithmetic.

    ``gram_n`` picks the unit: 1 = words, n > 1 = word n-grams
    (space-joined) — the useful regime is whichever unit actually has
    singletons (a tiny closed vocabulary has no N_1 and the table is
    empty by definition).

    Scale: the corpus collapses to (gram, count), then to
    (count, N_count) — two partial-aggregated shuffles; the r↔r+1
    pairing is a self-join of the tiny frequency-of-frequencies
    table."""
    if max_r < 1:
        raise ValueError("max_r must be >= 1")
    if gram_n < 1:
        raise ValueError("gram_n must be >= 1")
    if gram_n == 1:
        units = docs.select(F.explode(tokens(text_col)).alias("w"))
    else:
        staged = docs.select(tokens(text_col).alias("_tk")).where(
            F.size("_tk") >= gram_n
        )
        starts = F.sequence(
            F.lit(1), F.size("_tk") - F.lit(gram_n - 1)
        )
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(F.col("_tk"), i + F.lit(j))
                   for j in range(gram_n)]
        )
        units = staged.select(
            F.explode(F.transform(starts, lambda i: gram(i))).alias("w")
        )
    vocab = units.groupBy("w").agg(
        F.count("*").cast("bigint").alias("_c")
    )
    fof = vocab.groupBy(F.col("_c").alias("r")).agg(
        F.count("*").cast("bigint").alias("n_r")
    ).localCheckpoint(eager=True)
    tot = fof.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("bigint").alias("_n"),
        F.sum(F.when(F.col("r") == 1, F.col("n_r"))).cast("bigint")
        .alias("_n1"),
    )
    nxt = fof.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1")
    )
    return (
        fof.where(F.col("r") <= int(max_r))
        .join(nxt, "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_r",
            F.coalesce("n_r1", F.lit(0)).cast("bigint").alias("n_r1"),
            F.when(
                F.col("n_r1").isNotNull(),
                F.expr("div((r + 1) * n_r1 * 1048576, n_r)"),
            ).cast("bigint").alias("r_star_u"),
            F.expr(
                "div(coalesce(_n1, 0) * 1000000, _n)"
            ).cast("bigint").alias("p0_ppm"),
        )
    )


def kn_continuation(
    docs: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Kneser–Ney continuation statistics (Kneser & Ney 1995) for the
    ``k`` most frequent tokens: the KN insight is that a word's
    lower-order weight should be how many distinct CONTEXTS it
    continues, not how often it occurs — "francisco" is frequent but
    follows almost only "san", so its continuation probability is tiny
    while its raw unigram probability is large. Per top token:

        p_cont(w)  = |{a : c(a, w) > 0}| / |{(a, b) : c(a, b) > 0}|
        p_uni(w)   = c(w) / N

    both reported in exact ppm (integer div of exact BIGINT counts —
    engine-portable, no rounding surface). The p_uni_ppm / p_cont_ppm
    gap is the burstiness diagnostic LM smoothing reads.

    Scale: one tokenization feeds both sides; the bigram TYPE table
    (distinct (a, b)) is one partial-agg distinct on the pair key, the
    left-context counts fall out of it with a second bounded groupBy,
    and the two corpus-wide scalars broadcast back. Top-k selection is
    a TakeOrdered over the vocabulary-sized count table — never a
    single-partition window."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    tk = _tokenized(docs, id_col, text_col).localCheckpoint(eager=False)
    uni = tk.select(F.explode("_tk").alias("_t")).groupBy("_t").agg(
        F.count("*").cast("bigint").alias("n_token")
    )
    total = uni.agg(
        F.sum("n_token").cast("bigint").alias("_n"),
    )
    types = _bigrams_tk(tk).select("_a", "_b").distinct()
    types = types.localCheckpoint(eager=False)  # feeds two aggregates
    n_types = types.agg(F.count("*").cast("bigint").alias("_nt"))
    left = types.groupBy(F.col("_b").alias("_t")).agg(
        F.count("*").cast("bigint").alias("n_left_contexts")
    )
    top = uni.orderBy(F.col("n_token").desc(), "_t").limit(int(k))
    return (
        top.join(left, "_t", "left")
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(n_types))
        .select(
            F.col("_t").alias("token"),
            "n_token",
            F.coalesce("n_left_contexts", F.lit(0)).cast("bigint")
            .alias("n_left_contexts"),
            F.expr(
                "cast(div(coalesce(n_left_contexts, 0) * 1000000, _nt) "
                "as bigint)"
            ).alias("p_cont_ppm"),
            F.expr("cast(div(n_token * 1000000, _n) as bigint)").alias(
                "p_uni_ppm"
            ),
        )
        .orderBy(F.col("n_token").desc(), "token")
    )
