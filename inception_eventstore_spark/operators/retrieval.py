"""Keyword retrieval over the document corpus: inverted index + BM25.

The serving half of a training-data pipeline: given a handful of query
terms, rank documents by BM25 (Robertson/Sparck-Jones, the Lucene
`k1`/`b` formulation with the +1 idf floor). Everything is expressed so
a query is ONE tokenizing pass over the corpus (plus one extra narrow
stats pass in the ad-hoc case where index-time ``corpus_stats`` aren't
supplied) and only rows mentioning a query term ever reach a shuffle:

- tokenization / per-(doc, term) tf happens map-side (explode + partial
  aggregation);
- the query-term filter is an `isin` literal applied BEFORE the
  aggregation, so the shuffle carries at most |matching docs| · |terms|
  8-byte-keyed rows, never the whole postings list;
- document lengths come from the same scan (`size(tokens)` is a column
  expression, no second pass);
- corpus stats (N, avgdl) are one scalar aggregate baked back as
  literals; per-term df is an aggregate of the tiny tf table; the idf
  table is |terms| rows, joined back broadcast.

At 100 TB the same plan holds: one corpus scan, a broadcast of a few
query terms, a shuffle proportional to the matching postings only, and
a TakeOrdered top-k (no global sort).

Reference analog: the reference's only "search" is the index-by-type
lookup (`IndexByEventTypeStore.cs:125-170`); text relevance ranking is
part of the mandated LLM-pipeline extension surface.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.local_df import local_df
from inception_eventstore_spark.operators.dedup import tokens

__all__ = [
    "build_inverted_index",
    "bm25_topk",
    "bm25_multi_topk",
    "tfidf_cosine_multi_topk",
    "rrf_fuse",
    "BM25_K1",
    "BM25_B",
]

BM25_K1 = 1.2
BM25_B = 0.75


def build_inverted_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Postings list ``(token, doc_id, tf, dl)`` for the whole corpus.

    One explode + one partial-aggregated groupBy; ``dl`` (doc length in
    tokens) rides along via ``first`` so index probes never re-read the
    text. Persist with ``.write.partitionBy()`` bucketed by token for
    pruned probes, or feed straight into :func:`bm25_topk`.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_text"),
    ).withColumn("_toks", tokens(F.col("_text")))
    return (
        toks.select(
            "doc_id",
            F.size("_toks").alias("dl"),
            F.explode("_toks").alias("token"),
        )
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )


def _tokenized(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    )


def _derive_stats(toks: DataFrame) -> tuple[int, int]:
    """(n_docs, Σ dl) — exact integers so both engines derive the
    identical double avgdl."""
    stats = toks.select(
        F.count("*").alias("n_docs"), F.sum(F.size("_toks")).alias("sum_dl")
    ).first()
    return int(stats["n_docs"]), int(stats["sum_dl"] or 0)


def _tf_table(toks: DataFrame, term_filter) -> DataFrame:
    """(doc_id, token, tf, dl) for query terms only — ``term_filter``
    narrows the exploded tokens BEFORE the aggregation, so the shuffle
    carries matching postings only."""
    exploded = toks.select(
        "doc_id",
        F.size("_toks").alias("dl"),
        F.explode("_toks").alias("token"),
    )
    return (
        term_filter(exploded)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )


def _idf_table(tf: DataFrame, n_docs: int) -> DataFrame:
    """Lucene idf per term: ln(1 + (N − df + 0.5)/(df + 0.5))."""
    return (
        tf.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .select(
            "token",
            F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
        )
    )


def _bm25_term_score(k1: float, b: float, avgdl: float):
    """The per-(doc, term) BM25 contribution over (idf, tf, dl) cols —
    ONE definition shared by the single- and multi-query paths."""
    return (
        F.col("idf")
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    corpus_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Top-``k`` documents for ``query_terms`` by BM25.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the Lucene
    formulation (always positive, so stopword-ish terms cannot flip
    rankings negative).

    ``corpus_stats = (n_docs, sum_dl)`` are index-time constants — a
    serving deployment computes them once alongside
    :func:`build_inverted_index` and passes them in, making a query ONE
    tokenizing pass over the corpus. When omitted they are derived here
    with an extra narrow pass (count + Σ dl), the ad-hoc-query path.

    Returns ``(doc_id, score)`` ordered by (score desc, doc_id), score
    rounded to 6 dp BEFORE the ordering so the k-cut is deterministic
    across engines and partitionings.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})

    toks = _tokenized(docs, id_col, text_col)
    if corpus_stats is None:
        corpus_stats = _derive_stats(toks)
    n_docs, sum_dl = corpus_stats
    if n_docs == 0:
        raise ValueError("empty corpus")
    avgdl = sum_dl / n_docs

    tf = _tf_table(toks, lambda df: df.where(F.col("token").isin(terms)))
    idf = _idf_table(tf, n_docs)
    scored = (
        tf.join(F.broadcast(idf), "token")
        .withColumn("_s", _bm25_term_score(k1, b, avgdl))
        .groupBy("doc_id")
        .agg(F.round(F.sum("_s"), 6).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def bm25_score_py(
    corpus: dict[int, list[str]],
    query_terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> dict[int, float]:
    """Driver-side reference implementation for tests (same math)."""
    terms = sorted({t.lower() for t in query_terms})
    n = len(corpus)
    avgdl = sum(len(t) for t in corpus.values()) / n
    df = {
        t: sum(1 for toks in corpus.values() if t in toks) for t in terms
    }
    out: dict[int, float] = {}
    for doc, toks in corpus.items():
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            if not tf or not df[t]:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(toks) / avgdl)
            )
        if s > 0:
            out[doc] = round(s, 6)
    return out


def bm25_multi_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k1: float = BM25_K1,
    b: float = BM25_B,
    corpus_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Top-``k`` documents for EVERY query in a query TABLE — the batch
    serving shape (mirrors ``similarity.multi_query_topk``): one corpus
    scan answers the whole workload (supply index-time ``corpus_stats``
    like :func:`bm25_topk` to drop the ad-hoc stats pass).

    ``queries``: (query_id, terms array<string>). Dataflow:

    - the distinct term universe of ALL queries is the postings filter
      (broadcast semi-join replaces the single-query ``isin`` literal —
      the corpus still shuffles matching postings only);
    - df/idf is computed per term once, shared across queries;
    - scoring joins the (query, term) pairs onto the tf table by term
      (both sides term-keyed; queries are small → broadcast), then one
      (query, doc) aggregation and a per-query window top-k — no
      per-query corpus pass anywhere.

    Output: (query_id, rank, doc_id, score), score rounded to 6 dp
    BEFORE the (score desc, doc_id) cut.
    """
    scored, _q = _multi_scored(
        docs, queries, id_col, text_col, query_id_col, terms_col,
        k1, b, corpus_stats,
    )
    return _topk_ranked(scored, k)


def _multi_scored(
    docs, queries, id_col, text_col, query_id_col, terms_col,
    k1, b, corpus_stats, with_hits: bool = False,
):
    """(scored, q): the shared (query_id, doc_id, score[, _hit])
    BM25 aggregate of `bm25_multi_topk`. ``with_hits`` additionally
    carries the per-(query, doc) matched-DISTINCT-term count in the
    SAME aggregate — a doc is one tf row per contained term, so the
    count doubles as the conjunctive-relevance signal retrieval_map
    needs (r12: saves the scorecards a second corpus tokenize+explode
    pass; the score expression is untouched)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(terms_col).alias("token"),
    ).withColumn("token", F.lower("token")).dropDuplicates(
        ["query_id", "token"]
    )
    term_universe = q.select("token").distinct()

    toks = _tokenized(docs, id_col, text_col)
    if corpus_stats is None:
        corpus_stats = _derive_stats(toks)
    n_docs, sum_dl = corpus_stats
    if n_docs == 0:
        raise ValueError("empty corpus")
    avgdl = sum_dl / n_docs

    tf = _tf_table(
        toks,
        lambda df: df.join(F.broadcast(term_universe), "token", "left_semi"),
    )
    idf = _idf_table(tf, n_docs)
    aggs = [F.round(F.sum("_s"), 6).alias("score")]
    if with_hits:
        aggs.append(F.count("*").cast("bigint").alias("_hit"))
    scored = (
        tf.join(F.broadcast(idf), "token")
        .join(F.broadcast(q), "token")
        .withColumn("_s", _bm25_term_score(k1, b, avgdl))
        .groupBy("query_id", "doc_id")
        .agg(*aggs)
    )
    return scored, q


def _topk_ranked(scored, k: int):
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select(
            "query_id", F.col("rank").cast("bigint").alias("rank"),
            "doc_id", "score",
        )
    )


def rrf_fuse(
    ranked_lists: list[DataFrame],
    rrf_k: int = 60,
    top_n: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) — the
    standard hybrid-search combiner: fused(d) = Σ_lists 1/(k + rank).
    Each input exposes (query_id, item_id, rank); an item missing from
    a list simply contributes nothing (no outer-join NULL juggling —
    the union+groupBy shape IS the sum over lists it appears in).

    Contributions are integer parts-per-billion (``1e9 div (k +
    rank)``), so the fused score is associative BIGINT addition —
    bit-exact on any engine and immune to float-sum ordering; at
    rank ≤ 10⁴ adjacent reciprocal values differ by ≥ ~9 ppb, far
    above the floor-quantization, so fused ORDER matches the real-value
    RRF. Output: (query_id, item_id, rrf_ppb, n_lists, fused_rank).

    Scale: the union carries Σ|lists| (bounded k·|queries| rows — the
    retrievers already cut to top-k), one partial-aggregated groupBy,
    and a per-query window over ≤ Σk rows — skew-free by construction.
    """
    if not ranked_lists:
        raise ValueError("ranked_lists must be non-empty")
    if rrf_k < 1:
        raise ValueError("rrf_k must be >= 1")
    from functools import reduce

    from pyspark.sql import Window

    u = reduce(
        DataFrame.unionByName,
        [l.select("query_id", "item_id", "rank") for l in ranked_lists],
    )
    contrib = F.expr(f"1000000000 div ({int(rrf_k)} + rank)")
    scores = u.groupBy("query_id", "item_id").agg(
        F.sum(contrib).cast("bigint").alias("rrf_ppb"),
        F.count("*").cast("bigint").alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_ppb"), F.asc("item_id")
    )
    out = scores.withColumn(
        "fused_rank", F.row_number().over(w).cast("bigint")
    )
    if top_n is not None:
        out = out.where(F.col("fused_rank") <= int(top_n))
    return out


def tfidf_cosine_multi_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """Batch TF-IDF cosine retrieval — the classic vector-space
    ranking (sklearn's smooth idf: ln((1+N)/(1+df)) + 1), the lexical
    companion BM25 replaces in modern stacks and the second natural
    input to `rrf_fuse`. Cosine differs from BM25 in both directions:
    long documents are penalized by their FULL L2 norm (over every
    term, not just query terms), and repeated query terms re-weight.

    Dataflow (one corpus tokenizing scan; every shuffle is 8-byte
    term/doc keyed):

    - full (doc, term, tf) table → per-term df → idf (|vocab| rows);
    - document norms ||d|| = sqrt(Σ (tf·idf)²) — the tf table joins
      idf on the term key (AQE picks broadcast when the vocab is
      small; at web scale this is the standard term-keyed shuffle)
      and re-aggregates per doc;
    - scoring restricts the tf table to query terms (broadcast),
      sums tf·idf·idf_q per (query, doc), divides by ||d||·||q||;
    - score rounds to 6 dp BEFORE the (score desc, doc_id) rank cut,
      so rank order is engine-exact (the bm25_multi_topk contract).

    Output: (query_id, rank, doc_id, score).
    """
    from pyspark.sql import Window

    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(terms_col).alias("token"),
        )
        .withColumn("token", F.lower("token"))
        .groupBy("query_id", "token")
        .agg(F.count("*").alias("qtf"))
    )

    toks = _tokenized(docs, id_col, text_col)
    n_docs = toks.count()
    if n_docs == 0:
        raise ValueError("empty corpus")

    tf_all = (
        toks.select("doc_id", F.explode("_toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    idf = tf_all.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    ).select(
        "token",
        (
            F.log(
                F.lit(float(1 + n_docs)) / (F.col("df") + F.lit(1.0))
            )
            + F.lit(1.0)
        ).alias("idf"),
    )
    weighted = tf_all.join(idf, "token").select(
        "doc_id", "token", (F.col("tf") * F.col("idf")).alias("w")
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("dnorm")
    )

    qw = q.join(idf, "token").select(
        "query_id", "token", (F.col("qtf") * F.col("idf")).alias("qw")
    )
    qnorms = qw.groupBy("query_id").agg(
        F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qnorm")
    )

    scores = (
        weighted.join(F.broadcast(qw), "token")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"))
        .join(norms, "doc_id")
        .join(F.broadcast(qnorms), "query_id")
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.col("dot") / (F.col("dnorm") * F.col("qnorm")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= int(k))
        .select("query_id", "rank", "doc_id", "score")
    )


def retrieval_ndcg(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    checkpoint: bool = True,
) -> DataFrame:
    """nDCG@k of the BM25 ranking against the term-coverage relevance
    proxy — the retrieval-quality scorecard: per query,
    ``dcg``/``idcg``/``ndcg`` (all 6 dp) where graded relevance of a
    doc is the count of DISTINCT query terms it contains (an integer
    both engines derive identically), gain = 2^rel − 1, and the rank
    discounts 1/log2(rank+1) are python-computed literals injected
    into BOTH the plan and the SQL oracle (the ewma coefficient
    pattern) — neither engine evaluates a log.

    The ideal DCG never ranks documents: relevance grades are bounded
    by the query's term count m, so the per-(query, grade) COUNT table
    (|Q|·m rows) fills the k slots arithmetically — slot ranges per
    grade via an exclusive running count (a window over ≤ m rows per
    query, cardinality-bounded by construction) and a prefix-sum
    literal table of the discounts. No per-doc window, no top-k over
    the corpus beyond the BM25 ranking itself (`bm25_multi_topk`'s
    one-scan dataflow).

    Scale: rel table = distinct (doc, token) ⋈ broadcast query terms →
    partial-agg count; everything after operates on |Q|·k or |Q|·m
    rows. Queries with no matching document drop out (idcg undefined).
    """
    import math

    if k < 1:
        raise ValueError("k must be >= 1")
    w = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    wpre = [0.0]
    for x in w:
        wpre.append(wpre[-1] + x)
    warr = F.array(*[F.lit(float(x)) for x in w])
    wparr = F.array(*[F.lit(float(x)) for x in wpre])

    # ONE corpus pass (r12, guide §2.4): the graded relevance (count of
    # distinct query terms in the doc) IS the `_hit` column the shared
    # BM25 aggregate can carry — the old second tokenize+explode+dedup
    # corpus pass (doc_terms) is gone. scored feeds the rank window,
    # the dcg join and the idcg grade-count — persist, checkpoint the
    # |queries|-row result, release.
    scored, _q = _multi_scored(
        docs, queries, id_col, text_col, query_id_col, terms_col,
        BM25_K1, BM25_B, None, with_hits=True,
    )
    scored = scored.persist()
    scored.count()  # materialize BEFORE the concurrent consumer stages
    ranked = _topk_ranked(scored.drop("_hit"), k)
    rel = scored.select(
        "query_id", "doc_id", F.col("_hit").cast("int").alias("rel")
    )
    # Gain 2^rel - 1 on a BIGINT base, rel clamped to 62: an INT base
    # wraps mod 32 in Spark for rel >= 31 (DuckDB raises), so a query
    # with 31+ distinct terms would silently corrupt DCG otherwise.
    gain = F.expr(
        "shiftleft(CAST(1 AS BIGINT), least(coalesce(rel, 0), 62)) - 1"
    )
    dcg = (
        ranked.join(rel, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            (gain.cast("double") * F.element_at(warr, F.col("rank").cast("int")))
            .alias("_t"),
        )
        .groupBy("query_id")
        .agg(F.sum("_t").alias("_dcg"))
    )
    rc = rel.groupBy("query_id", "rel").agg(
        F.count("*").cast("bigint").alias("_c")
    )
    from pyspark.sql import Window

    # ≤ m rows per query (m = the query's term count) — bounded groups
    wspec = (
        Window.partitionBy("query_id")
        .orderBy(F.col("rel").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rc2 = rc.withColumn(
        "_cum", F.coalesce(F.sum("_c").over(wspec), F.lit(0))
    )
    lo = F.least(F.col("_cum"), F.lit(k)).cast("int")
    hi = F.least(F.col("_cum") + F.col("_c"), F.lit(k)).cast("int")
    contrib = (
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), least(rel, 62)) - 1"
        ).cast("double")
        * (F.element_at(wparr, hi + 1) - F.element_at(wparr, lo + 1))
    )
    idcg = (
        rc2.select("query_id", contrib.alias("_t"))
        .groupBy("query_id")
        .agg(F.sum("_t").alias("_idcg"))
    )
    out = (
        dcg.join(idcg, "query_id")
        .where(F.col("_idcg") > 0)
        .select(
            "query_id",
            F.round("_dcg", 6).alias("dcg"),
            F.round("_idcg", 6).alias("idcg"),
            F.round(F.col("_dcg") / F.col("_idcg"), 6).alias("ndcg"),
        )
    )
    if not checkpoint:
        return out  # plan inspection only — caches then outlive the call
    out = out.localCheckpoint(eager=True)  # |queries| rows
    scored.unpersist()
    return out


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_matches): documents containing the EXACT consecutive
    token phrase, with the number of occurrence positions — the
    positional-postings conjunction behind search-engine quoted
    queries, done with ONE explode + ONE aggregation instead of k−1
    positional self-joins: every posting of a phrase token votes for
    the anchor position `pos − slot` of each phrase slot it could
    fill, and an anchor with all k DISTINCT slots present is a match.
    Repeated words in the phrase are handled for free (one token maps
    to several slots; distinct-slot counting keeps the conjunction
    exact).

    Scale: postings are pre-filtered to the phrase's tokens (a
    broadcast ~k-row slot map) BEFORE the aggregation, so the shuffle
    carries only candidate-token positions — the document stream never
    self-joins.
    """
    if not phrase:
        raise ValueError("phrase must be non-empty")
    phrase = [w.lower() for w in phrase]
    k = len(phrase)
    spark = docs.sparkSession
    # local_df, not raw createDataFrame: the raw path shards k rows
    # into 32 pickled slices and any task reading several pays a
    # python-deserializer round-trip per slice (CLAUDE.md fixture rule)

    slots = local_df(
        spark,
        [(w, s) for s, w in enumerate(phrase)],
        "token string, slot int",
    )
    postings = _tokenized(docs, id_col, text_col).select(
        "doc_id", F.posexplode("_toks").alias("pos", "token")
    )
    anchors = postings.join(F.broadcast(slots), "token").select(
        "doc_id", (F.col("pos") - F.col("slot")).alias("_a"), "slot"
    )
    matches = (
        anchors.groupBy("doc_id", "_a")
        .agg(F.countDistinct("slot").alias("_k"))
        .where(F.col("_k") == k)
    )
    return matches.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_matches")
    )


def ql_dirichlet_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    mu: float = 2000.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents by Dirichlet-smoothed query likelihood
    (Zhai & Lafferty, SIGIR 2001) — the language-modeling retrieval
    twin of :func:`bm25_topk`, and the better ranker for short
    queries against variable-length documents:

        score(d) = Σ_t ln((tf_{t,d} + µ·cf_t/|C|) / (dl_d + µ))

    where cf_t is the COLLECTION frequency and |C| the corpus token
    count — unlike BM25, a document is penalized for query terms it
    lacks (the tf = 0 smoothing term still contributes), so every
    document participates — including token-free ones (dl = 0 rows
    are kept and the smoothing term µ·cf_t/|C| / (0 + µ) is
    well-defined).

    Scale shape: one tokenizing pass; postings narrowed to the query
    terms BEFORE the aggregation shuffle (the `_tf_table` rule); the
    |terms|-row collection-frequency table broadcast-crosses the
    per-doc length relation, so the corpus-sized side never shuffles
    to meet the query. Terms with cf = 0 are dropped (their smoothed
    probability is 0 — ln undefined; the standard convention).

    Determinism: tf, dl, cf, |C| are exact integers; each term's ln
    is one fixed-order double and the per-doc sum is rounded to 6 dp
    BEFORE the (score desc, doc_id) cut — the bm25_topk recipe (ln of
    a rational never terminates at a decimal boundary).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if mu <= 0:
        raise ValueError(f"mu must be positive, got {mu}")
    terms = sorted({t.lower() for t in query_terms})

    toks = _tokenized(docs, id_col, text_col)
    n_docs, sum_dl = _derive_stats(toks)
    if n_docs == 0 or sum_dl == 0:
        raise ValueError("empty corpus")

    tf = _tf_table(toks, lambda df: df.where(F.col("token").isin(terms)))
    cf = (
        tf.groupBy("token")
        .agg(F.sum("tf").cast("bigint").alias("cf"))
        .where(F.col("cf") > 0)
    )
    dls = toks.select("doc_id", F.size("_toks").cast("bigint").alias("dl"))
    grid = dls.crossJoin(F.broadcast(cf))
    joined = grid.join(tf.select("doc_id", "token", "tf"),
                       ["doc_id", "token"], "left")
    lp = F.log(
        (
            F.coalesce(F.col("tf"), F.lit(0)).cast("double")
            + F.lit(float(mu)) * F.col("cf").cast("double")
            / F.lit(float(sum_dl))
        )
        / (F.col("dl").cast("double") + F.lit(float(mu)))
    )
    scored = joined.groupBy("doc_id").agg(
        F.round(F.sum(lp), 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def ql_jelinek_mercer_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    lam: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents by Jelinek-Mercer-smoothed query likelihood
    (Zhai & Lafferty, SIGIR 2001) — linear interpolation between the
    document and collection language models:

        score(d) = Σ_t ln((1−λ)·tf_{t,d}/dl_d + λ·cf_t/|C|)

    The third member of the retrieval family next to
    :func:`bm25_topk` and :func:`ql_dirichlet_topk`: JM's constant
    mixing weight suits LONG (verbose) queries where Dirichlet's
    length-adaptive smoothing suits short ones — Zhai & Lafferty's
    table 4 conclusion, and why engines expose both.

    Documents with dl = 0 score with the pure collection term (the
    (1−λ)·tf/dl document term is vacuous — tf is necessarily 0), so
    every document participates, like the Dirichlet twin. Terms with
    cf = 0 are dropped (smoothed probability 0 — ln undefined; the
    standard convention).

    Scale and determinism are the ql_dirichlet_topk recipe unchanged:
    postings narrowed to query terms before the shuffle, |terms|-row
    cf broadcast, exact-integer tf/dl/cf/|C|, one fixed-order ln per
    term, 6 dp round BEFORE the (score desc, doc_id) cut.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if not 0.0 < lam < 1.0:
        raise ValueError(f"lambda must be in (0, 1), got {lam}")
    terms = sorted({t.lower() for t in query_terms})

    toks = _tokenized(docs, id_col, text_col)
    n_docs, sum_dl = _derive_stats(toks)
    if n_docs == 0 or sum_dl == 0:
        raise ValueError("empty corpus")

    tf = _tf_table(toks, lambda df: df.where(F.col("token").isin(terms)))
    cf = (
        tf.groupBy("token")
        .agg(F.sum("tf").cast("bigint").alias("cf"))
        .where(F.col("cf") > 0)
    )
    dls = toks.select("doc_id", F.size("_toks").cast("bigint").alias("dl"))
    grid = dls.crossJoin(F.broadcast(cf))
    joined = grid.join(tf.select("doc_id", "token", "tf"),
                       ["doc_id", "token"], "left")
    doc_term = F.when(
        F.col("dl") > 0,
        F.lit(1.0 - float(lam))
        * F.coalesce(F.col("tf"), F.lit(0)).cast("double")
        / F.col("dl").cast("double"),
    ).otherwise(F.lit(0.0))
    lp = F.log(
        doc_term
        + F.lit(float(lam)) * F.col("cf").cast("double")
        / F.lit(float(sum_dl))
    )
    scored = joined.groupBy("doc_id").agg(
        F.round(F.sum(lp), 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def borda_fuse(
    ranked_lists: list[DataFrame],
    list_size: int,
    top_n: int | None = None,
) -> DataFrame:
    """Borda-count rank fusion — the positional-voting combiner next
    to :func:`rrf_fuse`: each list awards ``list_size − rank + 1``
    points (its top item gets `list_size`, its last gets 1; absent
    items get 0), and items are fused by total points. Borda weights
    fall LINEARLY with rank where RRF's fall hyperbolically, so Borda
    rewards consistent mid-rank agreement more and single-list top
    hits less — the classic social-choice alternative worth reading
    side-by-side with RRF (Aslam & Montague, SIGIR 2001).

    Pure integers end-to-end: points are exact BIGINTs, the fused
    score is associative integer addition, the final order is
    (points desc, item_id) — nothing to round, bit-exact on any
    engine. Ranks past ``list_size`` raise (the caller declared the
    list depth — silent zero-point rows would mask a mis-cut input).

    Scale: union of the already-top-k lists (Σk·|queries| rows), one
    partial-aggregated groupBy, one per-query window over ≤ Σk rows —
    the rrf_fuse shape. Output: (query_id, item_id, borda_points,
    n_lists, fused_rank).
    """
    if not ranked_lists:
        raise ValueError("ranked_lists must be non-empty")
    if list_size < 1:
        raise ValueError("list_size must be >= 1")
    from functools import reduce

    from pyspark.sql import Window

    u = reduce(
        DataFrame.unionByName,
        [l.select("query_id", "item_id", "rank") for l in ranked_lists],
    )
    pts = F.expr(
        f"CASE WHEN rank BETWEEN 1 AND {int(list_size)} "
        f"THEN {int(list_size)} - rank + 1 "
        "ELSE raise_error(concat('borda_fuse: rank ', rank, "
        f"' outside declared list_size {int(list_size)}')) END"
    )
    scores = u.groupBy("query_id", "item_id").agg(
        F.sum(pts).cast("bigint").alias("borda_points"),
        F.count("*").cast("bigint").alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("borda_points"), F.asc("item_id")
    )
    out = scores.withColumn(
        "fused_rank", F.row_number().over(w).cast("bigint")
    )
    if top_n is not None:
        out = out.where(F.col("fused_rank") <= int(top_n))
    return out


def rank_overlap_rbo(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    mu: float = 2000.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010) between
    the BM25 and Dirichlet-QL top-``k`` rankings for the same query —
    the top-weighted agreement measure for comparing rankers (Kendall
    on truncated lists is undefined off the intersection; RBO is not).
    Reported as the DEPTH-k PREFIX SUM (RBO_MIN without the residual):

        rbo = (1−p)/p · Σ_{d=1..k} (|A_d ∩ B_d| / d) · p^d,  p = 0.9

    Exactness: both input rankings are already deterministic (6-dp
    rounds before their (score, doc_id) cuts); the two bounded k-row
    lists cross to the driver, overlaps are exact ints, and because
    p = 9/10 each depth's term is the EXACT integer
    ``div(ov_d · 9^(d−1) · 10^6, d · 10^d)`` — the whole statistic is
    associative integer addition in ppm, no float anywhere (identical
    lists at k = 10 score 651,321 ppm ≈ 1 − 0.9^10).

    Scale: two retrieval plans (each the proven postings-narrowed
    shape) and a ≤ 2k-row driver fold. Output (one row): k,
    overlap_k, rbo_ppm.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    a = [
        r["doc_id"]
        for r in bm25_topk(
            docs, query_terms, k=k, id_col=id_col, text_col=text_col
        ).collect()
    ]
    b = [
        r["doc_id"]
        for r in ql_dirichlet_topk(
            docs, query_terms, k=k, mu=mu, id_col=id_col,
            text_col=text_col,
        ).collect()
    ]
    rbo_ppm = 0
    ov_k = 0
    sa: set = set()
    sb: set = set()
    for d in range(1, k + 1):
        if d <= len(a):
            sa.add(a[d - 1])
        if d <= len(b):
            sb.add(b[d - 1])
        ov = len(sa & sb)
        rbo_ppm += (ov * 9 ** (d - 1) * 10**6) // (d * 10**d)
        ov_k = ov

    return local_df(
        docs.sparkSession,
        [(k, ov_k, rbo_ppm)],
        "k bigint, overlap_k bigint, rbo_ppm bigint",
    )


def retrieval_map(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    checkpoint: bool = True,
) -> DataFrame:
    """Average precision at ``k`` of the BM25 ranking per query — the
    second standard retrieval scorecard next to :func:`retrieval_ndcg`,
    with BINARY relevance: a document is relevant iff it contains ALL
    of the query's distinct terms (the conjunctive-match proxy — the
    graded ≥1-term proxy would mark every BM25 candidate relevant and
    collapse AP to 1).

        AP@k = Σ_{i≤k, rel_i} P@i / min(R, k),   P@i = c_i / i

    computed EXACTLY in integers: with L = lcm(1..k) every P@i is
    c_i·(L/i)/L, so the sum is one BIGINT and
    ap_ppm = div(Σ c_i·(L/i) · 10⁶, L·min(R, k)) replays bit-for-bit
    in SQL — no floating point anywhere.

    Scale: the ranking is `bm25_multi_topk`'s one-scan dataflow; the
    relevance table is distinct (doc, token) ⋈ broadcast query terms
    with a count == m filter (partial-agg, corpus shuffles once on the
    token key); the running hit count c_i is a window over ≤ k rows
    per query — cardinality-bounded by construction, never
    corpus-sized."""
    import math

    if k < 1:
        raise ValueError("k must be >= 1")
    lcm = math.lcm(*range(1, k + 1))

    # ONE corpus pass (r12, guide §2.4): the BM25 aggregate already
    # touches every (doc, query-term) posting, and a doc is relevant
    # iff its matched-DISTINCT-term count equals the query's term
    # count — so the relevance table falls out of the SAME aggregate
    # (`_hit`) and the old second tokenize+explode+dedup corpus pass
    # (doc_terms) is gone. scored feeds the rank window AND the
    # relevance filter — persist, checkpoint the |queries|-row result,
    # release.
    scored, q = _multi_scored(
        docs, queries, id_col, text_col, query_id_col, terms_col,
        BM25_K1, BM25_B, None, with_hits=True,
    )
    scored = scored.persist()
    scored.count()  # materialize BEFORE the concurrent consumer stages
    ranked = _topk_ranked(scored.drop("_hit"), k)
    m_terms = q.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("_m")
    )
    rel = (
        scored.join(F.broadcast(m_terms), "query_id")
        .where(F.col("_hit") == F.col("_m"))
        .select("query_id", "doc_id")
    )
    r_tot = rel.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_rel")
    )
    from pyspark.sql import Window

    # ≤ k rows per query after the rank filter — bounded window
    wspec = (
        Window.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hits = (
        ranked.where(F.col("rank") <= int(k))
        .join(rel.withColumn("_r", F.lit(1)), ["query_id", "doc_id"], "left")
        .withColumn("_rel", F.coalesce("_r", F.lit(0)).cast("bigint"))
        .withColumn("_c", F.sum("_rel").over(wspec))
        .select(
            "query_id",
            (
                F.col("_rel") * F.col("_c")
                * F.expr(f"div(cast({int(lcm)} as bigint), rank)")
            ).alias("_t"),
            F.col("_rel").alias("_hit"),
        )
        .groupBy("query_id")
        .agg(
            F.sum("_t").cast("bigint").alias("_s"),
            F.sum("_hit").cast("bigint").alias("n_rel_topk"),
        )
    )
    out = (
        hits.join(r_tot, "query_id")
        .where(F.col("n_rel") > 0)
        .select(
            "query_id",
            "n_rel",
            "n_rel_topk",
            F.expr(
                f"cast(div(_s * 1000000, "
                f"{int(lcm)} * least(n_rel, {int(k)})) as bigint)"
            ).alias("ap_ppm"),
        )
        .orderBy("query_id")
    )
    if not checkpoint:
        return out  # plan inspection only — caches then outlive the call
    out = out.localCheckpoint(eager=True)  # |queries| rows
    scored.unpersist()
    return out
