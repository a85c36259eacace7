"""The declared correctness queries (SURVEY §2 G): every read-semantic
operator from the §2 inventory re-expressed on the driver's synthetic
analytics tables, each paired with the ANSI-SQL oracle DuckDB runs on
the same parquet files.

Conventions that make the oracle hash-match exact:
- the gate's value hash is order-insensitive (rows sorted before
  hashing, both here in tools/check_oracle.py and in the driver), so
  queries carry ORDER BY only where it is semantic (keyset paging,
  top-k limits) or free (post-aggregation hundreds of rows). Wide
  full-table projections deliberately do NOT sort — a decorative global
  orderBy is a full range-partition shuffle that would dominate the
  benchmark without changing the verified result;
- every computed column aliased identically on both sides;
- integer-typed columns cast to BIGINT on both sides (Spark year() is
  INT, DuckDB's is BIGINT; DuckDB sum(BIGINT) is HUGEINT);
- floating aggregates rounded (money → 2 dp, distances → 6 dp) so the
  partial-aggregation order (nondeterministic in both engines) cannot
  leak into the hash;
- timestamps compared in UTC (session timezone pinned in session.py).

The event-log analog mapping (SURVEY §2 G): ``events(event_id, ts,
user_id, event_type, value, props)`` with user_id ≈ aggregate id,
event_type ≈ et, props ≈ payload.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.local_df import local_df
from inception_eventstore_spark.operators import dedup as D
from inception_eventstore_spark.operators import similarity as S
from inception_eventstore_spark.operators import text as TX
from inception_eventstore_spark.sources.tables import load_table


@dataclass(frozen=True)
class QueryDef:
    """One declared operator query: Spark plan + optional DuckDB oracle."""

    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _ns(ts: str) -> int:
    """UTC timestamp string → int64 nanoseconds since epoch."""
    import datetime as _dt

    d = _dt.datetime.fromisoformat(ts).replace(tzinfo=_dt.timezone.utc)
    return int(d.timestamp()) * 1_000_000_000


# DuckDB twin of operators.dedup.tokens(): lower-case, split on the
# exact Java-\s char set (spelled out — RE2's \s lacks \x0b), drop
# empties. Embedded into the text-operator oracles below.
_DUCK_TOKENS = (
    "list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), "
    "x -> x <> '')"
)


def _duck_stopword_list(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang])
    return f"[{words}]"


def _duck_stopword_hits(lang: str) -> str:
    return f"len(list_filter(tk, x -> list_contains({_duck_stopword_list(lang)}, x)))"


def _ngram_jaccard_oracle() -> str:
    """Exact word-3-gram Jaccard join (threshold 0.8) as brute-force SQL
    — O(n²) pairs is fine at oracle scale; the Spark side is the
    PPJoin-filtered distributed version of the same math."""
    return f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
sets AS (
  SELECT doc_id,
    list_distinct([array_to_string(list_slice(tk, i, least(i+2, len(tk))), ' ')
                   for i in generate_series(1, greatest(len(tk)-2, 1))]) AS grams
  FROM toks WHERE len(tk) > 0),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    len(list_intersect(a.grams, b.grams)) AS inter,
    len(a.grams) AS sa, len(b.grams) AS sb
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id)
SELECT id_a, id_b,
  round(CAST(inter AS DOUBLE) / (CAST(sa + sb AS DOUBLE) - CAST(inter AS DOUBLE)), 6) AS jaccard
FROM pairs
WHERE CAST(inter AS DOUBLE) / (CAST(sa + sb AS DOUBLE) - CAST(inter AS DOUBLE)) >= 0.8
ORDER BY id_a, id_b
"""


def _cc_clusters_oracle() -> str:
    """Twin of connected_components over the exact n-gram-Jaccard pair
    graph: the same brute-force pair query as _ngram_jaccard_oracle,
    closed transitively with a recursive CTE, labeled by component min.
    (DuckDB can afford the O(V·E) closure at oracle scale; the Spark
    side is the O(log² n)-round alternating-star algorithm.)"""
    return f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
sets AS (
  SELECT doc_id,
    list_distinct([array_to_string(list_slice(tk, i, least(i+2, len(tk))), ' ')
                   for i in generate_series(1, greatest(len(tk)-2, 1))]) AS grams
  FROM toks WHERE len(tk) > 0),
pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / (CAST(len(a.grams) + len(b.grams) AS DOUBLE)
         - CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)) >= 0.8),
und AS (
  SELECT id_a AS u, id_b AS v FROM pr
  UNION SELECT id_b AS u, id_a AS v FROM pr),
reach AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, n.v FROM reach r JOIN und n ON r.v = n.u WHERE n.v <> r.u)
SELECT u AS doc_id, least(u, min(v)) AS component
FROM reach GROUP BY u ORDER BY doc_id
"""


def _quality_scores_oracle() -> str:
    """Twin of text.quality_features' composite score — identical
    arithmetic in identical order so the IEEE doubles agree bit-for-bit.
    A token appearing in several languages' stopword lists counts once
    per list, exactly like the Spark sum over per-language hits."""
    hits = " + ".join(_duck_stopword_hits(l) for l in TX.STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk,
    length(text) AS nc,
    length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS np
  FROM documents),
f AS (
  SELECT doc_id, len(tk) AS n_tok,
    CASE WHEN len(tk) > 0 THEN CAST({hits} AS DOUBLE) / len(tk) ELSE 0.0 END AS stop_ratio,
    CASE WHEN nc > 0 THEN CAST(np AS DOUBLE) / nc ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(tk) > 0 THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) ELSE 0.0 END AS uniq_ratio
  FROM t)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
  round(least(n_tok / 20.0, 1.0) * 0.3
      + least(stop_ratio * 4, 1.0) * 0.2
      + (1.0 - least(punct_ratio * 5, 1.0)) * 0.2
      + uniq_ratio * 0.3, 6) AS quality_score
FROM f ORDER BY doc_id
"""


def _quality_quantile_oracle() -> str:
    """Per-language top-30% filter over the same (certified) composite
    score arithmetic as ``_quality_scores_oracle``. The per-doc score is
    rounded at 6 dp on BOTH engines (the Spark side filters/aggregates
    the rounded ``quality_score``, so the oracle must too — unrounded
    scores drift up to 5e-7 per doc and flipped the 6th decimal of the
    group mean at sf0.001). DuckDB ``quantile_cont`` and Spark's exact
    ``percentile`` share the linear-interpolation definition; the mean
    is reported in integer micro-units (floor division) to dodge 6-dp
    half-boundaries entirely."""
    hits = " + ".join(_duck_stopword_hits(l) for l in TX.STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id, lang, {_DUCK_TOKENS} AS tk,
    length(text) AS nc,
    length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS np
  FROM documents),
f AS (
  SELECT doc_id, lang, len(tk) AS n_tok,
    CASE WHEN len(tk) > 0 THEN CAST({hits} AS DOUBLE) / len(tk) ELSE 0.0 END AS stop_ratio,
    CASE WHEN nc > 0 THEN CAST(np AS DOUBLE) / nc ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(tk) > 0 THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) ELSE 0.0 END AS uniq_ratio
  FROM t),
q AS (
  SELECT doc_id, lang,
    round(least(n_tok / 20.0, 1.0) * 0.3
      + least(stop_ratio * 4, 1.0) * 0.2
      + (1.0 - least(punct_ratio * 5, 1.0)) * 0.2
      + uniq_ratio * 0.3, 6) AS qs
  FROM f),
thr AS (SELECT lang, quantile_cont(qs, 0.7) AS thr FROM q GROUP BY lang)
SELECT q.lang, count(*) AS kept, round(min(qs), 6) AS min_kept_score,
  CAST(sum(CAST(round(qs * 1000000) AS BIGINT)) // count(*) AS BIGINT)
    AS avg_kept_micro
FROM q JOIN thr ON q.lang = thr.lang WHERE qs >= thr
GROUP BY q.lang ORDER BY q.lang
"""


def _lang_id_oracle() -> str:
    """Twin of text.lang_id: argmax over stopword hits with the same
    tie-break (struct-lexicographic max → alphabetically-last language
    on equal hits), CJK-presence short-circuit for zh."""
    structs = ", ".join(
        f"{{'h': {_duck_stopword_hits(l)}, 'l': '{l}'}}"
        for l in ("en", "fr", "es", "de")
    )
    return f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKENS} AS tk FROM documents),
s AS (SELECT doc_id, text, list_sort([{structs}])[-1] AS best FROM t)
SELECT doc_id,
  CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
       WHEN best.h > 0 THEN best.l
       ELSE 'und' END AS lang_pred
FROM s ORDER BY doc_id
"""


def _corpus_curation_oracle() -> str:
    """Twin of pipeline.curate_corpus + curation_summary over the same
    planted-variant corpus as ``dedup_exact``: normalized-content dedup
    (keep smallest id) → quality/lang annotation → threshold filter →
    per-language budget rollup."""
    hits = " + ".join(_duck_stopword_hits(l) for l in TX.STOPWORDS)
    structs = ", ".join(
        f"{{'h': {_duck_stopword_hits(l)}, 'l': '{l}'}}"
        for l in ("en", "fr", "es", "de")
    )
    return f"""
WITH both_docs AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, lang, upper(text) || '  ' AS text
  FROM documents WHERE doc_id % 10 = 0),
d AS (
  SELECT doc_id, lang, text, row_number() OVER (
      PARTITION BY trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))
      ORDER BY doc_id) AS _rk
  FROM both_docs),
t AS (
  SELECT doc_id, lang, text, {_DUCK_TOKENS} AS tk,
    length(text) AS nc,
    length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS np
  FROM d WHERE _rk = 1),
f AS (
  SELECT doc_id, lang, text, tk, len(tk) AS n_tok,
    CASE WHEN len(tk) > 0 THEN CAST({hits} AS DOUBLE) / len(tk) ELSE 0.0 END AS stop_ratio,
    CASE WHEN nc > 0 THEN CAST(np AS DOUBLE) / nc ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(tk) > 0 THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) ELSE 0.0 END AS uniq_ratio
  FROM t),
q AS (
  SELECT doc_id, lang, n_tok,
    round(least(n_tok / 20.0, 1.0) * 0.3
        + least(stop_ratio * 4, 1.0) * 0.2
        + (1.0 - least(punct_ratio * 5, 1.0)) * 0.2
        + uniq_ratio * 0.3, 6) AS quality_score,
    CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
         WHEN (list_sort([{structs}])[-1]).h > 0 THEN (list_sort([{structs}])[-1]).l
         ELSE 'und' END AS lang_pred
  FROM f)
SELECT lang, CAST(count(*) AS BIGINT) AS kept_docs,
  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
  round(avg(quality_score), 6) AS avg_quality
FROM q WHERE quality_score >= 0.65 AND lang_pred <> 'und'
GROUP BY lang ORDER BY lang
"""


def _events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` kept exactly as stored — time predicates on
    the raw column push down to parquet row-group stats, which a
    converted/cast column cannot (the filter would sit on a derived
    expression)."""
    import os as _os

    return spark.read.parquet(_os.path.join(sf_dir, "events.parquet"))


def _raw_ts_bound(events: DataFrame, ts_str: str, *, upper: bool = False):
    """A literal comparable to the raw ``ts`` column, matching the
    stored dtype so the predicate prunes row groups.

    - ``bigint`` (TIMESTAMP(NANOS) read under nanosAsLong): whole-second
      bounds map exactly onto raw-ns bounds by floor-division algebra —
      ts_µs >= K ⟺ ts_ns >= K·1000, ts_µs <= K ⟺ ts_ns <= (K+1)·1000-1,
      hence the +999 on an inclusive upper bound.
    - ``timestamp``/``timestamp_ntz`` (µs data): a plain typed literal.
    """
    dtype = dict(events.dtypes)["ts"]
    if dtype == "bigint":
        ns = _ns(ts_str)
        return F.lit(ns + 999 if upper else ns)
    return F.lit(ts_str).cast(dtype)


# ----------------------------------------------------------------------
# A. Event-log operators on the analytics analog table
# ----------------------------------------------------------------------
def q_r3_load_aggregate(spark, sf_dir):
    """R3/R4: one aggregate's events in storage order."""
    e = _t(spark, sf_dir, "events")
    return (
        e.where(F.col("user_id") == 42)
        .select("event_id", "ts", "event_type", "value")
        .orderBy("ts", "event_id")
    )


def q_r5_load_desc(spark, sf_dir):
    """R5: descending clustering order with a page limit."""
    e = _t(spark, sf_dir, "events")
    return (
        e.where(F.col("user_id") == 42)
        .select("event_id", "ts")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(10)
    )


def q_r6_point_lookup(spark, sf_dir):
    """R6/R7: point lookup by key."""
    e = _t(spark, sf_dir, "events")
    return e.where(F.col("event_id") == 1001).select("event_type", "value", "props")


def q_r9_time_scan(spark, sf_dir):
    """R9: full replay scan with the inclusive time window pushed to
    parquet row groups (the reference applies it client-side after a
    full scan — CassandraEventStore.cs:440)."""
    e = _events_raw(spark, sf_dir)
    lo = _raw_ts_bound(e, "2024-01-01 00:00:00")
    hi = _raw_ts_bound(e, "2024-06-30 00:00:00", upper=True)
    return e.where((F.col("ts") >= lo) & (F.col("ts") <= hi)).select(
        "event_id", "user_id", "event_type"
    )


def q_r10_replay_grouped(spark, sf_dir):
    """R10: replay grouped per aggregate (per-group stream stats)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("user_id")
    )


def q_r11_replay_by_type(spark, sf_dir):
    """R11: index-driven selection by (event type, time range); both
    predicates reach the parquet scan."""
    e = _events_raw(spark, sf_dir)
    return e.where(
        (F.col("event_type") == "click")
        & (F.col("ts") >= _raw_ts_bound(e, "2024-01-01 00:00:00"))
    ).select("event_id", "user_id", "value")


def q_window_commit_order(spark, sf_dir):
    """Commit-ordering analog: per-aggregate ordinal via window."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("long").alias("rn"),
    )


def q_r4_keyset_page(spark, sf_dir):
    """R4: keyset-paged load — page 2 of aggregate 42's stream at
    take=5, resuming after the 5th row (deterministic value-based token
    replacing Cassandra's opaque paging state, PagingInfo.cs:54-92)."""
    e = _t(spark, sf_dir, "events")
    agg = e.where(F.col("user_id") == 42).select("event_id", "ts", "value")
    first_page = agg.orderBy("ts", "event_id").limit(5)
    last = first_page.orderBy(F.col("ts").desc(), F.col("event_id").desc()).limit(1)
    boundary = last.select(
        F.col("ts").alias("_bts"), F.col("event_id").alias("_bid")
    )
    return (
        agg.crossJoin(F.broadcast(boundary))
        .where(
            (F.col("ts") > F.col("_bts"))
            | ((F.col("ts") == F.col("_bts")) & (F.col("event_id") > F.col("_bid")))
        )
        .select("event_id", "ts", "value")
        .orderBy("ts", "event_id")
        .limit(5)
    )


# ----------------------------------------------------------------------
# B. Index operators
# ----------------------------------------------------------------------
def q_x1_index_day_counts(spark, sf_dir):
    """X1/X3: the day-partitioned index layout (pid = y*1000 + doy)."""
    e = _t(spark, sf_dir, "events")
    pid = (F.year("ts") * F.lit(1000) + F.dayofyear("ts")).cast("long")
    return (
        e.groupBy(F.col("event_type"), pid.alias("pid"))
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "pid")
    )


def q_x2_index_day_read(spark, sf_dir):
    """X2: one (event type, day) partition in ts order — the single-
    partition index read (IndexByEventTypeStore.cs:125-136)."""
    e = _t(spark, sf_dir, "events")
    pid = (F.year("ts") * F.lit(1000) + F.dayofyear("ts")).cast("long")
    return (
        e.withColumn("pid", pid)
        .where((F.col("event_type") == "click") & (F.col("pid") == 2024003))
        .select("user_id", "event_id", "ts")
        .orderBy("ts", "event_id")
    )


def q_x5_min_ts(spark, sf_dir):
    """X5: global MIN(ts) — the reference's only server-side aggregate."""
    e = _t(spark, sf_dir, "events")
    return e.agg(F.min("ts").alias("ts"))


# ----------------------------------------------------------------------
# C. Counter operators
# ----------------------------------------------------------------------
def q_c3_counters(spark, sf_dir):
    """X6/C1-C3: counter view = associative count per message type."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.col("event_type").alias("msgid"))
        .agg(F.count("*").alias("cv"))
        .orderBy("msgid")
    )


# ----------------------------------------------------------------------
# D. Message store
# ----------------------------------------------------------------------
def q_m2_message_scan(spark, sf_dir):
    """M2: raw archive scan (payload column)."""
    e = _t(spark, sf_dir, "events")
    return e.select("event_id", "props")


def q_json_props_extract(spark, sf_dir):
    """Payload decode analog (ISerializer seam): JSON field extraction."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


# ----------------------------------------------------------------------
# Join / aggregation / top-k coverage (R11's join strategy at scale)
# ----------------------------------------------------------------------
def q_join_revenue_by_nation(spark, sf_dir):
    """Multi-way equi-join with broadcast dims + grouped aggregation."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("rev"),
        )
        .orderBy("n_name")
    )


def q_supplier_margin(spark, sf_dir):
    """TPC-H Q9-style 5-way join covering the remaining dims (part,
    supplier, region): small-part revenue by supplier nation and region.
    All four dims broadcast; the only shuffle is the final rollup."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("amount"),
        )
        .orderBy("nation", "region")
    )


def q_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 analog: wide multi-aggregate groupBy."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_topk_per_group(spark, sf_dir):
    """Top-3 events by value per event type (window top-k)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        e.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("event_type", "rk", "event_id", F.round("value", 6).alias("value"))
        .orderBy("event_type", "rk")
    )


def q_exists_semi_join(spark, sf_dir):
    """EXISTS / left-semi join — the R11 OnAggregateStreamLoaded
    selection shape: aggregates having at least one matching event."""
    e = _t(spark, sf_dir, "events")
    purchasers = e.where(F.col("event_type") == "purchase").select("user_id")
    return (
        e.join(purchasers.distinct(), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


def q_rollup_orders(spark, sf_dir):
    """Grouping-set coverage: ROLLUP over (status, priority) — absent
    from the reference (SURVEY §2 F), supplied by Spark natively."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def q_regression_trend(spark, sf_dir):
    """Linear-regression aggregates per event type: OLS slope /
    intercept / R² of value against time (scaled to ~O(1) so the
    normal-equation sums stay well-conditioned in doubles)."""
    e = _t(spark, sf_dir, "events")
    x = F.unix_micros("ts") / F.lit(1e12)
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.regr_slope(F.col("value"), x), 6).alias("slope"),
            F.round(F.regr_intercept(F.col("value"), x), 6).alias("icpt"),
            F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
            F.regr_count(F.col("value"), x).alias("n"),
        )
        .orderBy("event_type")
    )


def q_cube_orders(spark, sf_dir):
    """CUBE over (status, priority): all four grouping sets in one
    pass — the full-lattice complement to the ROLLUP query."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def q_window_funcs(spark, sf_dir):
    """Window-function breadth on one pass: lag/lead deltas, ntile
    quartiles, percent_rank and a sliding 3-row average, all over the
    same (user, ts) window — a single shuffle."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = w.rowsBetween(-2, 0)
    return e.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("value") - F.lag("value", 1).over(w), F.lit(0.0))
        .alias("delta_prev"),
        F.coalesce(F.lead("value", 1).over(w) - F.col("value"), F.lit(0.0))
        .alias("delta_next"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.avg("value").over(wr), 6).alias("avg3"),
    )


def q_value_histogram(spark, sf_dir):
    """Equi-width histogram of event values via width_bucket — 20
    buckets over [0, 100); one partial-aggregated pass."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.width_bucket("value", F.lit(0.0), F.lit(100.0), F.lit(20))
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


def q_scalar_funcs(spark, sf_dir):
    """String/date/math scalar-function coverage on one projection."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            F.upper("event_type").alias("et_upper"),
            F.length("event_type").cast("long").alias("et_len"),
            F.substring("event_type", 1, 2).alias("et_pre"),
            F.concat_ws("-", "event_type", F.col("user_id").cast("string")).alias(
                "et_key"
            ),
            F.year("ts").cast("long").alias("y"),
            F.month("ts").cast("long").alias("m"),
            F.dayofmonth("ts").cast("long").alias("d"),
            F.hour("ts").cast("long").alias("h"),
            F.round(F.abs(F.col("value") - 50.0), 6).alias("dev"),
            F.round(F.sqrt(F.abs("value")), 6).alias("rt"),
            F.floor("value").cast("long").alias("fl"),
        )
    )


def q_pivot_status_priority(spark, sf_dir):
    """Pivot (conditional aggregation): order counts by status × priority
    columns — spelled as CASE sums so the same SQL runs in both engines."""
    o = _t(spark, sf_dir, "orders")
    pivoted = o.groupBy("o_orderstatus").agg(
        *[
            F.sum(
                F.when(F.col("o_orderpriority") == p, 1).otherwise(0)
            ).alias(f"p{i + 1}")
            for i, p in enumerate(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )
        ]
    )
    return pivoted.orderBy("o_orderstatus")


def q_approx_stats(spark, sf_dir):
    """Approximate per-event-type profile from the repo's PORTABLE
    sketch family (operators/sketches.py): KMV distinct users, CMS
    row-count estimate, binned-histogram p50/p99 of `value`. This
    replaced approx_count_distinct/percentile_approx (engine-specific
    HLL++/t-digest internals → rows-only forever, r6 verdict missing
    #3): every sketch here is integer-exact or fixed-expression
    arithmetic that replays in SQL, so the row is value-oracled. Scale
    shape: three one-pass partial-agg rollups over the log (k·|types|,
    depth·width, bins·|types| state), joined on the tiny type axis."""
    from inception_eventstore_spark.operators import sketches as SK

    e = _t(spark, sf_dir, "events")
    sk = SK.kmv_sketch(e, "user_id", ["event_type"], k=64)
    kmv = SK.kmv_estimate(sk, ["event_type"], k=64).select(
        "event_type", F.col("kmv_est").alias("approx_users")
    )
    cms = SK.cms_sketch(e, "event_type", depth=4, width=64)
    cms_e = SK.cms_estimate(
        cms, e.select("event_type").distinct(), "event_type",
        depth=4, width=64,
    ).select("event_type", F.col("cms_est").alias("approx_rows"))
    b = e.where(F.col("value").isNotNull()).agg(
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    ).first()
    lo, hi = float(b["lo"]), float(b["hi"])
    hist = SK.binned_histogram(
        e, "value", lo, hi, bins=512, group_cols=["event_type"]
    )
    qs = SK.quantiles_from_histogram(
        hist, lo, hi, 512, [0.5, 0.99], group_cols=["event_type"]
    )
    piv = qs.groupBy("event_type").agg(
        F.round(
            F.max(F.when(F.col("q") == 0.5, F.col("est"))), 6
        ).alias("p50"),
        F.round(
            F.max(F.when(F.col("q") == 0.99, F.col("est"))), 6
        ).alias("p99"),
    )
    return (
        kmv.join(cms_e, "event_type")
        .join(piv, "event_type")
        .orderBy("event_type")
    )


def _approx_stats_oracle() -> str:
    from inception_eventstore_spark.operators.sketches import (
        cms_oracle_sql,
        kmv_oracle_sql,
    )

    kmv = kmv_oracle_sql(
        "SELECT event_type, user_id FROM events",
        "user_id",
        "event_type",
        k=64,
    )
    cms = cms_oracle_sql(
        "SELECT event_type FROM events",
        "event_type",
        "SELECT DISTINCT event_type FROM events",
        "event_type",
        depth=4,
        width=64,
    )
    return f"""
WITH kmv AS (SELECT grp AS event_type, kmv_est AS approx_users
  FROM ({kmv}) WHERE grp <> '__ALL__'),
cms AS (SELECT event_type, cms_est AS approx_rows FROM ({cms})),
st AS (SELECT round(min(value), 6) AS lo, round(max(value), 6) AS hi
  FROM events WHERE value IS NOT NULL),
h AS (SELECT event_type,
    least(greatest(CAST(floor((value - st.lo) / (st.hi - st.lo) * 512.0)
      AS BIGINT), 0), 511) AS bin,
    CAST(count(*) AS BIGINT) AS n
  FROM events, st WHERE value IS NOT NULL GROUP BY 1, 2),
c AS (SELECT event_type, bin, n,
    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bin
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM h),
t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM h GROUP BY 1),
qv AS (SELECT CAST(unnest([0.5, 0.99]) AS DOUBLE) AS q),
tr AS (SELECT event_type, q,
    greatest(1, (CAST(floor(q * total * 1000000) AS BIGINT) + 999999)
      // 1000000) AS target
  FROM t, qv),
sel AS (SELECT tr.event_type, tr.q, tr.target, min(c.bin) AS bin
  FROM tr JOIN c ON c.event_type = tr.event_type AND c.cum >= tr.target
  GROUP BY 1, 2, 3),
fin AS (SELECT s.event_type, s.q,
    round(st.lo + (s.bin + (s.target - (c.cum - c.n))
      / CAST(c.n AS DOUBLE)) * ((st.hi - st.lo) / 512), 6) AS est
  FROM sel s JOIN c ON c.event_type = s.event_type AND c.bin = s.bin, st),
piv AS (SELECT event_type,
    round(max(CASE WHEN q = 0.5 THEN est END), 6) AS p50,
    round(max(CASE WHEN q = 0.99 THEN est END), 6) AS p99
  FROM fin GROUP BY 1)
SELECT kmv.event_type, kmv.approx_users, cms.approx_rows,
  piv.p50, piv.p99
FROM kmv JOIN cms USING (event_type) JOIN piv USING (event_type)
ORDER BY kmv.event_type
"""


def q_week_rollup(spark, sf_dir):
    """Calendar bucketing: weekly event counts via date_trunc (both
    engines truncate to Monday-start weeks)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("week", "ts").alias("week"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .orderBy("week")
    )


def q_null_funcs(spark, sf_dir):
    """NULL-handling scalar coverage: nullif / coalesce / CASE."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            F.coalesce(
                F.nullif(F.col("event_type"), F.lit("click")), F.lit("non-click")
            ).alias("et_or_default"),
            F.when(F.col("value") > 50, F.col("value")).alias("big_value"),
            F.isnull(F.nullif(F.col("event_type"), F.lit("click"))).alias(
                "is_click"
            ),
        )
    )


def q_string_agg(spark, sf_dir):
    """Ordered string aggregation per group (listagg analog):
    array_join(array_sort(collect_set)) == string_agg(DISTINCT ... ORDER BY)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("event_type")), ","
            ).alias("types")
        )
        .orderBy("user_id")
    )


def q_above_own_average(spark, sf_dir):
    """Correlated-subquery shape: events whose value exceeds their own
    user's average (window formulation — one shuffle, no rescan)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    return (
        e.withColumn("user_avg", F.avg("value").over(w))
        .where(F.col("value") > F.col("user_avg"))
        .select("event_id", "user_id", F.round("value", 6).alias("value"))
    )


def q_distinct_users(spark, sf_dir):
    """COUNT(DISTINCT) per type + exact median (distributed sort-based
    percentile) — the aggregation shapes a counter/index store cannot
    express (SURVEY §2 F)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.round(F.median("value"), 6).alias("median_value"),
        )
        .orderBy("event_type")
    )


def q_setop_users(spark, sf_dir):
    """Set operation: heavy purchasers who are not heavy clickers
    (EXCEPT over two grouped selections — non-empty at every sf; the
    signup-minus-purchase variant was vacuously empty because every
    fixture user has every event type)."""
    e = _t(spark, sf_dir, "events")

    def heavy(et):
        return (
            e.where(F.col("event_type") == et)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") >= 14)
            .select("user_id")
        )

    return heavy("purchase").subtract(heavy("click")).orderBy("user_id")


def q_asof_join(spark, sf_dir):
    """As-of join: for each purchase, the user's most recent click at or
    before the purchase time (union+window formulation — one shuffle)."""
    from inception_eventstore_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = asof_join(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts",
        value_cols=["click_id"],
    )
    return joined.select("event_id", "user_id", "ts", "asof_ts", "click_id")


def q_expectations(spark, sf_dir):
    """Declarative data-quality expectations (operators/expectations):
    row-local rules fold into one scan of events; uniqueness and the
    TPC-H referential check (lineitem → orders) run as bounded set
    jobs. The oracle recomputes every rule as an independent count."""
    from inception_eventstore_spark.operators import expectations as X

    e = _t(spark, sf_dir, "events")
    li = _t(spark, sf_dir, "lineitem")
    ords = _t(spark, sf_dir, "orders")
    ev_rules = X.check(e, [
        X.not_null("event_id"),
        X.accepted_values("event_type",
                          ["click", "view", "purchase", "signup"]),
        X.in_range("value", 0, 500),
        X.matches("props", "^\\{.*\\}$"),
        X.unique(["event_id"]),
    ])
    fk = X.check(li, [X.references(["l_orderkey"], ords, ["o_orderkey"])])
    return ev_rules.unionByName(fk).orderBy("rule")


def q_profile_events(spark, sf_dir):
    """One-pass per-column profile of the events table
    (operators/profile.py) — null counts, exact cardinalities, numeric
    ranges (timestamps via epoch micros), string mean lengths; the
    oracle recomputes each column's stats independently."""
    from inception_eventstore_spark.operators.profile import profile_table

    e = _t(spark, sf_dir, "events")
    return profile_table(e).orderBy("col_name")


def _duck_profile_oracle() -> str:
    numeric = {"event_id": "event_id", "user_id": "user_id",
               "value": "value", "ts": "epoch_us(ts)"}
    strings = ("event_type", "props")
    parts = []
    for col in ("event_id", "ts", "user_id", "event_type", "value", "props"):
        num = numeric.get(col)
        num_min = (
            f"round(CAST(min({num}) AS DOUBLE), 6)" if num
            else "CAST(NULL AS DOUBLE)"
        )
        num_max = (
            f"round(CAST(max({num}) AS DOUBLE), 6)" if num
            else "CAST(NULL AS DOUBLE)"
        )
        avg_len = (
            f"round(avg(CAST(length({col}) AS DOUBLE)), 6)"
            if col in strings else "CAST(NULL AS DOUBLE)"
        )
        parts.append(
            f"SELECT '{col}' AS col_name, "
            f"count(*) - count({col}) AS n_nulls, "
            f"CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct, "
            f"{num_min} AS num_min, {num_max} AS num_max, "
            f"{avg_len} AS avg_len FROM events"
        )
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


def q_nearest_join(spark, sf_dir):
    """Bidirectional nearest-event join (operators/joins.py): for each
    purchase, the user's click closest in time in EITHER direction —
    one shuffle via the double-carry union window, vs the oracle's
    brute-force pair ranking."""
    from inception_eventstore_spark.operators.joins import nearest_join

    e = _t(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t")
    )
    # dedupe to one click per (user, µs) — nearest_join requires the
    # right side unique per (key, time), and a same-microsecond click
    # pair would otherwise make both engines' tie pick arbitrary
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", F.unix_micros("ts").alias("ts_us"))
        .agg(F.min("event_id").alias("click_id"))
    )
    joined = nearest_join(
        purchases, clicks, on="user_id", left_time="t",
        right_time="ts_us", value_cols=["click_id"],
    )
    return joined.select("event_id", "user_id", "t", "nearest_ts", "click_id")


def q_session_windows(spark, sf_dir):
    """Session-level rows from the streaming-capable ``session_window``
    operator, run in batch mode over the events table: (user, session
    start, end = last event + gap, event count). The oracle rebuilds
    identical sessions with the lag/running-sum formulation — engine-
    level agreement between Spark's SessionWindow physical operator and
    plain SQL window algebra."""
    from inception_eventstore_spark.streaming.ingest import (
        session_window_stats,
    )

    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    return (
        session_window_stats(
            e, gap="30 minutes", key_col="user_id", time_col="ts",
            filetime=False,
        )
        .select(
            "user_id", "session_start", "session_end",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id", "session_start")
    )


_SESSION_WINDOWS_ORACLE = """
WITH o AS (
  SELECT user_id, ts,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
m AS (
  SELECT user_id, ts,
    CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_s
  FROM o),
s AS (
  SELECT user_id, ts, sum(new_s) OVER (
    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM m)
SELECT user_id, min(ts) AS session_start,
  max(ts) + INTERVAL 30 MINUTE AS session_end,
  CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30 min) rolled up per user."""
    from inception_eventstore_spark.operators.sessions import session_stats

    e = _t(spark, sf_dir, "events")
    return session_stats(e, gap="30 minutes").orderBy("user_id")


_DAY_US = 86_400_000_000


def q_range_join_windows(spark, sf_dir):
    """Range join (bucketized interval join): events aggregated into 10
    half-open daily windows spaced 48 h apart from the global min ts.
    The operator hash-joins on bucket ids instead of the nested-loop
    theta join a plain BETWEEN predicate would produce."""
    from inception_eventstore_spark.operators.joins import range_join

    e = _t(spark, sf_dir, "events").select(
        "event_id", "value", F.unix_micros("ts").alias("p")
    )
    t0 = e.agg(F.min("p").alias("t0")).first()["t0"]
    intervals = spark.range(10).select(
        F.col("id").alias("window_id"),
        (F.lit(t0) + F.col("id") * F.lit(2 * _DAY_US)).alias("lo"),
        (F.lit(t0) + F.col("id") * F.lit(2 * _DAY_US) + F.lit(_DAY_US)).alias("hi"),
    )
    joined = range_join(e, intervals, "p", "lo", "hi",
                        bucket_width=_DAY_US, bounds="[)")
    return (
        joined.groupBy("window_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("window_id")
    )


# ----------------------------------------------------------------------
# Extensions: dedup / text / similarity
# ----------------------------------------------------------------------
def q_dedup_exact(spark, sf_dir):
    """Exact dedup on normalized content, with planted variants.

    The fixtures carry no byte-identical texts, so the query plants
    deterministic case/whitespace variants (every doc_id % 10 == 0 gets
    an UPPER-cased, space-padded copy at doc_id + 100000) and dedups on
    the normalized form — a 0-row "pass" proves nothing (VERDICT r1)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(100000)).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    both = d.unionByName(variants)
    return (
        both.groupBy(D.normalize_text("text").alias("norm_text"))
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("keep_id"),
        )
        .where(F.col("dup_count") > 1)
        .orderBy("norm_text")
    )


def q_text_stats(spark, sf_dir):
    """Text analysis rollup per language."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(F.count("*").alias("docs"), F.sum("n_chars").alias("chars"))
        .orderBy("lang")
    )


def q_token_count(spark, sf_dir):
    """Token counting over documents (whitespace tokens)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", TX.token_count("text").cast("long").alias("n_tokens")
    )


def q_time_bucket_rollup(spark, sf_dir):
    """Hypertable-style continuous-aggregate rollup: 45-minute buckets
    (an interval date_trunc can't express), per event type — pure
    integer epoch math so both engines agree bit-for-bit."""
    from inception_eventstore_spark.functions.timebucket import time_bucket

    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            time_bucket("ts", "45 minutes").alias("bucket"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("bucket", "event_type")
    )


def q_corpus_curation(spark, sf_dir):
    """Composed LLM-corpus curation over the planted-variant corpus:
    dedup → annotate → filter → per-language token-budget rollup
    (operators/pipeline.py). Variants (doc_id + 100000) must all be
    removed by the dedup stage — the oracle keeps the smallest id per
    normalized-content group the same way."""
    from inception_eventstore_spark.functions.spread import spread
    from inception_eventstore_spark.operators.pipeline import (
        curate_corpus,
        curation_summary,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    variants = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(100000)).alias("doc_id"),
        "lang",
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    both = spread(d.unionByName(variants))
    # threshold 0.65 actually bites on this corpus (quality spans
    # 0.59-0.90); rollup by the source-metadata lang column (5 groups —
    # the heuristic lang_pred collapses this English-text fixture to
    # en/und and acts as the 'und' filter instead)
    kept = curate_corpus(both, min_quality=0.65)
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("kept_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        )
        .orderBy("lang")
    )


def _planted_curation_docs(d):
    """Deterministic multi-line variants for the Gopher line/repetition
    metrics: the fixture documents are single-line (no \\n, '#' or
    '...' anywhere — verified on all sfs), so without planting every
    line-level metric is trivially 0 and the oracle would prove nothing
    (the 0-row-match failure mode VERDICT r1 flagged). Each doc gains
    structure keyed off its id: duplicate line (%3), bullet line (%5),
    ellipsis line (%7), '#' symbols (%11), duplicate paragraph (%4)."""
    c = F.col("text")
    nothing = F.lit("")
    text2 = F.concat(
        c,
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("\n"), c)).otherwise(nothing),
        F.when(F.col("doc_id") % 5 == 0, F.lit("\n- bullet point")).otherwise(nothing),
        F.when(F.col("doc_id") % 7 == 0, F.lit("\nto be continued...")).otherwise(nothing),
        F.when(F.col("doc_id") % 11 == 0, F.lit("\npricing # list # here")).otherwise(nothing),
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("\n\n"), c)).otherwise(nothing),
    )
    return d.select("doc_id", text2.alias("text"))


_DUCK_PLANTED_CURATION = """
  SELECT doc_id, text ||
    CASE WHEN doc_id % 3 = 0 THEN chr(10) || text ELSE '' END ||
    CASE WHEN doc_id % 5 = 0 THEN chr(10) || '- bullet point' ELSE '' END ||
    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'to be continued...' ELSE '' END ||
    CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'pricing # list # here' ELSE '' END ||
    CASE WHEN doc_id % 4 = 0 THEN chr(10) || chr(10) || text ELSE '' END AS text
  FROM documents"""


def q_curation_gopher(spark, sf_dir):
    """Gopher/C4 curation metrics + accept/reject flags per document
    (operators/curation.py) over the planted multi-line corpus."""
    from inception_eventstore_spark.operators.curation import (
        gopher_quality_flags,
    )

    d = _planted_curation_docs(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return gopher_quality_flags(d).select(
        "doc_id", "word_count", "mean_word_len", "alpha_word_fraction",
        "symbol_word_ratio", "dup_line_fraction", "dup_paragraph_fraction",
        "bullet_line_fraction", "ellipsis_line_fraction",
        "terminal_punct_line_fraction", "has_curly_brace", "has_lorem_ipsum",
        "n_rules_failed", "passes_gopher",
    ).orderBy("doc_id")


def _curation_gopher_oracle() -> str:
    """Twin of curation.gopher_quality_flags over the same planted
    corpus: metrics in one CTE (rounded 6dp exactly like the Spark
    side), rule flags computed FROM the rounded values so threshold
    comparisons see identical numbers in both engines."""
    lines = (
        "list_filter(list_transform(string_split(text, chr(10)), "
        "x -> trim(x)), x -> x <> '')"
    )
    paras = (
        "list_filter(list_transform(string_split(text, chr(10) || chr(10)), "
        "x -> trim(x)), x -> x <> '')"
    )
    return f"""
WITH synth AS ({_DUCK_PLANTED_CURATION}),
base AS (
  SELECT doc_id, text, {_DUCK_TOKENS} AS tk,
    {lines} AS ln, {paras} AS pg
  FROM synth),
m AS (
  SELECT doc_id,
    CAST(len(tk) AS BIGINT) AS word_count,
    CASE WHEN len(tk) > 0 THEN round(CAST(coalesce(list_sum(
      list_transform(tk, w -> length(w))), 0) AS DOUBLE) / len(tk), 6)
      ELSE 0.0 END AS mean_word_len,
    CASE WHEN len(tk) > 0 THEN round(CAST(len(list_filter(tk,
      w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / len(tk), 6)
      ELSE 0.0 END AS alpha_word_fraction,
    CASE WHEN len(tk) > 0 THEN round(CAST(
      (length(text) - length(replace(text, '#', '')))
      + (len(string_split_regex(text, '\\.\\.\\.|…')) - 1)
      AS DOUBLE) / len(tk), 6) ELSE 0.0 END AS symbol_word_ratio,
    CASE WHEN len(ln) > 0 THEN round(1.0 - CAST(len(list_distinct(ln))
      AS DOUBLE) / len(ln), 6) ELSE 0.0 END AS dup_line_fraction,
    CASE WHEN len(pg) > 0 THEN round(1.0 - CAST(len(list_distinct(pg))
      AS DOUBLE) / len(pg), 6) ELSE 0.0 END AS dup_paragraph_fraction,
    CASE WHEN len(ln) > 0 THEN round(CAST(len(list_filter(ln,
      x -> regexp_matches(x, '^[-*•]'))) AS DOUBLE) / len(ln), 6)
      ELSE 0.0 END AS bullet_line_fraction,
    CASE WHEN len(ln) > 0 THEN round(CAST(len(list_filter(ln,
      x -> regexp_matches(x, '(\\.\\.\\.|…)$'))) AS DOUBLE) / len(ln), 6)
      ELSE 0.0 END AS ellipsis_line_fraction,
    CASE WHEN len(ln) > 0 THEN round(CAST(len(list_filter(ln,
      x -> regexp_matches(x, '[.!?"]$'))) AS DOUBLE) / len(ln), 6)
      ELSE 0.0 END AS terminal_punct_line_fraction,
    CAST(contains(text, '{{') AS BIGINT) AS has_curly_brace,
    CAST(contains(lower(text), 'lorem ipsum') AS BIGINT) AS has_lorem_ipsum
  FROM base),
fl AS (
  SELECT *,
    CAST(word_count BETWEEN 50 AND 100000 AS BIGINT)
      + CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS BIGINT)
      + CAST(symbol_word_ratio <= 0.1 AS BIGINT)
      + CAST(alpha_word_fraction >= 0.8 AS BIGINT)
      + CAST(bullet_line_fraction <= 0.9 AS BIGINT)
      + CAST(ellipsis_line_fraction <= 0.3 AS BIGINT)
      + CAST(dup_line_fraction <= 0.3 AS BIGINT)
      + CAST(dup_paragraph_fraction <= 0.3 AS BIGINT) AS n_passed
  FROM m)
SELECT doc_id, word_count, mean_word_len, alpha_word_fraction,
  symbol_word_ratio, dup_line_fraction, dup_paragraph_fraction,
  bullet_line_fraction, ellipsis_line_fraction,
  terminal_punct_line_fraction, has_curly_brace, has_lorem_ipsum,
  CAST(8 - n_passed AS BIGINT) AS n_rules_failed,
  CAST(n_passed = 8 AS BIGINT) AS passes_gopher
FROM fl ORDER BY doc_id
"""


def q_stratified_sample(spark, sf_dir):
    """Language-rebalancing stratified sample (operators/sampling.py):
    per-lang deterministic hash rates incl. the default-rate path (zh
    is absent from the rate map). Doc-level output — the oracle
    re-derives every kept id from the same md5 arithmetic."""
    from inception_eventstore_spark.operators.sampling import (
        stratified_hash_sample,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = stratified_hash_sample(
        d, {"en": 1.0, "fr": 0.5, "de": 0.25, "es": 0.1},
        default_rate=0.75,
    )
    return out.orderBy("doc_id")


_STRATIFIED_SAMPLE_ORACLE = """
WITH b AS (
  SELECT doc_id, lang,
    CAST(('0x' || substring(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 15))
         AS BIGINT) % 1000000 AS bk
  FROM documents)
SELECT doc_id, lang FROM b
WHERE bk < CASE lang WHEN 'en' THEN 1000000 WHEN 'fr' THEN 500000
                     WHEN 'de' THEN 250000 WHEN 'es' THEN 100000
                     ELSE 750000 END
ORDER BY doc_id
"""


def q_dedup_lines(spark, sf_dir):
    """Corpus-level duplicate-line removal (C4-style span dedup) over a
    planted corpus: every document gains a global boilerplate line and
    a per-group (doc_id % 7) footer. The global line must survive only
    in the smallest doc_id, each footer once per group; per-doc text is
    verified by md5 of the rebuilt document."""
    from inception_eventstore_spark.operators.curation import (
        remove_duplicate_lines,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("subscribe to our newsletter for updates"),
            F.concat(
                F.lit("group footer number "),
                (F.col("doc_id") % 7).cast("string"),
            ),
        ).alias("text"),
    )
    out = remove_duplicate_lines(planted)
    return out.select(
        "doc_id",
        F.md5(F.encode("text", "UTF-8")).alias("text_fp"),
        F.col("n_lines_kept").cast("bigint").alias("n_lines_kept"),
    ).orderBy("doc_id")


_DEDUP_LINES_ORACLE = """
WITH planted AS (
  SELECT doc_id, text || chr(10) || 'subscribe to our newsletter for updates'
    || chr(10) || 'group footer number ' || CAST(doc_id % 7 AS VARCHAR) AS text
  FROM documents),
split_docs AS (
  SELECT doc_id, string_split(text, chr(10)) AS l FROM planted),
lines AS (
  SELECT doc_id,
    unnest(generate_series(1, len(l))) AS pos,
    unnest(l) AS line
  FROM split_docs),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk
  FROM lines),
kept AS (SELECT * FROM ranked WHERE length(line) < 10 OR rk = 1),
rebuilt AS (
  SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS text,
    CAST(count(*) AS BIGINT) AS n_lines_kept
  FROM kept GROUP BY doc_id)
SELECT p.doc_id, md5(coalesce(r.text, '')) AS text_fp,
  CAST(coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_lines_kept
FROM planted p LEFT JOIN rebuilt r USING (doc_id)
ORDER BY doc_id
"""


def q_dedup_bloom(spark, sf_dir):
    """Bloom-membership dedup (operators/bloom.py): even-id documents
    form the corpus; the incoming batch is the odd-id documents plus
    planted case/whitespace variants of corpus docs (doc_id + 100000).
    Exactness contract: output = exact anti-join on normalized
    content, so every planted variant must be dropped and every odd
    doc kept — the bloom prefilter only changes the join input size."""
    from inception_eventstore_spark.operators.bloom import (
        bloom_membership_dedup,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.where(F.col("doc_id") % 2 == 0)
    variants = corpus.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(100000)).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    incoming = d.where(F.col("doc_id") % 2 == 1).unionByName(variants)
    return (
        bloom_membership_dedup(incoming, corpus)
        .select("doc_id")
        .orderBy("doc_id")
    )


_DEDUP_BLOOM_ORACLE = """
WITH norm_c AS (
  SELECT DISTINCT trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS nt
  FROM documents WHERE doc_id % 2 = 0),
incoming AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, upper(text) || '  ' AS text
  FROM documents WHERE doc_id % 20 = 0)
SELECT i.doc_id FROM incoming i
WHERE trim(regexp_replace(lower(i.text), '[ \t\n\x0b\f\r]+', ' ', 'g'))
      NOT IN (SELECT nt FROM norm_c)
ORDER BY doc_id
"""


def q_pii_redaction(spark, sf_dir):
    """PII scrub (operators/pii.py) over deterministically planted
    identifiers (the fixtures carry none): per-kind counts + an md5
    digest of the redacted text, so the oracle verifies both detection
    and the exact replacement output."""
    from inception_eventstore_spark.operators.pii import redact_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    nothing = F.lit("")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 3 == 0, F.concat(
                F.lit(" contact user"), did.cast("string"),
                F.lit("@example.com soon"))).otherwise(nothing),
            F.when(did % 5 == 0, F.concat(
                F.lit(" see https://example.org/page/"), did.cast("string"),
                F.lit(" today"))).otherwise(nothing),
            F.when(did % 7 == 0, F.concat(
                F.lit(" host 10.0."), (did % 250).cast("string"),
                F.lit(".7 up"))).otherwise(nothing),
            F.when(did % 11 == 0,
                   F.lit(" call +1 (555) 123-4567 now")).otherwise(nothing),
        ).alias("text"),
    )
    return (
        redact_documents(planted)
        .select(
            "doc_id", "n_email", "n_url", "n_ipv4", "n_phone",
            F.md5(F.encode("redacted", "UTF-8")).alias("redacted_fp"),
        )
        .orderBy("doc_id")
    )


def _pii_redaction_oracle() -> str:
    """Twin generated from the SAME PII_PATTERNS tuple the operator
    applies — counts via regexp_extract_all, redaction via chained
    regexp_replace(..., 'g') in the canonical order."""
    from inception_eventstore_spark.operators.pii import PII_PATTERNS

    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{kind}"
        for kind, pat, _ in PII_PATTERNS
    )
    red = "text"
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
WITH planted AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com soon' ELSE '' END ||
    CASE WHEN doc_id % 5 = 0 THEN ' see https://example.org/page/'
         || CAST(doc_id AS VARCHAR) || ' today' ELSE '' END ||
    CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.' || CAST(doc_id % 250 AS VARCHAR)
         || '.7 up' ELSE '' END ||
    CASE WHEN doc_id % 11 = 0 THEN ' call +1 (555) 123-4567 now' ELSE '' END
    AS text
  FROM documents)
SELECT doc_id, {counts}, md5({red}) AS redacted_fp
FROM planted ORDER BY doc_id
"""


def q_curation_top_bigram(spark, sf_dir):
    """Gopher repetition metric: per-document fraction of bigram
    occurrences taken by the most frequent bigram (explode → count →
    max/sum; linear, no per-doc quadratic array self-count)."""
    from inception_eventstore_spark.operators.curation import (
        top_ngram_fraction,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return top_ngram_fraction(d, n=2).orderBy("doc_id")


def _curation_top_bigram_oracle() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
grams AS (
  SELECT doc_id, unnest([array_to_string(list_slice(tk, i, i + 1), ' ')
                         for i in generate_series(1, len(tk) - 1)]) AS g
  FROM toks WHERE len(tk) >= 2),
counts AS (SELECT doc_id, g, count(*) AS n FROM grams GROUP BY doc_id, g)
SELECT doc_id, round(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
  AS top_ngram_frac
FROM counts GROUP BY doc_id ORDER BY doc_id
"""


def q_token_count_bpe(spark, sf_dir):
    """BPE-ish subword count (regex word pieces, long words as
    ceil(len/4) units) — the ~chars-per-token heuristic used to budget
    LLM training data."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
    )


def q_sim_topk_l2(spark, sf_dir):
    """Exact top-10 nearest embeddings (L2) to the vec_id=0 vector.

    The cutoff is taken on the ROUNDED distance (ties broken by vec_id)
    so the selected set matches the oracle bit-for-bit even when two
    raw distances straddle a rounding boundary at rank 10."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    q = F.array(*[F.lit(float(x)) for x in qvec])
    return (
        emb.where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(S.l2_distance(F.col("embedding"), q), 6).alias("dist"),
        )
        .orderBy("dist", "vec_id")
        .limit(10)
    )


# ----------------------------------------------------------------------
# Non-SQL-expressible extensions (rows-only checks; verified in tests/)
# ----------------------------------------------------------------------
def q_dedup_minhash(spark, sf_dir):
    """MinHash-LSH near-dup pairs, oracle-paired against the EXACT
    word-3-gram Jaccard ground truth (the same SQL as
    dedup_ngram_jaccard): the banding hash family is seeded, so the
    candidate set is deterministic, and on the gate fixtures banding
    recall is 100% — the verify stage computes the same exact Jaccard
    over the same shingle sets, so a hash-match certifies both the
    S-curve recall and the verification math. A banding regression that
    drops a true pair fails the gate loudly instead of hiding in a
    rows-only count."""
    d = _t(spark, sf_dir, "documents")
    return (
        D.minhash_lsh_pairs(d, threshold=0.8)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs over the portable md5 bit-source, so the
    pair set hash-matches a DuckDB all-pairs oracle (with max_hamming 3
    < n_blocks 4 the block bucketing is lossless — the result IS the
    exact hamming ball). The xxhash64 source stays the operator default
    for ingest pipelines; measured at sf0.1 the two are within noise
    of each other (the signature aggregation dominates)."""
    d = _t(spark, sf_dir, "documents")
    return (
        D.simhash_near_duplicates(d, max_hamming=3, hash_source="md5")
        .select(
            "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
        )
        .orderBy("id_a", "id_b")
    )


def _duck_lm_bigram_oracle() -> str:
    """Twin of bigram_lm_score self-scoring: same bigram/left-token
    counts, same vocabulary size, same add-one ln-probability."""
    return f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
pairs AS (
  SELECT doc_id, g['a'] AS a, g['b'] AS b FROM (
    SELECT doc_id,
      unnest([struct_pack(a := tk[i], b := tk[i+1])
              for i in generate_series(1, len(tk)-1)]) AS g
    FROM toks WHERE len(tk) >= 2)),
c2 AS (SELECT a, b, count(*) AS c2 FROM pairs GROUP BY a, b),
c1 AS (SELECT a, sum(c2) AS c1 FROM c2 GROUP BY a),
v AS (SELECT count(DISTINCT t) AS vocab FROM (
  SELECT unnest({_DUCK_TOKENS}) AS t FROM documents)),
s AS (
  SELECT p.doc_id,
    ln((c2.c2 + 1) / (CAST(c1.c1 AS DOUBLE) + v.vocab)) AS lp
  FROM pairs p JOIN c2 USING (a, b) JOIN c1 USING (a) CROSS JOIN v)
SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS lm_score
FROM s GROUP BY doc_id ORDER BY doc_id
"""


def _duck_survivors_oracle() -> str:
    """Twin of dedup_survivors: the _cc_clusters_oracle closure over
    the same exact-Jaccard pairs, winners by (n_chars desc, doc_id)."""
    return f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
sets AS (
  SELECT doc_id,
    list_distinct([array_to_string(list_slice(tk, i, least(i+2, len(tk))), ' ')
                   for i in generate_series(1, greatest(len(tk)-2, 1))]) AS grams
  FROM toks WHERE len(tk) > 0),
pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / (CAST(len(a.grams) + len(b.grams) AS DOUBLE)
         - CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)) >= 0.8),
und AS (
  SELECT id_a AS u, id_b AS v FROM pr
  UNION SELECT id_b AS u, id_a AS v FROM pr),
reach AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, n.v FROM reach r JOIN und n ON r.v = n.u WHERE n.v <> r.u),
comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS component
  FROM reach GROUP BY u),
ranked AS (
  SELECT d.doc_id, d.lang, d.n_chars,
    row_number() OVER (PARTITION BY c.component
                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM documents d JOIN comp c USING (doc_id))
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM comp)
UNION ALL
SELECT doc_id, lang, n_chars FROM ranked WHERE rn = 1
ORDER BY doc_id
"""


def _duck_mixture_oracle() -> str:
    """Twin of temperature_mixture(lang, alpha=0.5): same share^alpha
    weights, same min(1, quota/size) fractions, same md5 bucket test
    as operators/sampling.py."""
    return """
WITH n AS (SELECT lang, count(*) AS nd FROM documents GROUP BY lang),
t AS (SELECT sum(nd) AS total FROM n),
w AS (SELECT lang, nd, total, pow(CAST(nd AS DOUBLE) / total, 0.5) AS wd
      FROM n CROSS JOIN t),
ws AS (SELECT sum(wd) AS wsum FROM w),
f AS (SELECT lang, least(1.0, (wd / wsum) * total / nd) AS frac
      FROM w CROSS JOIN ws)
SELECT d.doc_id, d.lang FROM documents d JOIN f USING (lang)
WHERE CAST(concat('0x', substr(md5('v1:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
           AS BIGINT) % 1000000
      < CAST(round(frac * 1000000) AS BIGINT)
ORDER BY d.doc_id
"""


def _duck_simhash_oracle() -> str:
    """DuckDB twin of q_dedup_simhash: same md5 60-bit token hash, same
    majority-bit fingerprint, exact all-pairs hamming ≤ 3 (feasible at
    the sf0.01 gate scale; the Spark side buckets instead of
    cross-joining but returns the identical pair set)."""
    sums = ", ".join(f"sum((h >> {b}) & 1) AS s{b}" for b in range(60))
    sig = " + ".join(
        f"(CASE WHEN 2 * s{b} > n THEN {1 << b} ELSE 0 END)"
        for b in range(60)
    )
    return (
        f"WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS t "
        "FROM documents), "
        "h AS (SELECT doc_id, "
        "CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM toks), "
        f"bits AS (SELECT doc_id, count(*) AS n, {sums} "
        "FROM h GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, {sig} AS sh FROM bits) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming "
        "FROM sig a JOIN sig b ON a.doc_id < b.doc_id "
        "WHERE bit_count(xor(a.sh, b.sh)) <= 3 ORDER BY id_a, id_b"
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard join — deterministic, so oracle-paired: the
    DuckDB twin computes the same word-3-gram sets as strings (the Spark
    side works on hashed shingles; intersection cardinalities agree
    modulo xxhash64 collisions, which the gate would surface)."""
    d = _t(spark, sf_dir, "documents")
    return (
        D.ngram_jaccard_pairs(d, n=3, threshold=0.8)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def q_corpus_split(spark, sf_dir):
    """Deterministic train/val/test assignment (portable md5 bucket
    thresholds — operators/sampling.py) rolled up to per-split document
    and token counts. The same arithmetic runs verbatim in DuckDB, so
    the 80/10/10 assignment is verified document-for-document via the
    aggregate hashes."""
    from inception_eventstore_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    s = hash_split(d, id_col="doc_id", seed="v1")
    return (
        s.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(TX.token_count("text")).cast("bigint").alias("total_tokens"),
        )
        .orderBy("split")
    )


def q_dedup_cc_clusters(spark, sf_dir):
    """Cluster-level dedup: connected components over the exact n-gram
    Jaccard pair graph (alternating large-star/small-star), labeling
    every clustered document with its component's smallest doc_id —
    the closure a pair list alone cannot express (A~B, B~C ⇒ one
    survivor among {A,B,C})."""
    from inception_eventstore_spark.operators.components import (
        connected_components,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, n=3, threshold=0.8)
    comp = connected_components(pairs)
    return comp.select(F.col("node").alias("doc_id"), "component")


def q_event_transitions(spark, sf_dir):
    """Per-user event-type transition matrix (Markov counts): lag
    window per user in commit order, then one partial-agg count — the
    path-analysis projection over the replay surface."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("next"),
    )
    return (
        t.where(F.col("prev").isNotNull())
        .groupBy("prev", "next")
        .agg(F.count("*").alias("n"))
        .orderBy("prev", "next")
    )


def q_embedding_covariance(spark, sf_dir):
    """Upper-triangle sample covariance of the embedding table via the
    one-pass Gram accumulation (operators/pca.py) — the moment math is
    verified entry-for-entry against DuckDB's covar_samp over exploded
    coordinate pairs."""
    from inception_eventstore_spark.operators.pca import (
        embedding_covariance,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_covariance(emb).orderBy("i", "j")


def q_pca_project(spark, sf_dir):
    """Per-vector coordinates against PINNED unit directions (the
    embeddings of vec_id 1..8, normalized) — the ivf_pinned pattern
    that flipped this row from rows-only to value-oracled: the basis
    is a float64 function of table rows, so the oracle replays basis
    construction AND the distributed projection matmul (the same Arrow
    kernel eigen-PCA uses; eigen-PCA itself has no SQL twin and stays
    numpy-pinned in tests/test_pca.py, its covariance input
    value-oracled by embedding_covariance). Normalize-only, NOT
    Gram-Schmidt: GS amplifies engine summation-order jitter to
    ~1e-11 per basis entry, which flips 6-dp boundaries (see
    pinned_basis_project). Output exploded to (vec_id, pc, coord) —
    plain DOUBLE survives the gate's canonicalizer where float arrays
    don't."""
    from inception_eventstore_spark.operators.pca import (
        pinned_basis_project,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = pinned_basis_project(emb, k=8, orthogonalize=False)
    return out.select(
        "vec_id",
        F.posexplode("coords").alias("_p", "_c"),
    ).select(
        "vec_id",
        (F.col("_p") + 1).cast("bigint").alias("pc"),
        (F.round("_c", 6) + F.lit(0.0)).alias("coord"),
    ).orderBy("vec_id", "pc")


def _pca_pinned_oracle(k: int = 8) -> str:
    """Relational replay of pinned_basis_project(orthogonalize=False):
    unit directions u_r = v_r/‖v_r‖ from the embeddings of vec_id
    1..k, then one join-aggregate projection. Division and sqrt are
    IEEE-identical across engines; the one remaining cross-engine
    freedom is product-sum order (ulp-level), which 6-dp rounding
    absorbs with ~1e-9 boundary risk. Gram-Schmidt was rejected here:
    its cancellation amplifies sum-order jitter to ~1e-11 per basis
    entry and measurably flips 6-dp boundaries."""
    parts = [
        "WITH c AS MATERIALIZED (SELECT vec_id,"
        " generate_subscripts(embedding, 1) AS d,"
        " unnest(embedding) AS x FROM embeddings)",
    ]
    for r in range(1, k + 1):
        parts.append(
            f"u{r} AS MATERIALIZED (SELECT d,"
            f" x / sqrt((SELECT sum(x*x) FROM c WHERE vec_id = {r}))"
            f" AS u FROM c WHERE vec_id = {r})"
        )
    basis_union = " UNION ALL ".join(
        f"SELECT {r} AS pc, d, u FROM u{r}" for r in range(1, k + 1)
    )
    parts.append(f"basis AS MATERIALIZED ({basis_union})")
    return (
        ",\n".join(parts)
        + """
SELECT c.vec_id, CAST(basis.pc AS BIGINT) AS pc,
  round(sum(c.x * basis.u), 6) + 0.0 AS coord
FROM c JOIN basis USING (d)
GROUP BY c.vec_id, basis.pc
ORDER BY c.vec_id, basis.pc
"""
    )


def q_funnel_conversion(spark, sf_dir):
    """Ordered 3-step funnel (signup → click → purchase) over the event
    log — the projection shape the reference's replay callbacks exist
    to feed, as engine-native chained min-ts joins
    (operators/funnel.py)."""
    from inception_eventstore_spark.operators.funnel import funnel_steps

    e = _t(spark, sf_dir, "events")
    return funnel_steps(e, ["signup", "click", "purchase"]).orderBy(
        "step_idx"
    )


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort × week-offset retention matrix (distinct active
    users), one groupBy + one join + one distinct-count — no window."""
    from inception_eventstore_spark.operators.funnel import cohort_retention

    e = _t(spark, sf_dir, "events")
    return cohort_retention(e).orderBy("cohort_week", "week_offset")


def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentile bands per event type (built-in
    ``percentile`` — sort-based exact, not the sketch)."""
    e = _t(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.5, 0.9, 0.99))")
    return (
        e.groupBy("event_type")
        .agg(pct.alias("_p"))
        .select(
            "event_type",
            F.round(F.col("_p")[0], 6).alias("p50"),
            F.round(F.col("_p")[1], 6).alias("p90"),
            F.round(F.col("_p")[2], 6).alias("p99"),
        )
        .orderBy("event_type")
    )


def q_chunk_docs(spark, sf_dir):
    """Context-window chunking (operators/chunking.py): 200-char
    windows with 50-char overlap — narrow explode, no shuffle; the
    oracle replays the identical integer chunk arithmetic."""
    from inception_eventstore_spark.operators.chunking import chunk_text

    d = _t(spark, sf_dir, "documents")
    # no ORDER BY: the gate hash is order-insensitive and a global sort
    # of every chunk would be a decorative range shuffle
    return chunk_text(d, chunk_chars=200, overlap_chars=50)


def q_vocab_top100(spark, sf_dir):
    """Corpus vocabulary head: top-100 tokens by term frequency with
    document frequency (TakeOrdered, no full sort)."""
    from inception_eventstore_spark.operators.text import vocabulary

    d = _t(spark, sf_dir, "documents")
    return vocabulary(d, k=100)


def q_lm_bigram_score(spark, sf_dir):
    """Add-one bigram LM self-scoring (operators/lm.py): mean ln
    P(w_i | w_{i-1}) per document under counts from the corpus itself —
    the CCNet-style LM-fluency curation signal, as pure DataFrame
    algebra."""
    from inception_eventstore_spark.functions.spread import spread
    from inception_eventstore_spark.operators.lm import bigram_lm_score

    d = spread(_t(spark, sf_dir, "documents"))
    return bigram_lm_score(d)


def q_dedup_survivors(spark, sf_dir):
    """Quality-aware survivor selection after near-dup clustering:
    highest n_chars per component wins (ties → smallest id), untouched
    docs pass through. The oracle closes the same exact-Jaccard pair
    graph with a recursive CTE and picks winners with a window."""
    from inception_eventstore_spark.operators.components import (
        dedup_survivors,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, n=3, threshold=0.8)
    return dedup_survivors(d, pairs, quality_col="n_chars").select(
        "doc_id", "lang", "n_chars"
    )


def q_mixture_temperature(spark, sf_dir):
    """Temperature-flattened language mixture (alpha = 0.5): rare
    languages keep everything, the dominant one is down-sampled to its
    flattened share — the exact selected id set is verified (the
    oracle replays the weight arithmetic and the md5 bucket test)."""
    from inception_eventstore_spark.operators.sampling import (
        temperature_mixture,
    )

    d = _t(spark, sf_dir, "documents")
    return temperature_mixture(d, domain_col="lang", alpha=0.5).select(
        "doc_id", "lang"
    )


def q_sim_multi_topk(spark, sf_dir):
    """Batch exact top-5 for 5 query vectors in ONE corpus scan
    (similarity.multi_query_topk): per-Arrow-batch numpy distance
    matrix + local top-k, tiny window reduce. Both engines compute the
    identical expanded form ||x||² − 2x·q + ||q||², so distances agree
    to well below the 6dp rounding."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = (
        emb.where(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    )
    queries = [
        (r["vec_id"], [float(x) for x in r["embedding"]]) for r in qrows
    ]
    corpus = emb.where(F.col("vec_id") >= 5)
    res = S.multi_query_topk(corpus, queries, k=5)
    return res.select(
        "query_id", "rank", "vec_id", F.round("dist", 6).alias("dist")
    )


def q_sim_topk_lsh(spark, sf_dir):
    """LSH-bucketed approximate top-10: the hyperplane family is
    seed-deterministic, so the oracle embeds the SAME ±1 plane vectors
    as literals, recomputes every signature and the query's
    hamming-≤2 probe ball in SQL, and replays the exact in-bucket
    re-rank — the full approximate RESULT is value-checked, not just
    recall."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    res = S.lsh_topk(emb.where(F.col("vec_id") != 0), list(qvec), k=10, n_planes=6)
    return res.select("vec_id", F.round("dist", 6).alias("dist")).orderBy(
        "dist", "vec_id"
    )


def _sim_topk_lsh_oracle(n_planes: int = 6, dim: int = 64, seed: int = 7,
                         radius: int = 2) -> str:
    """Replays lsh_topk in SQL: signature bit p = [v . r_p > 0] with
    the literal plane vectors, probe = hamming ball via
    bit_count(xor(sig, qsig)) <= radius, exact fold-L2 re-rank inside
    the probed buckets (raw-distance cutoff, like the operator)."""
    from inception_eventstore_spark.operators.similarity import _plane_signs

    signs = _plane_signs(n_planes, dim, seed)

    def sig_expr(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_inner_product({col}, "
            f"[{', '.join(repr(float(s)) for s in signs[p])}]) > 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )

    return f"""
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
qv AS (SELECT ev AS q, {sig_expr('ev')} AS qsig FROM v WHERE vec_id = 0),
s AS (SELECT vec_id, ev, {sig_expr('ev')} AS sig FROM v WHERE vec_id <> 0),
cand AS (SELECT s.vec_id, s.ev, qv.q FROM s CROSS JOIN qv
  WHERE bit_count(xor(CAST(s.sig AS BIGINT), CAST(qv.qsig AS BIGINT)))
        <= {radius})
SELECT vec_id, round(dist, 6) AS dist FROM (
  SELECT vec_id,
    sqrt(list_reduce(list_prepend(0.0,
      list_transform(range(1, len(ev) + 1),
        i -> (ev[i] - q[i]) * (ev[i] - q[i]))),
      (acc, x) -> acc + x)) AS dist
  FROM cand ORDER BY dist, vec_id LIMIT 10)
ORDER BY dist, vec_id
"""


# Persisted-ANN-index cache: one build per (kind, sf_dir) per process.
# An IVF/IVF-PQ index is ingest-time state — the operator a user pays
# for at query time is the PROBE (a partition-pruned scan), not k-means
# training + full encode + write. The declared queries build lazily on
# first use; bench.py calls prebuild_ann_indexes() up front and reports
# build seconds separately from probe latency (VERDICT r2 "wrong" #2).
_ANN_INDEX_DIRS: dict[tuple[str, str], str] = {}


def prebuild_ann_indexes(spark, sf_dir,
                         kinds: tuple = ("ivf", "ivfpq")) -> dict[str, float]:
    """Build + persist the ANN indexes for ``sf_dir`` (idempotent per
    process). Returns {kind: build_seconds} for the builds performed."""
    import tempfile
    import time as _time

    from inception_eventstore_spark.operators.ann_index import IvfVectorIndex
    from inception_eventstore_spark.operators.pq import IvfPqVectorIndex

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    timings: dict[str, float] = {}
    for kind in kinds:
        key = (kind, sf_dir)
        if key in _ANN_INDEX_DIRS:
            continue
        path = tempfile.mkdtemp(prefix=f"ann_{kind}_")
        t0 = _time.time()
        if kind == "ivf":
            IvfVectorIndex.build(emb, path, n_cells=8)
        elif kind == "ivf_pinned":
            # pre-trained coarse quantizer: the embeddings of
            # vec_id 1..16 (collected driver-side, 16 rows) — makes
            # the whole probe value-oracle-able because the oracle can
            # name the same centroids as table rows instead of
            # replaying k-means
            cents = [
                [float(x) for x in r["embedding"]]
                for r in emb.where(F.col("vec_id").between(1, 16))
                .orderBy("vec_id")
                .collect()
            ]
            IvfVectorIndex.build(emb, path, centroids=cents)
        elif kind == "ivfpq":
            IvfPqVectorIndex.build(
                emb, path, n_cells=8, m_subspaces=8, n_codes=64
            )
        elif kind == "ivfpq_pinned":
            # fully pinned IVF-PQ quantizer, the r5 ivf_pinned pattern
            # taken one level deeper: coarse centroids = embeddings of
            # vec_id 1..16; PQ codebook entry (s, j) = subspace s of
            # the RESIDUAL of vec_id 17+j w.r.t. its assigned pinned
            # cell (m=4 subspaces × 16 codes). Every number the probe
            # touches is derivable from table rows by exact float64
            # arithmetic, so assignment, encode, the ADC scan and the
            # re-rank all replay in the DuckDB oracle — the driver row
            # flips from rows-only to a full value oracle. K-means-
            # trained cells/codebooks stay covered by the "ivfpq" kind
            # (tests/test_pq.py recall pins).
            import numpy as _np

            rows = (
                emb.where(F.col("vec_id").between(1, 32))
                .orderBy("vec_id")
                .collect()
            )
            V = _np.array(
                [[float(x) for x in r["embedding"]] for r in rows],
                dtype=_np.float64,
            )
            C, S_ = V[:16], V[16:]
            d2 = ((S_[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            R = S_ - C[d2.argmin(axis=1)]
            dsub = C.shape[1] // 4
            books = _np.stack(
                [R[:, s * dsub:(s + 1) * dsub] for s in range(4)]
            )
            IvfPqVectorIndex.build(
                emb, path,
                centroids=[list(map(float, c)) for c in C],
                codebooks=[[list(map(float, e)) for e in b] for b in books],
            )
        else:
            raise ValueError(f"unknown ANN index kind {kind!r}")
        timings[kind] = round(_time.time() - t0, 3)
        _ANN_INDEX_DIRS[key] = path
    return timings


def q_sim_topk_ivf(spark, sf_dir):
    """IVF approximate top-10 — probe of a persisted
    ``_cell``-partitioned index (built once per process, see
    prebuild_ann_indexes) whose coarse quantizer is PINNED to the
    embeddings of vec_id 1..16 rather than k-means-trained: with the
    quantizer named as table rows, cell assignment, the 3-cell probe
    selection AND the in-cell exact re-rank are all replayed by the
    DuckDB oracle, so the full approximate RESULT is value-checked —
    not just its recall (the k-means-trained variant stays covered by
    tests/test_dedup_similarity.py recall pins and the ivfpq probe).
    The probe scans only the n_probe nearest cell directories; the
    cutoff is taken on the ROUNDED distance like sim_topk_l2."""
    from inception_eventstore_spark.operators.ann_index import IvfVectorIndex

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    prebuild_ann_indexes(spark, sf_dir, kinds=("ivf_pinned",))
    idx = IvfVectorIndex.load(spark, _ANN_INDEX_DIRS[("ivf_pinned", sf_dir)])
    q = F.array(*[F.lit(float(x)) for x in qvec])
    cand = idx.candidates(list(qvec), n_probe=3)
    return (
        cand.select(
            "vec_id",
            F.round(S.l2_distance(F.col("embedding"), q), 6).alias("dist"),
        )
        .orderBy("dist", "vec_id")
        .limit(10)
    )


# The oracle replays the pinned-quantizer IVF probe end-to-end: fold
# distances in index order (list_reduce from 0.0 = the JVM F.aggregate
# fold), assignment tie-break (dist, cell), driver probe ranking
# (dist-to-centroid, cell), rounded-distance cutoff.
_SIM_TOPK_IVF_ORACLE = """
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
qv AS (SELECT ev AS q FROM v WHERE vec_id = 0),
c AS (SELECT vec_id - 1 AS cell, ev AS cv FROM v
  WHERE vec_id BETWEEN 1 AND 16),
d AS (SELECT v.vec_id, c.cell,
    sqrt(list_reduce(list_prepend(0.0,
      list_transform(range(1, len(v.ev) + 1),
        i -> (v.ev[i] - c.cv[i]) * (v.ev[i] - c.cv[i]))),
      (acc, x) -> acc + x)) AS dc
  FROM v CROSS JOIN c WHERE v.vec_id <> 0),
a AS (SELECT vec_id, cell FROM (
  SELECT vec_id, cell, row_number() OVER (
    PARTITION BY vec_id ORDER BY dc, cell) AS rn FROM d) WHERE rn = 1),
pc AS (SELECT cell FROM (
  SELECT c.cell,
    sqrt(list_reduce(list_prepend(0.0,
      list_transform(range(1, len(c.cv) + 1),
        i -> (c.cv[i] - qv.q[i]) * (c.cv[i] - qv.q[i]))),
      (acc, x) -> acc + x)) AS dq
  FROM c CROSS JOIN qv ORDER BY dq, cell LIMIT 3))
SELECT vec_id, dist FROM (
  SELECT v.vec_id,
    round(sqrt(list_reduce(list_prepend(0.0,
      list_transform(range(1, len(v.ev) + 1),
        i -> (v.ev[i] - qv.q[i]) * (v.ev[i] - qv.q[i]))),
      (acc, x) -> acc + x)), 6) AS dist
  FROM v JOIN a USING (vec_id) CROSS JOIN qv
  WHERE a.cell IN (SELECT cell FROM pc)
  ORDER BY dist, vec_id LIMIT 10)
ORDER BY dist, vec_id
"""


def q_sim_topk_ivfpq(spark, sf_dir):
    """IVF-PQ approximate top-10 (operators/pq.py): 32×-class
    compressed codes scanned via ADC lookup tables, exact re-rank of
    the best 40 candidates — probing the PINNED-quantizer index
    (prebuild "ivfpq_pinned": centroids = vec 1..16, codebook entry
    (s, j) = subspace s of vec 17+j's residual), so the ENTIRE probe
    — assignment, encode, LUT build, ADC candidate cut, exact re-rank
    — replays in the DuckDB oracle as float64 arithmetic over table
    rows and the result is value-checked, not rows-only. The
    k-means-trained variant stays covered by tests/test_pq.py recall
    pins."""
    from inception_eventstore_spark.operators.pq import IvfPqVectorIndex

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    prebuild_ann_indexes(spark, sf_dir, kinds=("ivfpq_pinned",))
    idx = IvfPqVectorIndex.load(
        spark, _ANN_INDEX_DIRS[("ivfpq_pinned", sf_dir)]
    )
    res = idx.topk(list(qvec), k=10, n_probe=3, rerank=4)
    return res.select("vec_id", F.round("dist", 6).alias("dist")).orderBy(
        "dist", "vec_id"
    )


# Replays the pinned IVF-PQ probe end-to-end in SQL: assignment and
# probe selection exactly like _SIM_TOPK_IVF_ORACLE; codebook entries
# as residual sub-vector slices of vec 17..32; encode = per-(vector,
# subspace) argmin over the 16 entries; ADC = per-(probe-cell, s, j)
# LUT joined back by code. Every adist is a list_reduce fold in fixed
# s order, and LUT values are computed ONCE per (cell, s, j) — so
# identical code tuples tie EXACTLY within each engine and the
# (adist, vec_id) candidate cut is deterministic on both sides.
_SIM_TOPK_IVFPQ_ORACLE = """
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
qv AS (SELECT ev AS q FROM v WHERE vec_id = 0),
c AS (SELECT vec_id - 1 AS cell, ev AS cv FROM v
  WHERE vec_id BETWEEN 1 AND 16),
d AS (SELECT v.vec_id, c.cell, c.cv,
    list_reduce(list_prepend(0.0,
      list_transform(range(1, len(v.ev) + 1),
        i -> (v.ev[i] - c.cv[i]) * (v.ev[i] - c.cv[i]))),
      (acc, x) -> acc + x) AS dc
  FROM v CROSS JOIN c WHERE v.vec_id <> 0),
a AS (SELECT vec_id, cell, cv FROM (
  SELECT vec_id, cell, cv, row_number() OVER (
    PARTITION BY vec_id ORDER BY dc, cell) AS rn FROM d) WHERE rn = 1),
r AS (SELECT v.vec_id, a.cell,
    list_transform(range(1, len(v.ev) + 1), i -> v.ev[i] - a.cv[i]) AS rv
  FROM v JOIN a USING (vec_id)),
cb AS (SELECT sp.s, r.vec_id - 17 AS j,
    list_transform(range(1, 17), i -> r.rv[sp.s * 16 + i]) AS e
  FROM r CROSS JOIN (SELECT unnest(range(0, 4)) AS s) sp
  WHERE r.vec_id BETWEEN 17 AND 32),
pc AS (SELECT cell, cv FROM (
  SELECT c.cell, c.cv,
    list_reduce(list_prepend(0.0,
      list_transform(range(1, len(c.cv) + 1),
        i -> (c.cv[i] - qv.q[i]) * (c.cv[i] - qv.q[i]))),
      (acc, x) -> acc + x) AS dq
  FROM c CROSS JOIN qv ORDER BY dq, cell LIMIT 3)),
pr AS (SELECT r.vec_id, r.cell, r.rv FROM r
  JOIN pc ON r.cell = pc.cell),
enc AS (SELECT vec_id, s, j FROM (
  SELECT pr.vec_id, cb.s, cb.j, row_number() OVER (
    PARTITION BY pr.vec_id, cb.s ORDER BY
      list_reduce(list_prepend(0.0,
        list_transform(range(1, 17),
          i -> (pr.rv[cb.s * 16 + i] - cb.e[i])
             * (pr.rv[cb.s * 16 + i] - cb.e[i]))),
        (acc, x) -> acc + x), cb.j) AS rn
  FROM pr CROSS JOIN cb) WHERE rn = 1),
qr AS (SELECT pc.cell,
    list_transform(range(1, len(qv.q) + 1), i -> qv.q[i] - pc.cv[i]) AS qrv
  FROM pc CROSS JOIN qv),
lut AS (SELECT qr.cell, cb.s, cb.j,
    list_reduce(list_prepend(0.0,
      list_transform(range(1, 17),
        i -> (cb.e[i] - qr.qrv[cb.s * 16 + i])
           * (cb.e[i] - qr.qrv[cb.s * 16 + i]))),
      (acc, x) -> acc + x) AS lv
  FROM qr CROSS JOIN cb),
ad AS (SELECT e.vec_id,
    list_reduce(list_prepend(0.0, list(l.lv ORDER BY l.s)),
      (acc, x) -> acc + x) AS adist
  FROM enc e JOIN pr ON e.vec_id = pr.vec_id
  JOIN lut l ON l.cell = pr.cell AND l.s = e.s AND l.j = e.j
  GROUP BY e.vec_id),
cand AS (SELECT vec_id FROM ad ORDER BY adist, vec_id LIMIT 40)
SELECT vec_id, dist FROM (
  SELECT v.vec_id,
    round(sqrt(list_reduce(list_prepend(0.0,
      list_transform(range(1, len(v.ev) + 1),
        i -> (v.ev[i] - qv.q[i]) * (v.ev[i] - qv.q[i]))),
      (acc, x) -> acc + x)), 6) AS dist
  FROM v JOIN cand USING (vec_id) CROSS JOIN qv
  ORDER BY dist, vec_id LIMIT 10)
ORDER BY dist, vec_id
"""


def q_sim_cosine_near_dup(spark, sf_dir):
    """Embedding near-duplicate pairs (cosine ≥ 0.99 within LSH buckets).

    The synthetic embeddings have no true near-dups (max pairwise cosine
    ≈ 0.45), so the query plants them: each vec_id < 50 gets a slightly
    perturbed copy at vec_id + 10^10 (far above any real vec_id at any
    generated scale factor, so planted and real ids never collide).
    The operator must recover exactly those 50 pairs."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + F.lit(10_000_000_000)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + F.lit(0.001).cast("float")
        ).alias("embedding"),
        "label",
    )
    both = emb.unionByName(planted)
    return (
        S.cosine_near_duplicates(both, threshold=0.99)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: synthetic binary assets → Arrow-batched
    feature extraction (decode kernel stubbed; see operators/multimodal)."""
    from inception_eventstore_spark.operators import multimodal as MM

    # coalesce: 256 tiny rows over 32 partitions would cold-start 32
    # python workers for ~8 rows each
    assets = MM.synthetic_assets(spark, n=256).coalesce(4)
    feats = MM.extract_features(assets, decode="fake")
    # scalar rows, raw doubles: float32->double widening is exact and
    # the literal oracle carries the same doubles (see
    # _multimodal_features_oracle); arrays/JSON are not driver-portable
    return _explode_features(feats)


def _explode_features(feats):
    return feats.select(
        "asset_id",
        "modality",
        "n_bytes",
        F.posexplode("features").alias("dim", "feat"),
    ).select(
        "asset_id",
        "modality",
        "n_bytes",
        F.col("dim").cast("bigint").alias("dim"),
        F.col("feat").cast("double").alias("feat"),
    )


_MULTIMODAL_FEATURES_ORACLE_CACHE: dict[str, str] = {}


def _multimodal_features_oracle(decode: str, n: int = 256) -> str:
    """Literal expected feature rows, computed driver-side from the
    fixture payloads with the same pure-numpy kernels the Arrow path
    calls — certifies the Spark plumbing end-to-end (same doubles,
    exact repr round-trip through DuckDB)."""
    cached = _MULTIMODAL_FEATURES_ORACLE_CACHE.get(decode)
    if cached is not None:
        return cached
    from inception_eventstore_spark.operators.multimodal import (
        _fake_features,
        _REAL_KERNELS,
        synthetic_asset_rows,
    )

    values = []
    for row in synthetic_asset_rows(n):
        asset_id, modality, mime, payload = row[0], row[1], row[2], row[6]
        if decode == "real":
            if mime == "video/mp4":
                continue
            feats = _REAL_KERNELS[mime](bytes(payload))
        else:
            feats = _fake_features(bytes(payload))
        for dim, f in enumerate(feats):
            values.append(
                f"({asset_id}, '{modality}', {len(payload)}, {dim}, "
                f"{float(f)!r})"
            )
    sql = (
        "SELECT CAST(c0 AS BIGINT) AS asset_id, c1 AS modality, "
        "CAST(c2 AS BIGINT) AS n_bytes, CAST(c3 AS BIGINT) AS dim, "
        "CAST(c4 AS DOUBLE) AS feat "
        f"FROM (VALUES {', '.join(values)}) t(c0, c1, c2, c3, c4)"
    )
    _MULTIMODAL_FEATURES_ORACLE_CACHE[decode] = sql
    return sql


def q_multimodal_real_decode(spark, sf_dir):
    """REAL byte-level decode across all three modalities: the
    synthetic payloads are genuine PPM/PNG/JPEG images, PCM-16 WAV
    audio, and AVI/MJPEG video (RIFF walk + per-frame JPEG decode),
    parsed in pure numpy and reduced to 16 signal features (channel
    stats / luminance grid / gradients; RMS / zero-crossings /
    log-spectral bands; temporal luma / motion energy). Value-oracled
    against literal expectations computed driver-side from the same
    pure-numpy decoders over the same fixtures (the decoders are also
    pinned by round-trip and hand-computed-feature tests,
    tests/test_text_multimodal.py::TestCodecs, TestRealDecode,
    TestAviCodec); only MP4/H.264 (ffmpeg-bound) stays excluded."""
    from inception_eventstore_spark.operators import multimodal as MM

    assets = (
        MM.synthetic_assets(spark, n=256)
        .where(F.col("mime") != "video/mp4")
        .coalesce(4)
    )
    feats = MM.extract_features(assets, decode="real")
    return _explode_features(feats)


def q_multimodal_frame_plan(spark, sf_dir):
    """Video frame-sampling plan (multimodal.frame_sample_plan): pure
    column math over the deterministic synthetic assets, so — unlike
    the decode-kernel features — the planning surface has a full value
    oracle (DuckDB regenerates the same asset metadata from the same
    arithmetic)."""
    from inception_eventstore_spark.operators import multimodal as MM

    assets = MM.synthetic_assets(spark, n=256)
    return (
        MM.frame_sample_plan(assets, every_ms=1000)
        .select(
            "asset_id",
            F.col("frame_idx").cast("bigint").alias("frame_idx"),
            F.col("offset_ms").cast("bigint").alias("offset_ms"),
        )
        .orderBy("asset_id", "frame_idx")
    )


def q_lang_id(spark, sf_dir):
    from inception_eventstore_spark.functions.spread import spread

    d = spread(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", TX.lang_id("text").alias("lang_pred"))


def q_quality_scores(spark, sf_dir):
    from inception_eventstore_spark.functions.spread import spread

    d = spread(_t(spark, sf_dir, "documents"))
    return TX.quality_features(d).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "quality_score",
    )


def q_fingerprints(spark, sf_dir):
    """Document fingerprinting, oracle-paired via the portable md5
    content digest (identical bytes-in → hex-out in any engine). The
    xxhash64 hot-path key (``fingerprint64``) has no DuckDB twin and is
    pinned by pytest instead."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.content_digest("text").alias("fp"))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: benchmark = every 53rd document;
    corpus = documents ∪ planted paraphrases (each embeds 7 benchmark
    tokens inside fresh text, so contamination crosses doc boundaries
    instead of only flagging the benchmark members themselves). Output:
    the full audit flag per corpus doc.

    Hash membership (Spark) vs string membership (DuckDB oracle) agree
    because identical gram strings hash identically."""
    from inception_eventstore_spark.operators import decontaminate as DC
    from inception_eventstore_spark.operators.dedup import tokens
    from inception_eventstore_spark.functions.spread import spread

    d = spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    bench = d.where(F.col("doc_id") % 53 == 0)
    # Planted-paraphrase ids sit at +10^10 — far above any real doc_id at
    # every generated scale factor (sf1000 ≈ 5×10^8 docs), so planted
    # and real ids can never collide (ADVICE r2). The oracle SQL pins
    # the same constant.
    planted = bench.select(
        (F.col("doc_id") + F.lit(10_000_000_000)).alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("zzz"),
            F.concat_ws(" ", F.slice(tokens("text"), 3, 7)),
            F.lit("qqq"),
        ).alias("text"),
    )
    corpus = d.unionByName(planted)
    return (
        DC.flag_contamination(corpus, bench, n=5)
        .select(
            "doc_id", F.col("contaminated").cast("bigint").alias("contaminated")
        )
        .orderBy("doc_id")
    )


def q_bow_embedding_buckets(spark, sf_dir):
    """Hashed bag-of-words featurization, verified bucket-for-bucket:
    the raw (doc, bucket, count) triples of the unnormalized vector.
    The md5 bucket arithmetic runs verbatim in DuckDB, so the entire
    feature hashing is value-oracled; L2 normalization (pure arithmetic
    over these counts) is pinned by pytest."""
    from inception_eventstore_spark.functions.spread import spread
    from inception_eventstore_spark.operators import embeddings as EB

    d = spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    return (
        EB.bow_bucket_counts(d, dim=64)
        .select(
            "doc_id",
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("cnt").cast("bigint").alias("cnt"),
        )
        .orderBy("doc_id", "bucket")
    )


def q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension distribution stats of the embeddings table — the
    fit half of standardize_embeddings (the transform is literal
    arithmetic over these values, pinned by pytest)."""
    from inception_eventstore_spark.operators import embeddings as EB

    emb = _t(spark, sf_dir, "embeddings")
    return (
        EB.embedding_dim_stats(emb)
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.round("mean", 6).alias("mean"),
            F.round("std", 6).alias("std"),
            F.round("lo", 6).alias("lo"),
            F.round("hi", 6).alias("hi"),
        )
        .orderBy("dim")
    )


def q_tfidf_weights(spark, sf_dir):
    """TF-IDF over the hashed buckets — tf and df both value-exact
    (integer counts + md5 buckets); only ln() ulps sit inside the 6dp
    round."""
    from inception_eventstore_spark.functions.spread import spread
    from inception_eventstore_spark.operators import embeddings as EB

    d = spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    return (
        EB.tfidf_bucket_weights(d, dim=64)
        .select(
            "doc_id",
            F.col("bucket").cast("bigint").alias("bucket"),
            F.round("w", 6).alias("w"),
        )
        .orderBy("doc_id", "bucket")
    )


def q_domain_stats(spark, sf_dir):
    """Per-domain corpus stats over deterministically planted URLs (the
    fixtures carry none — same planting idiom as pii_redaction):
    mixed-case hosts, :port and www. prefixes exercise normalization."""
    from inception_eventstore_spark.operators import domains as DM

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    nothing = F.lit("")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 4 == 0, F.concat(
                F.lit(" see https://Site"), (did % 20).cast("string"),
                F.lit(".Example.com/p/"), did.cast("string"))
            ).otherwise(nothing),
            F.when(did % 6 == 0, F.concat(
                F.lit(" m http://www.mirror"), (did % 7).cast("string"),
                F.lit(".org:8080/x"))).otherwise(nothing),
        ).alias("text"),
    )
    return (
        DM.domain_stats(planted)
        .select("domain", F.col("docs").cast("bigint").alias("docs"),
                "mentions")
        .orderBy("domain")
    )


def q_dsir_importance(spark, sf_dir):
    """DSIR importance scores for every document against target =
    English docs, source = the whole pool. Engine parity: the ratio
    arithmetic is exact over counts; only ln() differs by ulps, far
    inside the 6dp round."""
    from inception_eventstore_spark.operators import importance as IM
    from inception_eventstore_spark.functions.spread import spread

    d = spread(_t(spark, sf_dir, "documents")).select("doc_id", "lang", "text")
    w = IM.token_logratios(d.where(F.col("lang") == "en"), d)
    return (
        IM.importance_scores(d, w)
        .select(
            "doc_id",
            F.col("n_scored").cast("bigint").alias("n_scored"),
            F.round("score", 6).alias("score"),
        )
        .orderBy("doc_id")
    )


def q_quality_quantile_filter(spark, sf_dir):
    """Top-30%-per-language quality filter: exact per-group percentile
    (linear interpolation — the engine-portable definition) broadcast
    back over the corpus; summary per language."""
    from inception_eventstore_spark.operators import filtering as FL
    from inception_eventstore_spark.functions.spread import spread

    d = TX.quality_features(spread(_t(spark, sf_dir, "documents")))
    kept = FL.quantile_threshold_filter(d, "quality_score", "lang", 0.7)
    # quality_score is an exact 6-dp multiple, so a group AVERAGE is a
    # rational of 1e-6 multiples and routinely terminates at 6-dp half
    # boundaries (Spark HALF_UP vs DuckDB half-even — the sf0.001 'de'
    # group bit this). Quantize to integer micro-units and report the
    # floor-divided mean: integer arithmetic, bit-identical both sides.
    q6 = F.round(F.col("quality_score") * 1e6, 0).cast("long")
    return (
        kept.withColumn("_q6", q6)
        .groupBy("lang")
        .agg(
            F.count("*").alias("kept"),
            F.round(F.min("quality_score"), 6).alias("min_kept_score"),
            F.expr("sum(_q6) div count(*)").cast("bigint")
            .alias("avg_kept_micro"),
        )
        .orderBy("lang")
    )


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing over the oracled whitespace
    tokenizer (budget 128). shard_size=100 forces the two-phase global
    cumsum through several shards even at sf0.01, so the oracle also
    certifies the shard-offset stitching."""
    from inception_eventstore_spark.operators import packing as PK

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", TX.token_count("text").cast("long").alias("n_tok")
    )
    return (
        PK.pack_chunked(d, budget=128, shard_size=100)
        .select(
            "doc_id",
            "n_tok",
            "tok_start",
            "seq_id",
            "seq_offset",
            F.col("spans_cut").cast("bigint").alias("spans_cut"),
        )
        .orderBy("doc_id")
    )


def q_pack_greedy_stats(spark, sf_dir):
    """First-fit packing efficiency (greedy recurrence runs per shard
    in pandas). The sequential fold IS SQL-expressible: the oracle
    replays first-fit per shard with a DuckDB list_reduce whose
    accumulator packs (bin, fill) into one BIGINT (bin*1000 + fill —
    fill <= budget 128 < 1000), sliced per prefix to recover every
    doc's bin — the same sentinel-init replay pattern as the
    bpe_encode_words oracle, so integer-exact on both engines."""
    from inception_eventstore_spark.operators import packing as PK

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", TX.token_count("text").cast("long").alias("n_tok")
    )
    packed = PK.pack_greedy(d, budget=128, shard_size=100)
    return PK.packing_stats(packed, budget=128)


_PACK_GREEDY_STATS_ORACLE = f"""
WITH d AS (SELECT doc_id, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tok
  FROM documents),
st AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi, count(*) AS n FROM d),
pr AS (SELECT greatest(1, (n + 99) // 100) AS n_shards,
  greatest(1, (hi - lo) // greatest(1, (n + 99) // 100) + 1) AS width
  FROM st),
sh AS (SELECT doc_id, n_tok,
  CASE WHEN (SELECT n_shards FROM pr) = 1 THEN 0
       ELSE doc_id // (SELECT width FROM pr) END AS shard FROM d),
arrs AS (SELECT shard, list(n_tok ORDER BY doc_id) AS arr FROM sh
  GROUP BY shard),
idx AS (SELECT shard, arr, unnest(generate_series(1, len(arr))) AS i
  FROM arrs),
packed AS (SELECT shard, i, least(arr[i], 128) AS tok,
  list_reduce(list_prepend(CAST(0 AS BIGINT), arr[1:i]),
    (acc, x) -> CASE
      WHEN acc % 1000 > 0 AND acc % 1000 + least(x, 128) > 128
      THEN (acc // 1000 + 1) * 1000 + least(x, 128)
      ELSE acc + least(x, 128) END) // 1000 AS bin
  FROM idx),
per_seq AS (SELECT shard, bin, count(*) AS docs, sum(tok) AS tokens
  FROM packed GROUP BY shard, bin)
SELECT CAST(count(*) AS BIGINT) AS sequences,
  round(avg(docs), 6) AS avg_docs_per_seq,
  round(avg(tokens / 128.0), 6) AS avg_fill
FROM per_seq
"""


def q_kmeans_assign(spark, sf_dir):
    """Nearest-centroid assignment + per-cluster stats with four seed
    vectors as centroids — the JVM-expression `assign_clusters_exact`
    path whose fold distance and (dist2, cid) tie-break any engine
    reproduces bit-for-bit. The Arrow-matmul hot path
    (`assign_clusters`) is pinned against this one in pytest."""
    from inception_eventstore_spark.operators import clustering as CL

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = emb.where(F.col("vec_id").isin(0, 1, 2, 3)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    assigned = CL.assign_clusters_exact(emb, cent)
    return (
        assigned.groupBy(F.col("cluster").cast("bigint").alias("cluster"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("dist2"), 6).alias("avg_dist2"),
        )
        .orderBy("cluster")
    )


def q_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced sampling: 20 per label by the portable md5
    order (the embeddings `label` column stands in for a fitted
    cluster id — the sampler itself is cluster-source-agnostic)."""
    from inception_eventstore_spark.operators import clustering as CL

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        CL.balanced_sample(emb, "label", 20, "vec_id")
        .select("vec_id", F.col("label").cast("bigint").alias("label"))
        .orderBy("vec_id")
    )


def q_merge_changelog(spark, sf_dir):
    """CDC merge: account-balance snapshot (customer) ⊕ changelog
    derived from orders (aggregated upsert per customer, delete for
    every 10th key, seq = latest order date). One shuffle total."""
    from inception_eventstore_spark.operators import merge as MG

    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.round("c_acctbal", 2).alias("bal"),
    )
    changes = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("bal"),
            F.unix_micros(F.max("o_orderdate")).alias("seq"),
        )
        .withColumn(
            "op",
            F.when(F.col("k") % 10 == 0, F.lit(MG.OP_DELETE)).otherwise(
                F.lit(MG.OP_UPSERT)
            ),
        )
    )
    return MG.merge_changelog(base, changes, ["k"]).orderBy("k")


# ----------------------------------------------------------------------
# Registry: one dict, grown by each family below with QUERIES.update
# next to its builders; spark_queries() and oracle_queries() list it in
# name order.
# ----------------------------------------------------------------------
QUERIES: dict[str, QueryDef] = {
    "r3_load_aggregate": QueryDef(
        q_r3_load_aggregate,
        "SELECT event_id, ts, event_type, value FROM events "
        "WHERE user_id = 42 ORDER BY ts, event_id",
    ),
    "r5_load_desc": QueryDef(
        q_r5_load_desc,
        "SELECT event_id, ts FROM events WHERE user_id = 42 "
        "ORDER BY ts DESC, event_id DESC LIMIT 10",
    ),
    "r6_point_lookup": QueryDef(
        q_r6_point_lookup,
        "SELECT event_type, value, props FROM events WHERE event_id = 1001",
    ),
    "r9_time_scan": QueryDef(
        q_r9_time_scan,
        "SELECT event_id, user_id, event_type FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-01' AND ts <= TIMESTAMP '2024-06-30' "
        "ORDER BY event_id",
    ),
    "r10_replay_grouped": QueryDef(
        q_r10_replay_grouped,
        "SELECT user_id, count(*) AS n, min(ts) AS first_ts, max(ts) AS last_ts "
        "FROM events GROUP BY user_id ORDER BY user_id",
    ),
    "r11_replay_by_type": QueryDef(
        q_r11_replay_by_type,
        "SELECT event_id, user_id, value FROM events "
        "WHERE event_type = 'click' AND ts >= TIMESTAMP '2024-01-01' "
        "ORDER BY event_id",
    ),
    "r4_keyset_page": QueryDef(
        q_r4_keyset_page,
        "WITH agg AS (SELECT event_id, ts, value FROM events WHERE user_id = 42), "
        "b AS (SELECT ts AS _bts, event_id AS _bid FROM agg "
        "      ORDER BY ts, event_id LIMIT 5), "
        "q AS (SELECT _bts, _bid FROM b ORDER BY _bts DESC, _bid DESC LIMIT 1) "
        "SELECT agg.event_id, agg.ts, agg.value FROM agg, q "
        "WHERE agg.ts > q._bts OR (agg.ts = q._bts AND agg.event_id > q._bid) "
        "ORDER BY agg.ts, agg.event_id LIMIT 5",
    ),
    "window_commit_order": QueryDef(
        q_window_commit_order,
        "SELECT event_id, user_id, "
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn "
        "FROM events ORDER BY user_id, rn",
    ),
    "x1_index_day_counts": QueryDef(
        q_x1_index_day_counts,
        "SELECT event_type, CAST(year(ts)*1000 + dayofyear(ts) AS BIGINT) AS pid, "
        "count(*) AS n FROM events GROUP BY 1, 2 ORDER BY 1, 2",
    ),
    "x2_index_day_read": QueryDef(
        q_x2_index_day_read,
        "SELECT user_id, event_id, ts FROM events WHERE event_type = 'click' "
        "AND CAST(year(ts)*1000 + dayofyear(ts) AS BIGINT) = 2024003 "
        "ORDER BY ts, event_id",
    ),
    "x5_min_ts": QueryDef(
        q_x5_min_ts, "SELECT min(ts) AS ts FROM events"
    ),
    "c3_counters": QueryDef(
        q_c3_counters,
        "SELECT event_type AS msgid, count(*) AS cv FROM events "
        "GROUP BY event_type ORDER BY msgid",
    ),
    "m2_message_scan": QueryDef(
        q_m2_message_scan,
        "SELECT event_id, props FROM events ORDER BY event_id",
    ),
    "json_props_extract": QueryDef(
        q_json_props_extract,
        "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k "
        "FROM events ORDER BY event_id",
    ),
    "join_revenue_by_nation": QueryDef(
        q_join_revenue_by_nation,
        "SELECT n.n_name, count(*) AS n, "
        "round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS rev "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "GROUP BY n.n_name ORDER BY n.n_name",
    ),
    "supplier_margin": QueryDef(
        q_supplier_margin,
        "SELECT n.n_name AS nation, r.r_name AS region, "
        "CAST(count(*) AS BIGINT) AS n_items, "
        "round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS amount "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "JOIN nation n ON s.s_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        "WHERE p.p_size <= 10 "
        "GROUP BY nation, region ORDER BY nation, region",
    ),
    "q1_pricing_summary": QueryDef(
        q_q1_pricing_summary,
        "SELECT l_returnflag, l_linestatus, "
        "round(sum(l_quantity), 2) AS sum_qty, "
        "round(sum(l_extendedprice), 2) AS sum_base_price, "
        "round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price, "
        "round(avg(l_quantity), 6) AS avg_qty, "
        "round(avg(l_discount), 6) AS avg_disc, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    ),
    "topk_per_group": QueryDef(
        q_topk_per_group,
        "SELECT event_type, rk, event_id, value FROM ("
        "  SELECT e.event_type, e.event_id, round(e.value, 6) AS value, "
        "  row_number() OVER (PARTITION BY e.event_type "
        "                     ORDER BY e.value DESC, e.event_id ASC) AS rk "
        "  FROM events e) t WHERE rk <= 3 ORDER BY event_type, rk",
    ),
    "exists_semi_join": QueryDef(
        q_exists_semi_join,
        "SELECT user_id, count(*) AS n_events FROM events e "
        "WHERE EXISTS (SELECT 1 FROM events p WHERE p.event_type = 'purchase' "
        "              AND p.user_id = e.user_id) "
        "GROUP BY user_id ORDER BY user_id",
    ),
    "rollup_orders": QueryDef(
        q_rollup_orders,
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
        "round(sum(o_totalprice), 2) AS total FROM orders "
        "GROUP BY ROLLUP (o_orderstatus, o_orderpriority) "
        "ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST",
    ),
    "scalar_funcs": QueryDef(
        q_scalar_funcs,
        "SELECT event_id, upper(event_type) AS et_upper, "
        "CAST(length(event_type) AS BIGINT) AS et_len, "
        "substring(event_type, 1, 2) AS et_pre, "
        "concat_ws('-', event_type, CAST(user_id AS VARCHAR)) AS et_key, "
        "CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m, "
        "CAST(dayofmonth(ts) AS BIGINT) AS d, CAST(hour(ts) AS BIGINT) AS h, "
        "round(abs(value - 50.0), 6) AS dev, round(sqrt(abs(value)), 6) AS rt, "
        "CAST(floor(value) AS BIGINT) AS fl FROM events ORDER BY event_id",
    ),
    "week_rollup": QueryDef(
        q_week_rollup,
        "SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, "
        "count(*) AS n, round(sum(value), 2) AS total FROM events "
        "GROUP BY 1 ORDER BY week",
    ),
    "null_funcs": QueryDef(
        q_null_funcs,
        "SELECT event_id, "
        "coalesce(nullif(event_type, 'click'), 'non-click') AS et_or_default, "
        "CASE WHEN value > 50 THEN value END AS big_value, "
        "nullif(event_type, 'click') IS NULL AS is_click "
        "FROM events ORDER BY event_id",
    ),
    "string_agg": QueryDef(
        q_string_agg,
        "SELECT user_id, string_agg(DISTINCT event_type, ',' "
        "ORDER BY event_type) AS types FROM events "
        "GROUP BY user_id ORDER BY user_id",
    ),
    "above_own_average": QueryDef(
        q_above_own_average,
        "SELECT event_id, user_id, round(value, 6) AS value FROM ("
        "  SELECT event_id, user_id, value, "
        "  avg(value) OVER (PARTITION BY user_id) AS user_avg FROM events) t "
        "WHERE value > user_avg ORDER BY event_id",
    ),
    "pivot_status_priority": QueryDef(
        q_pivot_status_priority,
        "SELECT o_orderstatus, "
        "CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p1, "
        "CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p2, "
        "CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p3, "
        "CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p4, "
        "CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p5 "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
    ),
    "approx_stats": QueryDef(q_approx_stats, _approx_stats_oracle()),
    "distinct_users": QueryDef(
        q_distinct_users,
        "SELECT event_type, count(DISTINCT user_id) AS users, "
        "round(median(value), 6) AS median_value "
        "FROM events GROUP BY event_type ORDER BY event_type",
    ),
    "setop_users": QueryDef(
        q_setop_users,
        "SELECT user_id FROM events WHERE event_type = 'purchase' "
        "GROUP BY user_id HAVING count(*) >= 14 "
        "EXCEPT "
        "SELECT user_id FROM events WHERE event_type = 'click' "
        "GROUP BY user_id HAVING count(*) >= 14 "
        "ORDER BY user_id",
    ),
    "asof_join": QueryDef(
        q_asof_join,
        "SELECT p.event_id, p.user_id, p.ts, c.ts AS asof_ts, "
        "c.event_id AS click_id "
        "FROM (SELECT event_id, user_id, ts FROM events "
        "      WHERE event_type = 'purchase') p "
        "ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events "
        "                WHERE event_type = 'click') c "
        "ON p.user_id = c.user_id AND p.ts >= c.ts "
        "ORDER BY p.event_id",
    ),
    "sessionize": QueryDef(
        q_sessionize,
        "WITH s AS ("
        "  SELECT user_id, ts, event_id, "
        "    SUM(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE "
        "        THEN 1 ELSE 0 END) OVER ("
        "      PARTITION BY user_id ORDER BY ts, event_id) AS session_id "
        "  FROM (SELECT user_id, ts, event_id, "
        "          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
        "          AS prev_ts FROM events) t), "
        "per AS (SELECT user_id, session_id, count(*) AS n_events "
        "        FROM s GROUP BY user_id, session_id) "
        "SELECT user_id, count(*) AS n_sessions, "
        "CAST(sum(n_events) AS BIGINT) AS n_events, "
        "max(n_events) AS max_session_events "
        "FROM per GROUP BY user_id ORDER BY user_id",
    ),
    "range_join_windows": QueryDef(
        q_range_join_windows,
        "WITH m AS (SELECT min(epoch_us(ts)) AS t0 FROM events), "
        "w AS (SELECT i AS window_id, "
        "        t0 + i * 172800000000 AS lo, "
        "        t0 + i * 172800000000 + 86400000000 AS hi "
        "      FROM generate_series(0, 9) s(i), m) "
        "SELECT w.window_id, count(*) AS n_events, "
        "round(sum(e.value), 2) AS total_value "
        "FROM events e JOIN w "
        "  ON epoch_us(e.ts) >= w.lo AND epoch_us(e.ts) < w.hi "
        "GROUP BY w.window_id ORDER BY w.window_id",
    ),
    "dedup_exact": QueryDef(
        q_dedup_exact,
        # [ \t\n\x0b\f\r] spelled out: Java's \s (Spark) and RE2's \s
        # (DuckDB) disagree on \x0b, so neither side uses the class.
        "WITH both_docs AS ("
        "  SELECT doc_id, text FROM documents"
        "  UNION ALL"
        "  SELECT doc_id + 100000 AS doc_id, upper(text) || '  ' AS text"
        "  FROM documents WHERE doc_id % 10 = 0) "
        "SELECT trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))"
        "  AS norm_text, "
        "count(*) AS dup_count, min(doc_id) AS keep_id "
        "FROM both_docs GROUP BY norm_text HAVING count(*) > 1 "
        "ORDER BY norm_text",
    ),
    "text_stats": QueryDef(
        q_text_stats,
        "SELECT lang, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars "
        "FROM documents GROUP BY lang ORDER BY lang",
    ),
    "token_count": QueryDef(
        q_token_count,
        # the filtered split handles blank text (0 tokens) and the
        # spelled-out char class matches Java's \s (RE2's lacks \x0b)
        f"SELECT doc_id, CAST(len({_DUCK_TOKENS}) AS BIGINT)"
        " AS n_tokens FROM documents ORDER BY doc_id",
    ),
    "time_bucket_rollup": QueryDef(
        q_time_bucket_rollup,
        # ((x % W) + W) % W = pmod: DuckDB's % truncates toward zero, so
        # the plain form would disagree with Spark's floor semantics on
        # pre-epoch timestamps
        "SELECT make_timestamp(CAST(epoch_us(ts) - "
        "((epoch_us(ts) % 2700000000) + 2700000000) % 2700000000 "
        "AS BIGINT)) AS bucket, event_type, count(*) AS n, "
        "round(sum(value), 2) AS total_value "
        "FROM events GROUP BY bucket, event_type "
        "ORDER BY bucket, event_type",
    ),
    "corpus_curation": QueryDef(q_corpus_curation, _corpus_curation_oracle()),
    "curation_gopher": QueryDef(q_curation_gopher, _curation_gopher_oracle()),
    "curation_top_bigram": QueryDef(
        q_curation_top_bigram, _curation_top_bigram_oracle()
    ),
    "dedup_bloom_membership": QueryDef(q_dedup_bloom, _DEDUP_BLOOM_ORACLE),
    "pii_redaction": QueryDef(q_pii_redaction, _pii_redaction_oracle()),
    "session_windows": QueryDef(q_session_windows, _SESSION_WINDOWS_ORACLE),
    "dedup_corpus_lines": QueryDef(q_dedup_lines, _DEDUP_LINES_ORACLE),
    "stratified_sample": QueryDef(
        q_stratified_sample, _STRATIFIED_SAMPLE_ORACLE
    ),
    "token_count_bpe": QueryDef(
        q_token_count_bpe,
        # \pL / \pN are the same Unicode categories in Java regex and RE2
        r"WITH p AS (SELECT doc_id, "
        r"list_filter(string_split_regex(lower(text), '[^\pL\pN]+'), "
        r"x -> x <> '') AS pieces FROM documents) "
        r"SELECT doc_id, CAST(coalesce(list_sum(list_transform(pieces, "
        r"w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0) AS BIGINT) "
        r"AS n_bpe_tokens FROM p ORDER BY doc_id",
    ),
    "sim_topk_l2": QueryDef(
        q_sim_topk_l2,
        "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), "
        "pairs AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qe) AS y "
        "          FROM embeddings e, q WHERE e.vec_id <> 0), "
        "dists AS (SELECT vec_id, round(sqrt(sum("
        "            (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "            (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))), 6) AS dist "
        "          FROM pairs GROUP BY vec_id) "
        "SELECT vec_id, dist FROM dists ORDER BY dist, vec_id LIMIT 10",
    ),
    # deterministic text/dedup extensions — oracle-paired (SQL generated
    # from the same STOPWORDS table the Spark operators use)
    "dedup_ngram_jaccard": QueryDef(q_dedup_ngram_jaccard, _ngram_jaccard_oracle()),
    "dedup_cc_clusters": QueryDef(q_dedup_cc_clusters, _cc_clusters_oracle()),
    "corpus_split": QueryDef(
        q_corpus_split,
        # same md5-prefix bucket arithmetic as sampling.hash_bucket:
        # 60-bit hex prefix is positive, so % == pmod on both engines
        "WITH b AS (SELECT doc_id, text, "
        "CAST(('0x' || substring(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 15)) "
        "AS BIGINT) % 1000000 AS bk FROM documents) "
        "SELECT CASE WHEN bk < 800000 THEN 'train' "
        "WHEN bk < 900000 THEN 'val' ELSE 'test' END AS split, "
        "count(*) AS n_docs, "
        f"CAST(sum(len({_DUCK_TOKENS})) AS BIGINT) AS total_tokens "
        "FROM b GROUP BY split ORDER BY split",
    ),
    "text_lang_id": QueryDef(q_lang_id, _lang_id_oracle()),
    "text_quality_scores": QueryDef(q_quality_scores, _quality_scores_oracle()),
    # oracle = the exact-Jaccard ground truth (see q_dedup_minhash doc)
    "dedup_minhash_lsh": QueryDef(q_dedup_minhash, _ngram_jaccard_oracle()),
    "dedup_simhash": QueryDef(q_dedup_simhash, _duck_simhash_oracle()),
    "sim_topk_lsh": QueryDef(q_sim_topk_lsh, _sim_topk_lsh_oracle()),
    "sim_topk_ivf": QueryDef(q_sim_topk_ivf, _SIM_TOPK_IVF_ORACLE),
    "sim_topk_ivfpq": QueryDef(q_sim_topk_ivfpq, _SIM_TOPK_IVFPQ_ORACLE),
    "sim_multi_topk": QueryDef(
        q_sim_multi_topk,
        "WITH q AS (SELECT vec_id AS query_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv "
        "FROM embeddings WHERE vec_id < 5), "
        "c AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv "
        "FROM embeddings WHERE vec_id >= 5), "
        "d AS (SELECT q.query_id, c.vec_id, "
        "sqrt(greatest(list_inner_product(cv, cv) "
        "- 2 * list_inner_product(cv, qv) "
        "+ list_inner_product(qv, qv), 0)) AS dist FROM q CROSS JOIN c), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY dist, vec_id) AS rank FROM d) "
        "SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, "
        "round(dist, 6) AS dist FROM r WHERE rank <= 5 "
        "ORDER BY query_id, rank",
    ),
    # oracle = exact all-pairs cosine ground truth: the LSH-bucketed
    # operator must recover every planted pair (cosine ≈ 0.9999, the
    # base corpus tops out at ~0.45, so the 0.99 threshold has huge
    # float margin on both engines). float32 plant arithmetic mirrored
    # exactly (x + CAST(0.001 AS FLOAT) stays single-precision), cosine
    # computed over DOUBLE-cast lists like the numpy kernel.
    "sim_cosine_near_dup": QueryDef(
        q_sim_cosine_near_dup,
        "WITH planted AS ("
        "  SELECT vec_id + 10000000000 AS vec_id, "
        "    list_transform(embedding, x -> x + CAST(0.001 AS FLOAT)) AS embedding "
        "  FROM embeddings WHERE vec_id < 50), "
        "allv AS ("
        "  SELECT vec_id, embedding FROM embeddings "
        "  UNION ALL SELECT vec_id, embedding FROM planted), "
        "pairs AS ("
        "  SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        "    list_cosine_similarity("
        "      list_transform(a.embedding, x -> CAST(x AS DOUBLE)), "
        "      list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS c "
        "  FROM allv a JOIN allv b ON a.vec_id < b.vec_id) "
        "SELECT id_a, id_b, round(c, 6) AS cosine FROM pairs "
        "WHERE c >= 0.99 ORDER BY id_a, id_b",
    ),
    "multimodal_features": QueryDef(
        q_multimodal_features, _multimodal_features_oracle("fake")
    ),
    "multimodal_real_decode": QueryDef(
        q_multimodal_real_decode, _multimodal_features_oracle("real")
    ),
    "text_fingerprints": QueryDef(
        q_fingerprints,
        # md5 of the same normalized content normalize_text() produces
        # (lower → collapse Java-\s runs → trim); char class spelled out
        # because RE2's \s lacks \x0b
        "SELECT doc_id, md5(trim(regexp_replace(lower(text), "
        "'[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp FROM documents",
    ),
    "decontaminate": QueryDef(
        q_decontaminate,
        # DuckDB list slices are 1-based inclusive: tk[i:i+4] is the
        # 5-gram at i, tk[3:9] the 7 planted tokens (= Spark slice(_,3,7))
        "WITH toks AS (SELECT doc_id, "
        f"{_DUCK_TOKENS} AS tk FROM documents), "
        "corpus AS (SELECT doc_id, tk FROM toks "
        "UNION ALL SELECT doc_id + 10000000000, "
        "list_concat(list_concat(['zzz'], tk[3:9]), ['qqq']) FROM toks "
        "WHERE doc_id % 53 = 0), "
        "grams AS (SELECT doc_id, unnest(list_transform("
        "range(1, len(tk) - 5 + 2), i -> array_to_string(tk[i:i+4], ' ')"
        ")) AS gram FROM corpus WHERE len(tk) >= 5), "
        "bench AS (SELECT DISTINCT gram FROM grams "
        "WHERE doc_id % 53 = 0 AND doc_id < 10000000000), "
        "bad AS (SELECT DISTINCT g.doc_id FROM grams g "
        "JOIN bench b USING (gram)) "
        "SELECT c.doc_id, CAST(b.doc_id IS NOT NULL AS BIGINT) "
        "AS contaminated FROM corpus c LEFT JOIN bad b USING (doc_id) "
        "ORDER BY doc_id",
    ),
    "regression_trend": QueryDef(
        q_regression_trend,
        "SELECT event_type, "
        "round(regr_slope(value, epoch_us(ts) / 1e12), 6) AS slope, "
        "round(regr_intercept(value, epoch_us(ts) / 1e12), 6) AS icpt, "
        "round(regr_r2(value, epoch_us(ts) / 1e12), 6) AS r2, "
        "CAST(regr_count(value, epoch_us(ts) / 1e12) AS BIGINT) AS n "
        "FROM events GROUP BY event_type ORDER BY event_type",
    ),
    "cube_orders": QueryDef(
        q_cube_orders,
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
        "round(avg(o_totalprice), 2) AS avg_price FROM orders "
        "GROUP BY CUBE (o_orderstatus, o_orderpriority) "
        "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST",
    ),
    "window_funcs": QueryDef(
        q_window_funcs,
        "SELECT event_id, user_id, "
        "coalesce(value - lag(value, 1) OVER w, 0.0) AS delta_prev, "
        "coalesce(lead(value, 1) OVER w - value, 0.0) AS delta_next, "
        "CAST(ntile(4) OVER w AS BIGINT) AS quartile, "
        "round(percent_rank() OVER w, 6) AS prank, "
        "round(avg(value) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) "
        "AS avg3 FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) "
        "ORDER BY event_id",
    ),
    "value_histogram": QueryDef(
        q_value_histogram,
        # DuckDB has no width_bucket; the CASE reproduces its ANSI
        # semantics for lo=0, hi=100, n=20 (width 5): 0 below range,
        # n+1 at/above hi, else floor(v/w)+1
        "SELECT CAST(CASE WHEN value < 0.0 THEN 0 "
        "WHEN value >= 100.0 THEN 21 "
        "ELSE CAST(floor(value / 5.0) AS BIGINT) + 1 END AS BIGINT) "
        "AS bucket, count(*) AS n, round(min(value), 2) AS lo, "
        "round(max(value), 2) AS hi FROM events "
        "GROUP BY bucket ORDER BY bucket",
    ),
    "multimodal_frame_plan": QueryDef(
        q_multimodal_frame_plan,
        # regenerate the synthetic video assets' metadata from the same
        # arithmetic (modality = i%3 → video at i%3==2; every third
        # video is an opaque MP4 with duration 5000+i·100, the rest
        # are real AVI clips whose duration = (3+i%4)·1000/4), then
        # the same sequence math as frame_sample_plan
        "WITH a AS (SELECT i AS asset_id, "
        "CASE WHEN (i // 3) % 3 = 2 THEN 5000 + i * 100 "
        "ELSE (3 + i % 4) * 1000 // 4 END AS duration_ms "
        "FROM range(0, 256) t(i) WHERE i % 3 = 2), "
        "f AS (SELECT asset_id, unnest(range(0, greatest(CAST("
        "floor(duration_ms / 1000.0) AS BIGINT), 1))) AS frame_idx FROM a) "
        "SELECT asset_id, CAST(frame_idx AS BIGINT) AS frame_idx, "
        "CAST(frame_idx * 1000 AS BIGINT) AS offset_ms "
        "FROM f ORDER BY asset_id, frame_idx",
    ),
    "embedding_dim_stats": QueryDef(
        q_embedding_dim_stats,
        # generate_subscripts gives the 1-based index alongside unnest;
        # Spark posexplode is 0-based
        "WITH e AS (SELECT unnest(list_transform(embedding, "
        "v -> CAST(v AS DOUBLE))) AS x, "
        "generate_subscripts(embedding, 1) - 1 AS dim FROM embeddings) "
        "SELECT CAST(dim AS BIGINT) AS dim, round(avg(x), 6) AS mean, "
        "round(stddev_pop(x), 6) AS std, round(min(x), 6) AS lo, "
        "round(max(x), 6) AS hi FROM e GROUP BY dim ORDER BY dim",
    ),
    "tfidf_weights": QueryDef(
        q_tfidf_weights,
        "WITH t AS (SELECT doc_id, "
        f"{_DUCK_TOKENS} AS tk FROM documents), "
        "bk AS (SELECT doc_id, unnest(list_transform(tk, tok -> "
        "CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT) "
        "% 64)) AS bucket FROM t), "
        "c AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk "
        "GROUP BY doc_id, bucket), "
        "n AS (SELECT CAST(count(*) + 1 AS DOUBLE) AS nd FROM documents), "
        "dfb AS (SELECT bucket, count(DISTINCT doc_id) AS dfc FROM c "
        "GROUP BY bucket) "
        "SELECT c.doc_id, c.bucket, "
        "round(c.cnt * ln(nd / (dfc + 1.0)), 6) AS w "
        "FROM c JOIN dfb USING (bucket), n ORDER BY c.doc_id, c.bucket",
    ),
    "bow_embedding_buckets": QueryDef(
        q_bow_embedding_buckets,
        "WITH t AS (SELECT doc_id, "
        f"{_DUCK_TOKENS} AS tk FROM documents), "
        "bk AS (SELECT doc_id, unnest(list_transform(tk, tok -> "
        "CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT) "
        "% 64)) AS bucket FROM t) "
        "SELECT doc_id, bucket, count(*) AS cnt FROM bk "
        "GROUP BY doc_id, bucket ORDER BY doc_id, bucket",
    ),
    "domain_stats": QueryDef(
        q_domain_stats,
        r"WITH planted AS (SELECT doc_id, text || "
        r"CASE WHEN doc_id % 4 = 0 THEN ' see https://Site' || "
        r"CAST(doc_id % 20 AS VARCHAR) || '.Example.com/p/' || "
        r"CAST(doc_id AS VARCHAR) ELSE '' END || "
        r"CASE WHEN doc_id % 6 = 0 THEN ' m http://www.mirror' || "
        r"CAST(doc_id % 7 AS VARCHAR) || '.org:8080/x' ELSE '' END "
        r"AS text FROM documents), "
        "urls AS (SELECT doc_id, unnest(regexp_extract_all(text, "
        r"'https?://[^ \t\n]+')) AS url FROM planted), "
        "hosts AS (SELECT doc_id, regexp_replace(regexp_replace(lower("
        r"regexp_extract(url, 'https?://([^/?#\s]+)', 1)), "
        r"':[0-9]+$', ''), '^www\.', '') AS domain FROM urls) "
        "SELECT domain, CAST(count(DISTINCT doc_id) AS BIGINT) AS docs, "
        "count(*) AS mentions FROM hosts WHERE domain <> '' "
        "GROUP BY domain ORDER BY domain",
    ),
    "dsir_importance": QueryDef(
        q_dsir_importance,
        "WITH tk AS (SELECT doc_id, lang, "
        f"{_DUCK_TOKENS} AS tk FROM documents), "
        "tok AS (SELECT doc_id, lang, unnest(tk) AS token FROM tk), "
        "tcnt AS (SELECT token, count(*) AS t_cnt FROM tok "
        "WHERE lang = 'en' GROUP BY token), "
        "scnt AS (SELECT token, count(*) AS s_cnt FROM tok GROUP BY token), "
        "j AS (SELECT token, coalesce(t_cnt, 0) AS t_cnt, "
        "coalesce(s_cnt, 0) AS s_cnt "
        "FROM tcnt FULL OUTER JOIN scnt USING (token)), "
        "st AS (SELECT CAST(sum(t_cnt) AS DOUBLE) AS t_tot, "
        "CAST(sum(s_cnt) AS DOUBLE) AS s_tot, "
        "CAST(count(*) AS DOUBLE) AS vocab FROM j), "
        "w AS (SELECT token, "
        "ln((t_cnt + 0.5) / (t_tot + 0.5 * vocab)) - "
        "ln((s_cnt + 0.5) / (s_tot + 0.5 * vocab)) AS logratio "
        "FROM j, st), "
        "sc AS (SELECT t.doc_id, count(w.logratio) AS n_scored, "
        "coalesce(sum(w.logratio), 0.0) AS score "
        "FROM tok t LEFT JOIN w USING (token) GROUP BY t.doc_id) "
        "SELECT d.doc_id, CAST(coalesce(sc.n_scored, 0) AS BIGINT) "
        "AS n_scored, round(coalesce(sc.score, 0.0), 6) AS score "
        "FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id",
    ),
    "quality_quantile_filter": QueryDef(
        q_quality_quantile_filter, _quality_quantile_oracle()
    ),
    "pack_sequences": QueryDef(
        q_pack_sequences,
        # all offsets non-negative, so // matches Spark's div
        "WITH t AS (SELECT doc_id, "
        f"CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tok FROM documents), "
        # CAST: DuckDB types window sums over BIGINT as HUGEINT, which the
        # driver's pandas canonicalizer renders as float64 and the hash
        # diverges from Spark's int64 (VERDICT r4 #1).
        "o AS (SELECT doc_id, n_tok, CAST(sum(n_tok) OVER "
        "(ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) "
        "AS tok_start FROM t) "
        "SELECT doc_id, n_tok, tok_start, tok_start // 128 AS seq_id, "
        "tok_start % 128 AS seq_offset, "
        "CAST(((tok_start + greatest(n_tok - 1, 0)) // 128) <> "
        "tok_start // 128 AS BIGINT) AS spans_cut "
        "FROM o ORDER BY doc_id",
    ),
    "pack_greedy_stats": QueryDef(
        q_pack_greedy_stats, _PACK_GREEDY_STATS_ORACLE
    ),
    "kmeans_assign": QueryDef(
        q_kmeans_assign,
        # left-fold from 0.0 in index order = Spark's F.aggregate —
        # list_reduce folds left, list_prepend supplies the 0.0 init
        "WITH e AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
        "c AS (SELECT vec_id AS cid, v AS cv FROM e "
        "WHERE vec_id IN (0,1,2,3)), "
        "d AS (SELECT e.vec_id, c.cid, list_reduce(list_prepend(0.0, "
        "list_transform(range(1, len(e.v)+1), "
        "i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))), "
        "(acc,x) -> acc+x) AS dist2 FROM e CROSS JOIN c), "
        "a AS (SELECT vec_id, cid, dist2, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM d) "
        "SELECT CAST(cid AS BIGINT) AS cluster, count(*) AS n, "
        "round(avg(dist2), 6) AS avg_dist2 "
        "FROM a WHERE rn = 1 GROUP BY cid ORDER BY cid",
    ),
    "cluster_balanced_sample": QueryDef(
        q_cluster_balanced_sample,
        "WITH r AS (SELECT vec_id, label, row_number() OVER "
        "(PARTITION BY label ORDER BY "
        "md5(CAST(label AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR)), "
        "vec_id) AS rn FROM embeddings) "
        "SELECT vec_id, CAST(label AS BIGINT) AS label FROM r "
        "WHERE rn <= 20 ORDER BY vec_id",
    ),
    "merge_changelog": QueryDef(
        q_merge_changelog,
        "WITH base AS (SELECT c_custkey AS k, round(c_acctbal, 2) AS bal, "
        "CAST(NULL AS BIGINT) AS seq, 'U' AS op, 0 AS pri FROM customer), "
        "ch AS (SELECT o_custkey AS k, round(sum(o_totalprice), 2) AS bal, "
        "CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS seq, "
        "CASE WHEN o_custkey % 10 = 0 THEN 'D' ELSE 'U' END AS op, 1 AS pri "
        "FROM orders GROUP BY o_custkey), "
        "u AS (SELECT * FROM base UNION ALL SELECT * FROM ch), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY k "
        "ORDER BY seq DESC NULLS LAST, pri DESC) AS rn FROM u) "
        "SELECT k, bal FROM r WHERE rn = 1 AND op <> 'D' ORDER BY k",
    ),
    "profile_events": QueryDef(q_profile_events, _duck_profile_oracle()),
    "expectations": QueryDef(
        q_expectations,
        "SELECT 'not_null(event_id)' AS rule, CAST((SELECT count(*) "
        "FROM events WHERE event_id IS NULL) AS BIGINT) AS n_violations "
        "UNION ALL SELECT "
        "'accepted_values(event_type,[click,view,purchase,signup])', "
        "(SELECT count(*) FROM events WHERE event_type IS NOT NULL AND "
        "event_type NOT IN ('click','view','purchase','signup')) "
        "UNION ALL SELECT 'in_range(value,0,500)', "
        "(SELECT count(*) FROM events WHERE value IS NOT NULL AND "
        "(value < 0 OR value > 500)) "
        "UNION ALL SELECT 'matches(props,^\\{.*\\}$)', "
        "(SELECT count(*) FROM events WHERE props IS NOT NULL AND "
        "NOT regexp_matches(props, '^\\{.*\\}$')) "
        "UNION ALL SELECT 'unique(event_id)', "
        "(SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) FROM "
        "(SELECT count(*) AS n FROM events GROUP BY event_id "
        "HAVING count(*) > 1)) "
        "UNION ALL SELECT 'references(l_orderkey)', "
        "(SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL "
        "AND NOT EXISTS (SELECT 1 FROM orders o "
        "WHERE o.o_orderkey = l.l_orderkey)) "
        "ORDER BY rule",
    ),
    "nearest_join": QueryDef(
        q_nearest_join,
        "WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t "
        "FROM events WHERE event_type = 'purchase'), "
        "c AS (SELECT user_id, epoch_us(ts) AS ts_us, "
        "min(event_id) AS click_id FROM events "
        "WHERE event_type = 'click' GROUP BY user_id, epoch_us(ts)), "
        "j AS (SELECT p.event_id, p.user_id, p.t, c.ts_us, c.click_id, "
        "abs(p.t - c.ts_us) AS d FROM p JOIN c USING (user_id)), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY event_id "
        "ORDER BY d, ts_us) AS rn FROM j) "
        "SELECT event_id, user_id, t, ts_us AS nearest_ts, click_id "
        "FROM r WHERE rn = 1 ORDER BY event_id",
    ),
    "event_transitions": QueryDef(
        q_event_transitions,
        "WITH t AS (SELECT lag(event_type) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id) AS prev, event_type AS next FROM events) "
        "SELECT prev, next, count(*) AS n FROM t WHERE prev IS NOT NULL "
        "GROUP BY prev, next ORDER BY prev, next",
    ),
    "embedding_covariance": QueryDef(
        q_embedding_covariance,
        # two unnests in one SELECT zip positionally in DuckDB; 1-based
        # subscripts shifted to the Spark side's 0-based indices
        "WITH x AS (SELECT vec_id, unnest(embedding) AS v, "
        "generate_subscripts(embedding, 1) AS i FROM embeddings) "
        "SELECT CAST(a.i - 1 AS BIGINT) AS i, CAST(b.i - 1 AS BIGINT) AS j, "
        "round(covar_samp(a.v, b.v), 6) + 0.0 AS cov "
        "FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i "
        "GROUP BY 1, 2 ORDER BY 1, 2",
    ),
    "pca_project": QueryDef(q_pca_project, _pca_pinned_oracle(8)),
    "funnel_conversion": QueryDef(
        q_funnel_conversion,
        "WITH s1 AS (SELECT user_id, min(ts) AS t FROM events "
        "WHERE event_type = 'signup' GROUP BY user_id), "
        "s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
        "JOIN s1 USING (user_id) WHERE e.event_type = 'click' "
        "AND e.ts >= s1.t GROUP BY e.user_id), "
        "s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
        "JOIN s2 USING (user_id) WHERE e.event_type = 'purchase' "
        "AND e.ts >= s2.t GROUP BY e.user_id) "
        "SELECT * FROM ("
        "SELECT CAST(1 AS BIGINT) AS step_idx, 'signup' AS step, "
        "CAST((SELECT count(*) FROM s1) AS BIGINT) AS users "
        "UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2) "
        "UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)"
        ") ORDER BY step_idx",
    ),
    "cohort_retention": QueryDef(
        q_cohort_retention,
        "WITH f AS (SELECT user_id, "
        "CAST(date_trunc('week', min(ts)) AS DATE) AS cw "
        "FROM events GROUP BY user_id) "
        "SELECT cw AS cohort_week, "
        "CAST(date_diff('day', cw, CAST(date_trunc('week', e.ts) AS DATE)) "
        "// 7 AS BIGINT) AS week_offset, "
        "count(DISTINCT e.user_id) AS users "
        "FROM events e JOIN f USING (user_id) "
        "GROUP BY 1, 2 ORDER BY 1, 2",
    ),
    "value_percentiles": QueryDef(
        q_value_percentiles,
        "SELECT event_type, "
        "round(quantile_cont(value, 0.5), 6) AS p50, "
        "round(quantile_cont(value, 0.9), 6) AS p90, "
        "round(quantile_cont(value, 0.99), 6) AS p99 "
        "FROM events GROUP BY event_type ORDER BY event_type",
    ),
    "chunk_docs": QueryDef(
        q_chunk_docs,
        # stride 150 = 200-char chunks with 50-char overlap; identical
        # integer chunk-count arithmetic on both engines
        "WITH c AS (SELECT doc_id, text FROM documents WHERE len(text) > 0), "
        "x AS (SELECT doc_id, text, "
        "unnest(range(0, (greatest(len(text) - 50, 1) + 149) // 150)) "
        "AS chunk_idx FROM c) "
        "SELECT doc_id, chunk_idx, chunk_idx * 150 AS chunk_start, "
        "substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200) AS chunk_text "
        "FROM x ORDER BY doc_id, chunk_idx",
    ),
    "vocab_top100": QueryDef(
        q_vocab_top100,
        f"WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS token "
        "FROM documents) "
        "SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df "
        "FROM toks GROUP BY token ORDER BY tf DESC, token LIMIT 100",
    ),
    "lm_bigram_score": QueryDef(q_lm_bigram_score, _duck_lm_bigram_oracle()),
    "dedup_survivors": QueryDef(q_dedup_survivors, _duck_survivors_oracle()),
    "mixture_temperature": QueryDef(
        q_mixture_temperature, _duck_mixture_oracle()
    ),
}

# ----------------------------------------------------------------------
# Round-3 second-wave additions: retrieval, linkage, substring dedup,
# KNN graph, tokenizer/collocation stats, PageRank, TPC-H-shape extras
# ----------------------------------------------------------------------


def q_retrieval_bm25(spark, sf_dir):
    """BM25 top-10 for a 3-term keyword query (retrieval.bm25_topk):
    one corpus scan, query-term filter before the aggregation, idf
    table broadcast back. Oracle recomputes the identical Lucene-style
    formula in SQL; score rounded to 6 dp before the deterministic
    (score desc, doc_id) cut on both engines."""
    from inception_eventstore_spark.operators import retrieval as RT

    docs = _t(spark, sf_dir, "documents")
    return RT.bm25_topk(docs, ["spark", "merge", "window"], k=10)


def _bm25_oracle() -> str:
    return f"""
WITH k AS (SELECT CAST(1.2 AS DOUBLE) AS k1, CAST(0.75 AS DOUBLE) AS b),
toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
st AS (SELECT count(*) AS n, sum(len(tk)) AS sdl FROM toks),
ex AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS token FROM toks),
tf AS (
  SELECT doc_id, token, count(*) AS tf, any_value(dl) AS dl
  FROM ex WHERE token IN ('merge', 'spark', 'window')
  GROUP BY doc_id, token),
idf AS (
  SELECT token,
    ln(1.0 + ((SELECT CAST(n AS DOUBLE) FROM st) - count(DISTINCT doc_id) + 0.5)
             / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf GROUP BY token),
sc AS (
  SELECT doc_id,
    round(sum(idf * (tf * (k.k1 + 1.0))
              / (tf + k.k1 * ((1.0 - k.b)
                 + k.b * dl / ((SELECT CAST(sdl AS DOUBLE) FROM st)
                               / (SELECT n FROM st))))), 6) AS score
  FROM tf JOIN idf USING (token), k GROUP BY doc_id)
SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 10
"""


def q_fuzzy_join_names(spark, sf_dir):
    """Record linkage: customer names vs deterministically-corrupted
    variants (one char deleted at position custkey%15+2), all pairs
    within levenshtein <= 1 via lossless deletion-neighborhood
    blocking. Oracle is the brute-force cross join — the blocked join
    must recover EXACTLY the same pair set."""
    from inception_eventstore_spark.operators import linkage as LK

    cust = _t(spark, sf_dir, "customer")
    left = cust.select(
        F.col("c_custkey").alias("lid"), F.col("c_name").alias("lname")
    )
    pos = (F.col("c_custkey") % 15 + 2).cast("int")
    right = cust.select(
        F.col("c_custkey").alias("rid"),
        F.concat(
            F.col("c_name").substr(F.lit(1), pos - 1),
            F.col("c_name").substr(pos + 1, F.length("c_name")),
        ).alias("rname"),
    )
    return LK.fuzzy_join(
        left, right, "lname", "rname", left_id="lid", right_id="rid"
    ).select("left_id", "right_id", "dist")


_FUZZY_ORACLE = """
WITH L AS (SELECT c_custkey AS left_id, c_name AS lname FROM customer),
R AS (SELECT c_custkey AS right_id,
  substr(c_name, 1, CAST(c_custkey % 15 + 2 AS INT) - 1)
  || substr(c_name, CAST(c_custkey % 15 + 2 AS INT) + 1, len(c_name))
  AS rname FROM customer)
SELECT left_id, right_id, CAST(levenshtein(lname, rname) AS BIGINT) AS dist
FROM L, R WHERE levenshtein(lname, rname) <= 1
"""


def q_dedup_substring_spans(spark, sf_dir):
    """ExactSubstr-style duplicated-span marking (min 30 chars):
    gram-hash window + per-doc islands. Oracle replays the identical
    position algebra on the gram STRINGS (the Spark side shuffles
    8-byte xxhash64 keys instead — same result short of a 2^-64
    collision)."""
    docs = _t(spark, sf_dir, "documents")
    spans = D.duplicate_substring_spans(docs, min_len=30)
    return spans.select(
        "doc_id",
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        F.col("span_len").cast("bigint").alias("span_len"),
    )


_SUBSTR_SPANS_ORACLE = """
WITH pos AS (
  SELECT doc_id, u.p AS pos, u.g AS gram FROM (
    SELECT doc_id,
      unnest([{'p': i, 'g': substr(text, CAST(i AS INT), 30)}
              for i in generate_series(1, len(text) - 29)]) AS u
    FROM documents WHERE len(text) >= 30)),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS c FROM pos)
  WHERE c >= 2),
flags AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos)
      OVER (PARTITION BY doc_id ORDER BY pos) > 29 THEN 1 ELSE 0 END AS f
  FROM dup),
isl AS (
  SELECT doc_id, pos,
    sum(f) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS g
  FROM flags)
SELECT doc_id, min(pos) AS span_start, max(pos) + 29 AS span_end,
  max(pos) + 29 - min(pos) + 1 AS span_len
FROM isl GROUP BY doc_id, g
"""


def q_knn_graph(spark, sf_dir):
    """Exact 3-NN graph over all embeddings via the block-pair cogroup
    dataflow (similarity.knn_graph) — oracle is the brute-force
    all-pairs window; both sides compute the expanded-form L2."""
    emb = _t(spark, sf_dir, "embeddings")
    res = S.knn_graph(emb, k=3, n_blocks=4)
    return res.select("src", "rank", "dst", F.round("dist", 6).alias("dist"))


_KNN_ORACLE = """
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
d AS (SELECT a.vec_id AS src, b.vec_id AS dst,
  sqrt(greatest(list_inner_product(a.ev, a.ev)
    - 2 * list_inner_product(a.ev, b.ev)
    + list_inner_product(b.ev, b.ev), 0)) AS dist
  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY src ORDER BY dist, dst)
  AS rank FROM d)
SELECT src, CAST(rank AS BIGINT) AS rank, dst, round(dist, 6) AS dist
FROM r WHERE rank <= 3
"""


def q_bpe_pair_counts(spark, sf_dir):
    """One BPE training iteration: top-50 weighted adjacent-symbol
    pairs over the word-frequency vocabulary (lm.bpe_pair_counts)."""
    from inception_eventstore_spark.operators import lm as LM

    docs = _t(spark, sf_dir, "documents")
    return LM.bpe_pair_counts(docs, top_n=50)


_BPE_ORACLE = f"""
WITH vocab AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest({_DUCK_TOKENS}) AS w FROM documents) GROUP BY w),
syms AS (
  SELECT freq, list_append(string_split(w, ''), '</w>') AS s FROM vocab),
pairs AS (
  SELECT freq, u.a AS sym_a, u.b AS sym_b FROM (
    SELECT freq,
      unnest([{{'a': s[CAST(i AS INT)], 'b': s[CAST(i AS INT) + 1]}}
              for i in generate_series(1, len(s) - 1)]) AS u
    FROM syms))
SELECT sym_a, sym_b, CAST(sum(freq) AS BIGINT) AS pair_count
FROM pairs GROUP BY sym_a, sym_b
ORDER BY pair_count DESC, sym_a, sym_b LIMIT 50
"""


def q_pmi_collocations(spark, sf_dir):
    """Top-100 adjacent-pair PMI collocations, min pair count 5
    (lm.pmi_collocations); margins re-aggregated from the pair table,
    identical ln arithmetic in the oracle."""
    from inception_eventstore_spark.operators import lm as LM

    docs = _t(spark, sf_dir, "documents")
    return LM.pmi_collocations(docs, min_pair_count=5, top_n=100)


_PMI_ORACLE = f"""
WITH t AS (
  SELECT doc_id, tk FROM (
    SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents)
  WHERE len(tk) >= 2),
bg AS (
  SELECT u.a AS tok_a, u.b AS tok_b FROM (
    SELECT unnest([{{'a': tk[CAST(i AS INT)], 'b': tk[CAST(i AS INT) + 1]}}
                   for i in generate_series(1, len(tk) - 1)]) AS u
    FROM t)),
pairs AS (SELECT tok_a, tok_b, count(*) AS pair_count FROM bg GROUP BY 1, 2),
tot AS (SELECT CAST(sum(pair_count) AS DOUBLE) AS t FROM pairs),
la AS (SELECT tok_a AS a, sum(pair_count) AS c_a FROM pairs GROUP BY 1),
rb AS (SELECT tok_b AS b, sum(pair_count) AS c_b FROM pairs GROUP BY 1)
SELECT tok_a, tok_b, CAST(pair_count AS BIGINT) AS pair_count,
  round(ln(CAST(pair_count AS DOUBLE) * (SELECT t FROM tot)
           / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))), 6) AS pmi
FROM pairs JOIN la ON tok_a = a JOIN rb ON tok_b = b
WHERE pair_count >= 5
ORDER BY pmi DESC, tok_a, tok_b LIMIT 100
"""


def q_pagerank_custsupp(spark, sf_dir):
    """3-iteration PageRank over the customer↔supplier purchase graph
    (graph.pagerank): each lineitem contributes both edge directions;
    node ids disambiguated as 2·custkey / 2·suppkey+1. Oracle unrolls
    the identical recurrence; rank rounded to 9 dp (values are O(1/N),
    and 1e-9 is still ~7 orders above double partial-sum jitter)."""
    from inception_eventstore_spark.operators import graph as G

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("cn"),
        (F.col("l_suppkey") * 2 + 1).alias("sn"),
    )
    # both directions from ONE join scan (a unionAll of two selects
    # over j would execute the lineitem⋈orders join twice)
    edges = j.select(
        F.explode(
            F.array(
                F.struct(F.col("cn").alias("src"), F.col("sn").alias("dst")),
                F.struct(F.col("sn").alias("src"), F.col("cn").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    pr = G.pagerank(edges, iterations=3)
    return pr.select("node", F.round("rank", 9).alias("rank"))


def _pagerank_oracle() -> str:
    head = """
WITH e AS (
  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  UNION ALL
  SELECT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
nodes AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM c) AS rank
       FROM nodes)"""
    step = """,
i{it} AS (
  SELECT e.dst AS node, sum(r{prev}.rank / deg.outdeg) AS m
  FROM e JOIN r{prev} ON e.src = r{prev}.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst),
r{it} AS (
  SELECT nodes.node,
    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM c)
    + CAST(0.85 AS DOUBLE) * coalesce(m, CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes LEFT JOIN i{it} ON nodes.node = i{it}.node)"""
    body = head + "".join(
        step.format(it=i, prev=i - 1) for i in (1, 2, 3)
    )
    return body + "\nSELECT node, round(rank, 9) AS rank FROM r3"


def q_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: tight multi-predicate scan-agg — every filter
    pushes to parquet, answer is one partial-aggregated row."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 6
            ).alias("revenue"),
        )
    )


def q_q12_priority_lines(spark, sf_dir):
    """TPC-H Q12 shape: join + CASE-conditional counts per group."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13: outer-join count distribution (customers per order
    count, including zero-order customers)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_q19_or_pushdown(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    ranges across a join — exercises OR predicate planning."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(cond).agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
        ).alias("revenue"),
    )


def q_q22_acctbal_antijoin(spark, sf_dir):
    """TPC-H Q22 shape: scalar-subquery threshold (broadcast single-row
    join) + NOT EXISTS anti-join, grouped by nation. The anti-join side
    is restricted to URGENT orders so the result is non-vacuous on the
    synthetic data (every customer has SOME order)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    thr = c.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("thr")
    )
    return (
        c.join(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("thr"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").cast("bigint").alias("c_nationkey"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


QUERIES.update({
    "retrieval_bm25": QueryDef(q_retrieval_bm25, _bm25_oracle()),
    "fuzzy_join_names": QueryDef(q_fuzzy_join_names, _FUZZY_ORACLE),
    "dedup_substring_spans": QueryDef(
        q_dedup_substring_spans, _SUBSTR_SPANS_ORACLE
    ),
    "knn_graph": QueryDef(q_knn_graph, _KNN_ORACLE),
    "bpe_pair_counts": QueryDef(q_bpe_pair_counts, _BPE_ORACLE),
    "pmi_collocations": QueryDef(q_pmi_collocations, _PMI_ORACLE),
    "pagerank_custsupp": QueryDef(q_pagerank_custsupp, _pagerank_oracle()),
    "q6_forecast_revenue": QueryDef(
        q_q6_forecast_revenue,
        "SELECT count(*) AS n, "
        "round(sum(l_extendedprice * l_discount), 6) AS revenue "
        "FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-01-01' "
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24",
    ),
    "q12_priority_lines": QueryDef(
        q_q12_priority_lines,
        "SELECT l_returnflag, "
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
        "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') "
        "THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-01-01' "
        "GROUP BY l_returnflag ORDER BY l_returnflag",
    ),
    "q13_customer_distribution": QueryDef(
        q_q13_customer_distribution,
        "SELECT c_count, count(*) AS custdist FROM ("
        "SELECT c_custkey, count(o_orderkey) AS c_count "
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
        "GROUP BY c_custkey) GROUP BY c_count "
        "ORDER BY custdist DESC, c_count DESC",
    ),
    "q19_or_pushdown": QueryDef(
        q_q19_or_pushdown,
        "SELECT count(*) AS n, "
        "round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 "
        "       AND l_quantity BETWEEN 1 AND 11) "
        "   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 "
        "       AND l_quantity BETWEEN 10 AND 20) "
        "   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 "
        "       AND l_quantity BETWEEN 20 AND 30)",
    ),
    "q22_acctbal_antijoin": QueryDef(
        q_q22_acctbal_antijoin,
        "SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, "
        "count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal "
        "FROM customer "
        "WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer "
        "                   WHERE c_acctbal > 0.0) "
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        "                AND o_orderpriority = '1-URGENT') "
        "GROUP BY c_nationkey ORDER BY c_nationkey",
    ),
})


def q_rolling_anomalies(spark, sf_dir):
    """Trailing-window z-score anomaly detection per user
    (timeseries.zscore_anomalies): one window shuffle evaluates
    count/avg/stddev over the same 20-row trailing frame; filter on the
    UNROUNDED z both sides, round only in the projection."""
    from inception_eventstore_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    res = TS.zscore_anomalies(
        ev, window=20, min_history=5, threshold=2.0
    )
    return res.select(
        "event_id",
        "user_id",
        F.col("seq").cast("bigint").alias("seq"),
        F.round("zscore", 6).alias("zscore"),
    )


_ROLLING_ORACLE = """
WITH r AS (
  SELECT event_id, user_id, value,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
    count(value) OVER f AS roll_n,
    avg(value) OVER f AS roll_avg,
    stddev_samp(value) OVER f AS roll_std
  FROM events
  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
SELECT event_id, user_id, CAST(seq AS BIGINT) AS seq,
  round((value - roll_avg) / roll_std, 6) AS zscore
FROM r
WHERE roll_n >= 5 AND roll_std > 0
  AND abs((value - roll_avg) / roll_std) >= 2.0
"""


def q_zorder_cells(spark, sf_dir):
    """Morton z-value cell histogram over (user_id%16, event_id%16)
    (zorder.interleave_bits) — certifies the exact bit-interleaving
    arithmetic the z-order layout writer clusters files by; the oracle
    expands the identical shift/mask algebra as integer div/mod."""
    from inception_eventstore_spark.sources import zorder as ZO

    ev = _t(spark, sf_dir, "events")
    z = ZO.interleave_bits(
        [F.col("user_id") % 16, F.col("event_id") % 16], bits=4
    )
    return (
        ev.select(z.alias("z"))
        .groupBy("z")
        .agg(F.count("*").alias("n"))
        .orderBy("z")
    )


def _zorder_oracle() -> str:
    terms = []
    for j, c in enumerate(("user_id % 16", "event_id % 16")):
        for i in range(4):
            terms.append(
                f"(({c}) // {1 << i}) % 2 * {1 << (i * 2 + j)}"
            )
    expr = " + ".join(terms)
    return (
        f"SELECT CAST({expr} AS BIGINT) AS z, count(*) AS n "
        "FROM events GROUP BY z ORDER BY z"
    )


QUERIES.update({
    "rolling_anomalies": QueryDef(q_rolling_anomalies, _ROLLING_ORACLE),
    "zorder_cells": QueryDef(q_zorder_cells, _zorder_oracle()),
})


# Property-index lookups: built once per (sf_dir, process) like the ANN
# indexes; bench.py prebuilds and reports the build separately.
_PROP_INDEX_DIRS: dict[str, str] = {}


def prebuild_prop_index(spark, sf_dir) -> float:
    """Build + persist the props.k index for ``sf_dir`` (idempotent per
    process). Returns build seconds (0.0 when already built)."""
    import tempfile
    import time as _time

    from inception_eventstore_spark.operators.prop_index import PropertyIndex

    if sf_dir in _PROP_INDEX_DIRS:
        return 0.0
    ev = _t(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="propidx_")
    t0 = _time.time()
    PropertyIndex.build(
        spark,
        ev,
        F.get_json_object("props", "$.k").cast("long"),
        ["event_id"],
        d,
    )
    _PROP_INDEX_DIRS[sf_dir] = d
    return round(_time.time() - t0, 3)


def q_props_index_lookup(spark, sf_dir):
    """Point query on a PAYLOAD property via the generalized secondary
    index (operators/prop_index.py): bucket-pruned index scan → semi-
    join of the log — the reference's index-record → point-lookup loop
    (IndexByEventTypeStore.cs:125-170) over an arbitrary JSON field.
    The oracle answers the same question with a direct scan, so the
    hash match proves index path ≡ scan path."""
    from inception_eventstore_spark.operators.prop_index import PropertyIndex

    ev = _t(spark, sf_dir, "events")
    prebuild_prop_index(spark, sf_dir)
    idx = PropertyIndex(spark, _PROP_INDEX_DIRS[sf_dir], ["event_id"])
    return idx.probe(ev, 69).select("event_id", "user_id", "event_type")


QUERIES.update({
    "props_index_lookup": QueryDef(
        q_props_index_lookup,
        "SELECT event_id, user_id, event_type FROM events "
        "WHERE CAST(props->>'$.k' AS BIGINT) = 69",
    ),
})


def q_basket_lift(spark, sf_dir):
    """Top-100 co-purchased part pairs by lift (operators/basket.py):
    basket self-join + margin joins, integer-only filtering before the
    6 dp rounding, (lift desc, items) deterministic cut."""
    from inception_eventstore_spark.operators.basket import association_rules

    li = _t(spark, sf_dir, "lineitem")
    rules = association_rules(
        li, basket_col="l_orderkey", item_col="l_partkey", min_pair_count=2
    )
    return rules.orderBy(
        F.col("lift").desc(), "item_a", "item_b"
    ).limit(100)


_BASKET_ORACLE = """
WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
sz AS (SELECT bk FROM b GROUP BY bk HAVING count(*) <= 1000),
bb AS (SELECT b.bk, b.it FROM b JOIN sz USING (bk)),
nn AS (SELECT CAST(count(DISTINCT bk) AS DOUBLE) AS n FROM bb),
ic AS (SELECT it, count(*) AS c FROM bb GROUP BY it),
p AS (
  SELECT a.it AS item_a, b2.it AS item_b, count(*) AS pc
  FROM bb a JOIN bb b2 ON a.bk = b2.bk AND a.it < b2.it
  GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT item_a, item_b, CAST(pc AS BIGINT) AS pair_count,
  round(pc / (SELECT n FROM nn), 6) AS support,
  round(CAST(pc AS DOUBLE) * (SELECT n FROM nn)
        / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)), 6) AS lift,
  round(pc / CAST(ca.c AS DOUBLE), 6) AS conf_a_to_b,
  round(pc / CAST(cb.c AS DOUBLE), 6) AS conf_b_to_a
FROM p JOIN ic ca ON item_a = ca.it JOIN ic cb ON item_b = cb.it
ORDER BY lift DESC, item_a, item_b LIMIT 100
"""

QUERIES.update({
    "basket_lift": QueryDef(q_basket_lift, _BASKET_ORACLE),
})


def q_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (partsupp-free analog): per-part minimum offered
    price and the supplier(s) achieving it — correlated-min
    decorrelated into an aggregate + self-join back. All comparisons
    are on RAW stored doubles (min is order-independent), so the cut
    is engine-exact without rounding tricks."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    offer = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    best = offer.groupBy("l_partkey").agg(F.min("cost").alias("best_cost"))
    return (
        offer.join(best, "l_partkey")
        .where(F.col("cost") == F.col("best_cost"))
        .join(p, F.col("l_partkey") == p["p_partkey"])
        .where(F.col("p_size") == 15)
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.round("best_cost", 2).alias("best_cost"),
        )
        .orderBy("p_partkey", "s_name")
    )


def q_q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: parts whose inventory value exceeds a fraction
    of the TOTAL value (scalar-subquery threshold). Sums run in
    DECIMAL(18,2) so the > comparison is EXACT on both engines — a
    double sum's partial-order jitter could flip boundary parts."""
    li = _t(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    per_part = li.groupBy("l_partkey").agg(F.sum(dec).alias("value"))
    total = per_part.agg(
        (F.sum("value") * F.lit(0.0007).cast("decimal(10,6)")).alias("thr")
    )
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("value") > F.col("thr"))
        .select(
            "l_partkey", F.col("value").cast("double").alias("value")
        )
        .orderBy(F.col("value").desc(), "l_partkey")
    )


def q_q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue from small-quantity orders of selected
    parts — the correlated avg decorrelated into a per-part aggregate
    joined back. Quantities are integer-valued, so avg = exact_sum /
    count is engine-identical and the 0.2·avg comparison is stable."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    sel = li.join(
        p.where(F.col("p_brand") == "Brand#23").select("p_partkey"),
        li["l_partkey"] == F.col("p_partkey"),
    )
    avg_qty = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        sel.join(avg_qty, F.col("l_partkey") == F.col("_pk"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        )
    )


def q_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity exceeds 300 (HAVING
    over a join), with the customer attached. Quantity sums are
    integer-valued doubles — exact on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        big.join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


QUERIES.update({
    "q2_min_cost_supplier": QueryDef(
        q_q2_min_cost_supplier,
        "WITH offer AS (SELECT l_partkey, l_suppkey, "
        "min(l_extendedprice) AS cost FROM lineitem GROUP BY 1, 2), "
        "best AS (SELECT l_partkey, min(cost) AS best_cost FROM offer "
        "GROUP BY 1) "
        "SELECT p_partkey, p_name, s_name, round(best_cost, 2) AS best_cost "
        "FROM offer JOIN best USING (l_partkey) "
        "JOIN part ON l_partkey = p_partkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "WHERE cost = best_cost AND p_size = 15 "
        "ORDER BY p_partkey, s_name",
    ),
    "q11_important_parts": QueryDef(
        q_q11_important_parts,
        "WITH pp AS (SELECT l_partkey, "
        "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value "
        "FROM lineitem GROUP BY 1), "
        "t AS (SELECT sum(value) * CAST(0.0007 AS DECIMAL(10,6)) AS thr "
        "FROM pp) "
        "SELECT l_partkey, CAST(value AS DOUBLE) AS value FROM pp, t "
        "WHERE value > thr ORDER BY value DESC, l_partkey",
    ),
    "q17_small_qty_revenue": QueryDef(
        q_q17_small_qty_revenue,
        "SELECT count(*) AS n, "
        "round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly "
        "FROM lineitem l JOIN part ON l.l_partkey = p_partkey "
        "JOIN (SELECT l_partkey AS _pk, avg(l_quantity) AS avg_qty "
        "      FROM lineitem GROUP BY 1) a ON l.l_partkey = a._pk "
        "WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty",
    ),
    "q18_large_orders": QueryDef(
        q_q18_large_orders,
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, "
        "round(o_totalprice, 2) AS o_totalprice, "
        "round(total_qty, 2) AS total_qty "
        "FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty "
        "      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300) b "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    ),
})


_MATVIEW_DIRS: dict[str, str] = {}


def q_matview_orders(spark, sf_dir):
    """Incremental materialized view certified against the one-shot
    aggregate: orders fold in as THREE delta batches (split by
    o_orderkey % 3 — sources/matview.py partial-state algebra), the
    oracle recomputes the same view directly; sums run in
    DECIMAL(18,2) so partial folding is bit-exact."""
    import tempfile

    from inception_eventstore_spark.sources.matview import (
        IncrementalAggView,
        Measure,
    )

    o = _t(spark, sf_dir, "orders").withColumn(
        "_price", F.col("o_totalprice").cast("decimal(18,2)")
    )
    measures = [
        Measure("n", "count"),
        Measure("total", "sum", "_price"),
        Measure("pmin", "min", "_price"),
        Measure("pmax", "max", "_price"),
    ]
    if sf_dir not in _MATVIEW_DIRS:
        d = tempfile.mkdtemp(prefix="mv_orders_")
        mv = IncrementalAggView(spark, d, ["o_orderstatus"], measures)
        for i in range(3):
            mv.apply(o.where(F.col("o_orderkey") % 3 == i))
        _MATVIEW_DIRS[sf_dir] = d
    mv = IncrementalAggView(
        spark, _MATVIEW_DIRS[sf_dir], ["o_orderstatus"], measures
    )
    return mv.read().select(
        "o_orderstatus",
        "n",
        F.col("total").cast("double").alias("total"),
        F.col("pmin").cast("double").alias("pmin"),
        F.col("pmax").cast("double").alias("pmax"),
    ).orderBy("o_orderstatus")


def q_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) achieving the MAX period revenue.
    Revenue = round(sum(double), 2): each engine compares its own
    internally-consistent rounded totals, and per-row DECIMAL casts of
    double products are NOT cross-engine-portable (divergent rounding
    modes at half-cent products — see Q3)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                6,
            ).alias("total_revenue")
        )
    )
    best = rev.agg(F.max("total_revenue").alias("best"))
    return (
        rev.join(F.broadcast(best))
        .where(F.col("total_revenue") == F.col("best"))
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


QUERIES.update({
    "matview_orders": QueryDef(
        q_matview_orders,
        "SELECT o_orderstatus, count(*) AS n, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, "
        "CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS pmin, "
        "CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS pmax "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
    ),
    "q15_top_supplier": QueryDef(
        q_q15_top_supplier,
        "WITH rev AS (SELECT l_suppkey, "
        "round(sum(l_extendedprice * (1 - l_discount)), 6) "
        "AS total_revenue FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1) "
        "SELECT s_suppkey, s_name, total_revenue "
        "FROM rev JOIN supplier ON l_suppkey = s_suppkey "
        "WHERE total_revenue = (SELECT max(total_revenue) FROM rev) "
        "ORDER BY s_suppkey",
    ),
})


_DUCK_MD5_60 = (
    "CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"
)


def q_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch-1 training permutation of the corpus
    (sampling.epoch_shuffle_rank): global row_number over the portable
    md5 order — the oracle reproduces the identical permutation, so
    resumable-training order is verified rank-for-rank."""
    from inception_eventstore_spark.operators.sampling import (
        epoch_shuffle_rank,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle_rank(d, epoch=1).select("doc_id", "shuffle_rank")


def q_length_batches(spark, sf_dir):
    """Length-bucketed batch assignment (sampling.length_bucketed_
    batches) over document char lengths: bucket membership, epoch-keyed
    within-bucket order, dense bucket-major batch numbering — all
    integer/md5 arithmetic with an exact SQL twin."""
    from inception_eventstore_spark.operators.sampling import (
        length_bucketed_batches,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = length_bucketed_batches(
        d, "n_chars", batch_size=32, bucket_edges=(120, 160, 200),
        epoch=2, seed="lenbatch",
    )
    return out.select(
        "doc_id",
        F.col("len_bucket").cast("bigint").alias("len_bucket"),
        "batch_idx",
        "pos_in_batch",
    )


def _epoch_shuffle_oracle() -> str:
    h = _DUCK_MD5_60.format(expr="'shuffle:1:' || CAST(doc_id AS VARCHAR)")
    return (
        f"WITH k AS (SELECT doc_id, {h} AS hk FROM documents) "
        "SELECT doc_id, CAST(row_number() OVER (ORDER BY hk, doc_id) "
        "AS BIGINT) AS shuffle_rank FROM k"
    )


def _length_batches_oracle() -> str:
    h = _DUCK_MD5_60.format(expr="'lenbatch:2:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH r AS (
  SELECT doc_id,
    CASE WHEN n_chars <= 120 THEN 0 WHEN n_chars <= 160 THEN 1
         WHEN n_chars <= 200 THEN 2 ELSE 3 END AS len_bucket,
    {h} AS hk
  FROM documents),
rn AS (
  SELECT doc_id, len_bucket,
    row_number() OVER (PARTITION BY len_bucket ORDER BY hk, doc_id) - 1
      AS _rn
  FROM r),
cnt AS (SELECT len_bucket, count(*) AS n FROM rn GROUP BY 1),
off AS (
  SELECT len_bucket,
    coalesce(sum((n + 31) // 32) OVER (ORDER BY len_bucket
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _off
  FROM cnt)
SELECT rn.doc_id, CAST(rn.len_bucket AS BIGINT) AS len_bucket,
  CAST(_off + _rn // 32 AS BIGINT) AS batch_idx,
  CAST(_rn % 32 AS BIGINT) AS pos_in_batch
FROM rn JOIN off USING (len_bucket)
"""


QUERIES.update({
    "epoch_shuffle": QueryDef(q_epoch_shuffle, _epoch_shuffle_oracle()),
    "length_batches": QueryDef(q_length_batches, _length_batches_oracle()),
})


def q_knn_graph_lsh(spark, sf_dir):
    """Approximate (LSH-bucketed) 3-NN graph — the sublinear scale
    path of knn_graph: bucket-cogrouped numpy top-k within hamming-1
    multiprobe buckets. Value-oracled: the hyperplane family is
    seed-deterministic, so the oracle recomputes every signature from
    literal planes, regenerates the hamming-1 candidate pairs with the
    same probe equi-join shape, and replays the exact re-rank — the
    full approximate GRAPH is hash-checked, not just its recall (the
    pytest recall floor still pins quality vs the exact graph)."""
    emb = _t(spark, sf_dir, "embeddings")
    res = S.lsh_knn_graph(emb, k=3, n_planes=8, dim=64)
    return res.select(
        "src", "rank", "dst", F.round("dist", 6).alias("dist")
    )


def _knn_graph_lsh_oracle(n_planes: int = 8, dim: int = 64, seed: int = 7,
                          k: int = 3) -> str:
    from inception_eventstore_spark.operators.similarity import _plane_signs

    signs = _plane_signs(n_planes, dim, seed)
    sig = " + ".join(
        f"(CASE WHEN list_inner_product(ev, "
        f"[{', '.join(repr(float(s)) for s in signs[p])}]) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    flips = "[0, " + ", ".join(str(1 << p) for p in range(n_planes)) + "]"
    return f"""
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
s AS (SELECT vec_id, ev, CAST({sig} AS BIGINT) AS sig FROM v),
p AS (SELECT vec_id AS src,
    unnest(list_transform({flips}, f -> xor(sig, CAST(f AS BIGINT)))) AS b
  FROM s),
cand AS (SELECT DISTINCT p.src, c.vec_id AS dst
  FROM p JOIN s c ON p.b = c.sig WHERE p.src <> c.vec_id),
d AS (SELECT cand.src, cand.dst,
    sqrt(list_reduce(list_prepend(0.0,
      list_transform(range(1, len(a.ev) + 1),
        i -> (a.ev[i] - b2.ev[i]) * (a.ev[i] - b2.ev[i]))),
      (acc, x) -> acc + x)) AS dist
  FROM cand JOIN s a ON cand.src = a.vec_id
  JOIN s b2 ON cand.dst = b2.vec_id),
r AS (SELECT src, dst, dist, row_number() OVER (
  PARTITION BY src ORDER BY dist, dst) AS rank FROM d)
SELECT src, CAST(rank AS BIGINT) AS rank, dst, round(dist, 6) AS dist
FROM r WHERE rank <= {k}
"""


QUERIES.update({
    "knn_graph_lsh": QueryDef(q_knn_graph_lsh, _knn_graph_lsh_oracle()),
})


def q_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: segment filter → join → per-order revenue →
    top-10. Revenue = round(sum(double), 2) — per-order gaps are
    dollars, far above double-sum jitter, and per-row DECIMAL casts of
    double PRODUCTS are NOT portable (Spark HALF_UP vs DuckDB
    round-half-even diverge by a cent at half-cent products; raw
    2-dp column casts are safe, products are not)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1997-01-01 00:00:00").cast("timestamp")
    rev = (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .join(o, c["c_custkey"] == o["o_custkey"])
        .where(F.col("o_orderdate") < cutoff)
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .where(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                6,
            ).alias("revenue")
        )
    )
    return (
        rev.orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


def q_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: per-customer lost revenue from returned items
    in one quarter, top-20 — revenue rounded at the sum (see Q3 note:
    DECIMAL casts of double products are not cross-engine-portable)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    rev = (
        li.where(F.col("l_returnflag") == "R")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
        )
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                6,
            ).alias("revenue")
        )
    )
    return (
        rev.orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


QUERIES.update({
    "q3_shipping_priority": QueryDef(
        q_q3_shipping_priority,
        "WITH rev AS (SELECT l_orderkey, o_orderdate, "
        "round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1997-01-01' "
        "AND l_shipdate > TIMESTAMP '1997-01-01' "
        "GROUP BY l_orderkey, o_orderdate) "
        "SELECT l_orderkey, revenue, o_orderdate FROM rev "
        "ORDER BY revenue DESC, l_orderkey LIMIT 10",
    ),
    "q10_returned_items": QueryDef(
        q_q10_returned_items,
        "WITH rev AS (SELECT c_custkey, c_name, n_name, "
        "round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE l_returnflag = 'R' "
        "AND o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1996-07-01' "
        "GROUP BY c_custkey, c_name, n_name) "
        "SELECT c_custkey, c_name, n_name, revenue FROM rev "
        "ORDER BY revenue DESC, c_custkey LIMIT 20",
    ),
})


def q_retrieval_bm25_multi(spark, sf_dir):
    """Batch BM25: top-5 docs for each of three keyword queries in ONE
    corpus scan (retrieval.bm25_multi_topk — the serving shape; term
    universe broadcast, shared idf, per-query window cut)."""
    from inception_eventstore_spark.operators import retrieval as RT

    docs = _t(spark, sf_dir, "documents")
    qdf = local_df(
        spark,
        [
            (1, ["spark", "merge"]),
            (2, ["window", "key"]),
            (3, ["batch"]),
        ],
        "query_id long, terms array<string>",
    )
    return RT.bm25_multi_topk(docs, qdf, k=5)


def _bm25_multi_oracle() -> str:
    return f"""
WITH k AS (SELECT CAST(1.2 AS DOUBLE) AS k1, CAST(0.75 AS DOUBLE) AS b),
qs AS (SELECT * FROM (VALUES (1, 'spark'), (1, 'merge'),
                             (2, 'window'), (2, 'key'),
                             (3, 'batch')) AS t(query_id, token)),
toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
st AS (SELECT count(*) AS n, sum(len(tk)) AS sdl FROM toks),
ex AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS token FROM toks),
tf AS (
  SELECT doc_id, token, count(*) AS tf, any_value(dl) AS dl
  FROM ex WHERE token IN (SELECT token FROM qs)
  GROUP BY doc_id, token),
idf AS (
  SELECT token,
    ln(1.0 + ((SELECT CAST(n AS DOUBLE) FROM st) - count(DISTINCT doc_id) + 0.5)
             / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf GROUP BY token),
sc AS (
  SELECT query_id, doc_id,
    round(sum(idf * (tf * (k.k1 + 1.0))
              / (tf + k.k1 * ((1.0 - k.b)
                 + k.b * dl / ((SELECT CAST(sdl AS DOUBLE) FROM st)
                               / (SELECT n FROM st))))), 6) AS score
  FROM tf JOIN idf USING (token) JOIN qs USING (token), k
  GROUP BY query_id, doc_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id) AS rank FROM sc)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
FROM r WHERE rank <= 5
"""


QUERIES.update({
    "retrieval_bm25_multi": QueryDef(
        q_retrieval_bm25_multi, _bm25_multi_oracle()
    ),
})


def q_lm_stupid_backoff(spark, sf_dir):
    """Trigram stupid-backoff fluency per document (lm.stupid_backoff_
    score, self-scored corpus): the full count + CASE-backoff model has
    an exact SQL twin — every branch's arithmetic mirrored."""
    from inception_eventstore_spark.operators.lm import stupid_backoff_score

    docs = _t(spark, sf_dir, "documents")
    return stupid_backoff_score(docs)


def _stupid_backoff_oracle() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
tg AS (
  SELECT doc_id, u.a AS a, u.b AS b, u.c AS c FROM (
    SELECT doc_id,
      unnest([{{'a': tk[CAST(i AS INT)], 'b': tk[CAST(i AS INT) + 1],
                'c': tk[CAST(i AS INT) + 2]}}
              for i in generate_series(1, len(tk) - 2)]) AS u
    FROM toks WHERE len(tk) >= 3)),
bg AS (
  SELECT u.a AS a, u.b AS b FROM (
    SELECT unnest([{{'a': tk[CAST(i AS INT)], 'b': tk[CAST(i AS INT) + 1]}}
                   for i in generate_series(1, len(tk) - 1)]) AS u
    FROM toks WHERE len(tk) >= 2)),
c3 AS (SELECT a, b, c, count(*) AS n3 FROM tg GROUP BY 1, 2, 3),
c2 AS (SELECT a, b, count(*) AS n2 FROM bg GROUP BY 1, 2),
uni AS (SELECT t, count(*) AS n1 FROM (
  SELECT unnest(tk) AS t FROM toks) GROUP BY 1),
tot AS (SELECT CAST(sum(n1) + count(*) AS DOUBLE) AS tv FROM uni),
sc AS (
  SELECT tg.doc_id,
    CASE
      WHEN c3.n3 IS NOT NULL THEN CAST(c3.n3 AS DOUBLE) / ctx.n2
      WHEN rb.n2 IS NOT NULL THEN
        CAST(0.4 AS DOUBLE) * CAST(rb.n2 AS DOUBLE) / ub.n1
      ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
           * (CAST(coalesce(uc.n1, 0) AS DOUBLE) + 1.0)
           / (SELECT tv FROM tot)
    END AS s
  FROM tg
  LEFT JOIN c3 ON tg.a = c3.a AND tg.b = c3.b AND tg.c = c3.c
  LEFT JOIN c2 ctx ON tg.a = ctx.a AND tg.b = ctx.b
  LEFT JOIN c2 rb ON tg.b = rb.a AND tg.c = rb.b
  LEFT JOIN uni ub ON tg.b = ub.t
  LEFT JOIN uni uc ON tg.c = uc.t)
SELECT doc_id, count(*) AS n_trigrams, round(avg(ln(s)), 6) AS sb_score
FROM sc GROUP BY doc_id
"""


QUERIES.update({
    "lm_stupid_backoff": QueryDef(
        q_lm_stupid_backoff, _stupid_backoff_oracle()
    ),
})


def q_q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between supplier-nation /
    customer-nation pairs by ship year — two independent dimension
    joins onto the fact. Revenue rounds to 6 dp, NOT 2: discount
    products are exact 1e-4 multiples, so their sums constantly sit at
    half-cent boundaries where 2-dp rounding flips on 1-ulp partial-sum
    jitter (11 of 2090 groups here); at 6 dp every true value is 5e-7
    from the nearest boundary — far beyond the jitter."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("_cnk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n1, s["s_nationkey"] == F.col("_snk"))
        .join(n2, c["c_nationkey"] == F.col("_cnk"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                6,
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_q14_promo_share(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue share — conditional aggregate
    ratio; the ratio of two same-scan sums is rounded at 6 dp (jitter
    ~1e-13 relative, far under the rounding)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .where(
            (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_share")
        )
    )


def q_q16_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape: distinct suppliers able to furnish each
    (brand, type, size) combination — COUNT DISTINCT over a join,
    with an exclusion list."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .where(
            (F.col("p_brand") != "Brand#45")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 49)
        )
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


QUERIES.update({
    "q7_nation_volume": QueryDef(
        q_q7_nation_volume,
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        "CAST(year(l_shipdate) AS BIGINT) AS l_year, "
        "round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
        "WHERE n1.n_name < n2.n_name "
        "GROUP BY supp_nation, cust_nation, l_year "
        "ORDER BY supp_nation, cust_nation, l_year",
    ),
    "q14_promo_share": QueryDef(
        q_q14_promo_share,
        "SELECT round(100.0 * "
        "sum(CASE WHEN p_type = 'PROMO' "
        "    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) "
        "/ sum(l_extendedprice * (1 - l_discount)), 6) AS promo_share "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE l_shipdate >= TIMESTAMP '1996-03-01' "
        "AND l_shipdate < TIMESTAMP '1996-04-01'",
    ),
    "q16_supplier_counts": QueryDef(
        q_q16_supplier_counts,
        "SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size, "
        "count(DISTINCT l_suppkey) AS supplier_cnt "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO' "
        "AND p_size IN (1, 4, 9, 14, 19, 23, 36, 49) "
        "GROUP BY p_brand, p_type, p_size "
        "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size",
    ),
})

# ----------------------------------------------------------------------
# Round-4 additions: the six TPC-H query shapes still missing (Q4, Q5,
# Q8, Q9, Q20, Q21), completing all 22. The generated testdata carries
# no partsupp table and no commit/receipt dates, so Q9/Q20/Q21 keep the
# reference join SHAPE with the available columns: "supplycost" stands
# in as p_retailprice·quantity·0.1 and "late" as shipping > N days
# after the order date. Money sums round at 6 dp (CLAUDE.md many-group
# rule: discount/price products are exact 1e-6-grid multiples, so true
# sums sit ON the grid and 6 dp rounding is jitter-immune).
# ----------------------------------------------------------------------


def q_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: priority counts of 1996 orders having at least
    one LATE lineitem (shipped > 60 days after the order date) — the
    EXISTS realized as one left-semi join with a compound condition;
    both the date-window filter and the count partial-aggregate stay
    ahead of any wide exchange."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    win = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    late = win.join(
        li,
        (win["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > win["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_cnt"))
        .orderBy("o_orderpriority")
    )


def q_q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: revenue by nation where customer AND supplier
    sit in the same ASIA nation — the classic 6-table star join;
    region/nation/supplier/customer all broadcast, lineitem⋈orders is
    the only shuffle join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    asia_nations = n.join(
        F.broadcast(r.where(F.col("r_name") == "ASIA")),
        n["n_regionkey"] == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    return (
        li.join(
            o.where(
                (F.col("o_orderdate")
                 >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate")
                   < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            ),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(
            F.broadcast(asia_nations),
            s["s_nationkey"] == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                6,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def q_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: NATION_3's share of ECONOMY-part volume sold to
    ASIA customers, by order year — conditional aggregation over the
    same star join as Q5 plus the part filter; the share is a ratio of
    two partial-aggregated sums, rounded at 6 dp."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part")
    asia = n.join(
        F.broadcast(r.where(F.col("r_name") == "ASIA")),
        n["n_regionkey"] == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("_cn"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    supp_nat = s.join(
        n.select("n_nationkey", F.col("n_name").alias("_sname")),
        s["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "_sname")
    return (
        li.join(
            F.broadcast(
                p.where(F.col("p_type") == "ECONOMY").select("p_partkey")
            ),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(asia), c["c_nationkey"] == F.col("_cn"))
        .join(F.broadcast(supp_nat), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("_sname") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by (supplier nation, order year) over
    name-matched parts. No partsupp table in the testdata, so the
    supplycost term stands in as p_retailprice·l_quantity·0.1 — the
    5-table join tree and the double-subtraction aggregate are the
    shape under test. Both product terms live on the 1e-6 money grid,
    so the 6 dp rounding is exact cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.1)
    supp_nat = s.join(
        n.select("n_nationkey", F.col("n_name").alias("nation")),
        s["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    return (
        li.join(
            F.broadcast(
                p.where(F.col("p_name").like("%red%")).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .join(
            o.select("o_orderkey", "o_orderdate"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(F.broadcast(supp_nat), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy(
            "nation", F.year("o_orderdate").cast("bigint").alias("o_year")
        )
        .agg(F.round(F.sum(amount), 6).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def q_q20_excess_shippers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers who shipped more than 40 units of
    some 'small%' part during 1996 — the nested part-name semi-join
    feeding a per-(part, supplier) aggregate, whose qualifying
    suppliers semi-join back to the supplier dim (nation joined for the
    output, as Q20's s_name/s_address projection). Quantities are
    integers: the > threshold is exact on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    shipped = (
        li.where(
            (F.col("l_shipdate")
             >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate")
               < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(
            F.broadcast(
                p.where(F.col("p_name").like("small%")).select("p_partkey")
            ),
            li["l_partkey"] == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(shipped, s["s_suppkey"] == F.col("l_suppkey"), "left_semi")
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            s["s_nationkey"] == F.col("n_nationkey"),
        )
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


def q_q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: NATION_2 suppliers who were the ONLY late
    shipper on a finished multi-supplier order (late = shipped > 90
    days after the order date; the testdata has no receipt/commit
    dates). The correlated EXISTS / NOT-EXISTS pair is decorrelated
    into one per-order aggregate — distinct suppliers vs distinct LATE
    suppliers — computed once and joined back, the formulation both
    engines run identically."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    lo = li.join(
        o.where(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("_late"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_nsupp"),
        F.countDistinct(
            F.when(F.col("_late"), F.col("l_suppkey"))
        ).alias("_nlate"),
    )
    culprit = (
        lo.where(F.col("_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            per_order.where(
                (F.col("_nsupp") >= 2) & (F.col("_nlate") == 1)
            ),
            "l_orderkey",
        )
    )
    return (
        culprit.join(
            F.broadcast(
                s.join(
                    F.broadcast(n.where(F.col("n_name") == "NATION_2")),
                    s["s_nationkey"] == F.col("n_nationkey"),
                    "left_semi",
                ).select("s_suppkey", "s_name")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


QUERIES.update({
    "q4_order_priority": QueryDef(
        q_q4_order_priority,
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_cnt "
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-01-01' "
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
        "  AND l_shipdate > o_orderdate + INTERVAL 60 DAY) "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
    ),
    "q5_local_supplier_volume": QueryDef(
        q_q5_local_supplier_volume,
        "SELECT n_name, "
        "round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue "
        "FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "  AND c_nationkey = s_nationkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'ASIA' "
        "AND o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-01-01' "
        "GROUP BY n_name ORDER BY revenue DESC, n_name",
    ),
    "q8_market_share": QueryDef(
        q_q8_market_share,
        "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, "
        "round(sum(CASE WHEN sn.n_name = 'NATION_3' "
        "  THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) "
        "  / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share "
        "FROM lineitem "
        "JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY' "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation cn ON c_nationkey = cn.n_nationkey "
        "JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA' "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation sn ON s_nationkey = sn.n_nationkey "
        "GROUP BY 1 ORDER BY 1",
    ),
    "q9_product_profit": QueryDef(
        q_q9_product_profit,
        "SELECT sn.n_name AS nation, "
        "CAST(year(o_orderdate) AS BIGINT) AS o_year, "
        "round(sum(l_extendedprice * (1 - l_discount) "
        "  - p_retailprice * l_quantity * 0.1), 6) AS sum_profit "
        "FROM lineitem "
        "JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%' "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation sn ON s_nationkey = sn.n_nationkey "
        "GROUP BY 1, 2 ORDER BY nation, o_year DESC",
    ),
    "q20_excess_shippers": QueryDef(
        q_q20_excess_shippers,
        "SELECT s_name, n_name FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE s_suppkey IN ("
        "  SELECT l_suppkey FROM lineitem "
        "  WHERE l_partkey IN (SELECT p_partkey FROM part "
        "                      WHERE p_name LIKE 'small%') "
        "  AND l_shipdate >= TIMESTAMP '1996-01-01' "
        "  AND l_shipdate < TIMESTAMP '1997-01-01' "
        "  GROUP BY l_partkey, l_suppkey HAVING sum(l_quantity) > 40) "
        "ORDER BY s_name",
    ),
    "q21_waiting_suppliers": QueryDef(
        q_q21_waiting_suppliers,
        "WITH lo AS ("
        "  SELECT l_orderkey, l_suppkey, "
        "    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late "
        "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "  WHERE o_orderstatus = 'F'), "
        "po AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS nsupp, "
        "  count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nlate "
        "  FROM lo GROUP BY l_orderkey), "
        "culprit AS (SELECT DISTINCT lo.l_orderkey, l_suppkey FROM lo "
        "  JOIN po ON lo.l_orderkey = po.l_orderkey "
        "  WHERE late AND nsupp >= 2 AND nlate = 1) "
        "SELECT s_name, CAST(count(*) AS BIGINT) AS numwait "
        "FROM culprit "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_2' "
        "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100",
    ),
})


def q_text_entropy(spark, sf_dir):
    """Character-entropy quality signal (text.char_entropy): Shannon
    entropy of the per-doc character distribution + control/replacement
    char fractions — the mojibake/binary-garbage detector. One char
    explode + two partial aggs; fractions are pure length arithmetic.
    Oracle recomputes H = ln(n) − Σk·ln(k)/n from the identical
    formula."""
    from inception_eventstore_spark.operators.text import char_entropy

    docs = _t(spark, sf_dir, "documents")
    return char_entropy(docs).orderBy("doc_id")


QUERIES.update({
    "text_entropy": QueryDef(
        q_text_entropy,
        "WITH d AS (SELECT doc_id, text FROM documents WHERE len(text) > 0), "
        "cc AS (SELECT doc_id, c, count(*) AS k FROM ("
        "  SELECT doc_id, unnest(string_split(text, '')) AS c FROM d) "
        "  GROUP BY doc_id, c), "
        "ent AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_chars, "
        "  round(ln(sum(k)) - sum(k * ln(k)) / sum(k), 6) AS char_entropy "
        "  FROM cc GROUP BY doc_id), "
        "fr AS (SELECT doc_id, "
        "  round((len(text) - len(regexp_replace(text, "
        "    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g'))) "
        "    / CAST(len(text) AS DOUBLE), 6) AS ctrl_frac, "
        "  round((len(text) - len(replace(text, chr(65533), ''))) "
        "    / CAST(len(text) AS DOUBLE), 6) AS repl_frac FROM d) "
        "SELECT ent.doc_id, n_chars, char_entropy, ctrl_frac, repl_frac "
        "FROM ent JOIN fr ON ent.doc_id = fr.doc_id "
        "ORDER BY ent.doc_id",
    ),
})


# --- r4 second wave: graph analytics / EWMA / weighted sampling / PPMI ---

#: Shared oracle prefix — the exact 3-NN edge set over embeddings
#: (identical all-pairs ranking to _KNN_ORACLE) normalized to the
#: canonical undirected edge list `und(x, y)` and adjacency `nb(node,
#: nbr)` the graph-operator oracles read.
_KNN_EDGE_CTE = """
v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
dd AS (SELECT a.vec_id AS src, b.vec_id AS dst,
  sqrt(greatest(list_inner_product(a.ev, a.ev)
    - 2 * list_inner_product(a.ev, b.ev)
    + list_inner_product(b.ev, b.ev), 0)) AS dist
  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
rr AS (SELECT *, row_number() OVER (PARTITION BY src ORDER BY dist, dst)
  AS rank FROM dd),
e0 AS (SELECT src, dst FROM rr WHERE rank <= 3),
und AS (SELECT least(src, dst) AS x, greatest(src, dst) AS y
  FROM e0 WHERE src <> dst GROUP BY 1, 2),
nb AS (SELECT x AS node, y AS nbr FROM und
  UNION ALL SELECT y AS node, x AS nbr FROM und)
"""


def _knn_edges(spark, sf_dir):
    """Spark twin of _KNN_EDGE_CTE's e0: exact 3-NN directed edges via
    the block-pair cogroup kernel (similarity.knn_graph)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.knn_graph(emb, k=3, n_blocks=4).select("src", "dst")


def q_graph_lpa(spark, sf_dir):
    """3-iteration synchronous label propagation (graph.
    label_propagation) over the exact 3-NN embedding graph — community
    detection for semantic cluster dedup. Oracle unrolls the identical
    deterministic recurrence (most-frequent neighbor label, ties →
    smallest) three times over the same edge set."""
    from inception_eventstore_spark.operators import graph as G

    lbl = G.label_propagation(_knn_edges(spark, sf_dir), iterations=3)
    return lbl.orderBy("node")


def _lpa_oracle() -> str:
    steps = []
    prev = "l0"
    for i in (1, 2, 3):
        steps.append(
            f"v{i} AS (SELECT nb.node, {prev}.label, count(*) AS cnt "
            f"FROM nb JOIN {prev} ON nb.nbr = {prev}.node GROUP BY 1, 2), "
            f"l{i} AS (SELECT node, label FROM v{i} QUALIFY row_number() "
            f"OVER (PARTITION BY node ORDER BY cnt DESC, label) = 1)"
        )
        prev = f"l{i}"
    body = ", ".join(steps)
    return (
        f"WITH {_KNN_EDGE_CTE.strip()}, "
        "l0 AS (SELECT DISTINCT node, node AS label FROM nb), "
        f"{body} "
        "SELECT node, label FROM l3 ORDER BY node"
    )


def q_graph_triangles(spark, sf_dir):
    """Exact per-node triangle counts (graph.triangle_counts,
    degree-ordered orientation) over the 3-NN embedding graph; oracle
    enumerates each a<b<c triangle once from the canonical edge set —
    orientation-independent, so the id-ordered SQL and the
    degree-ordered Spark plan must agree row-for-row."""
    from inception_eventstore_spark.operators import graph as G

    return G.triangle_counts(_knn_edges(spark, sf_dir)).orderBy("node")


_TRIANGLES_ORACLE = f"""
WITH {_KNN_EDGE_CTE.strip()},
tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
  FROM und e1 JOIN und e2 ON e2.x = e1.y
  JOIN und e3 ON e3.x = e1.x AND e3.y = e2.y),
pn AS (SELECT unnest([a, b, c]) AS node FROM tri),
cnts AS (SELECT node, count(*) AS t FROM pn GROUP BY 1),
nodes AS (SELECT DISTINCT node FROM nb)
SELECT nodes.node, CAST(coalesce(t, 0) AS BIGINT) AS triangles
FROM nodes LEFT JOIN cnts ON nodes.node = cnts.node
ORDER BY nodes.node
"""


def q_graph_adamic_adar(spark, sf_dir):
    """Top-100 Adamic-Adar link-prediction scores for non-adjacent
    pairs of the 3-NN embedding graph (graph.adamic_adar) — candidate
    'missing edges' for cluster repair. Oracle recomputes the wedge
    join + Σ 1/ln(deg) with the same 6 dp rounding; the LIMIT cut is
    deterministic via (rounded score DESC, u, v)."""
    from inception_eventstore_spark.operators import graph as G

    return G.adamic_adar(_knn_edges(spark, sf_dir), top_n=100)


_ADAMIC_ADAR_ORACLE = f"""
WITH {_KNN_EDGE_CTE.strip()},
deg AS (SELECT node, count(*) AS d FROM nb GROUP BY 1),
wed AS (SELECT a.nbr AS u, b.nbr AS v, a.node AS w
  FROM nb a JOIN nb b ON a.node = b.node AND a.nbr < b.nbr),
sc AS (SELECT u, v, count(*) AS cn, sum(1.0 / ln(d)) AS aa
  FROM wed JOIN deg ON wed.w = deg.node GROUP BY u, v),
nonadj AS (SELECT sc.u, sc.v, sc.cn, sc.aa FROM sc
  WHERE NOT EXISTS (SELECT 1 FROM und
                    WHERE und.x = sc.u AND und.y = sc.v))
SELECT u, v, CAST(cn AS BIGINT) AS common_neighbors,
  round(aa, 6) AS adamic_adar
FROM nonadj
ORDER BY round(aa, 6) DESC, u, v LIMIT 100
"""


def q_ewma_events(spark, sf_dir):
    """Per-user 8-term truncated EWMA (α = 0.3) of event values
    (timeseries.ewma_smooth) — one window shuffle, all lags in one
    sort. The oracle writes the identical left-associated lag chain
    with the same python-repr coefficient literals, so the doubles
    agree bit-for-bit before the 6 dp round."""
    from inception_eventstore_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    out = TS.ewma_smooth(
        ev, key_col="user_id", order_cols=("ts", "event_id"),
        value_col="value", alpha=0.3, depth=8,
    )
    return out.select("event_id", "user_id", "ewma").orderBy("event_id")


def _ewma_oracle(alpha: float = 0.3, depth: int = 8) -> str:
    num, den = ["0.0"], ["0.0"]
    for j in range(depth):
        coef = repr(float((1.0 - alpha) ** j))
        x = f"lag(value, {j}) OVER w" if j else "value"
        num.append(f"coalesce(({x}) * {coef}, 0.0)")
        den.append(f"CASE WHEN ({x}) IS NOT NULL THEN {coef} ELSE 0.0 END")
    return (
        "SELECT event_id, user_id, "
        f"CASE WHEN ({' + '.join(den)}) > 0 THEN "
        f"round(({' + '.join(num)}) / ({' + '.join(den)}), 6) END AS ewma "
        "FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) "
        "ORDER BY event_id"
    )


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sample without replacement: 100 documents
    drawn ∝ n_chars via Efraimidis-Spirakis md5-keys
    (sampling.weighted_sample); the oracle re-derives every key from
    the same md5 arithmetic, so the selected set is identical."""
    from inception_eventstore_spark.operators import sampling as SA

    docs = _t(spark, sf_dir, "documents")
    out = SA.weighted_sample(docs, "n_chars", k=100, id_col="doc_id")
    return out.select("doc_id", "n_chars", "sample_key")


_WEIGHTED_SAMPLE_ORACLE = """
WITH keyed AS (
  SELECT doc_id, n_chars,
    ln((CAST(('0x' || substring(md5('v1:' || CAST(doc_id AS VARCHAR)),
              1, 15)) AS BIGINT) * 1.0 + 0.5)
       / 1152921504606846976.0)
    / CAST(n_chars AS DOUBLE) AS raw_key
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
SELECT doc_id, n_chars, round(raw_key, 6) AS sample_key FROM keyed
ORDER BY round(raw_key, 12) DESC, doc_id LIMIT 100
"""


def q_skipgram_ppmi(spark, sf_dir):
    """Top-100 positive-PMI skip-gram co-occurrences, window ±2, min
    pair count 5 (lm.skipgram_ppmi) — the SGNS/word2vec count
    statistic. Margins derive from the pair table on both sides."""
    from inception_eventstore_spark.operators import lm as LM

    docs = _t(spark, sf_dir, "documents")
    return LM.skipgram_ppmi(
        docs, window=2, min_pair_count=5, top_n=100
    )


_SKIPGRAM_PPMI_ORACLE = f"""
WITH t AS (
  SELECT {_DUCK_TOKENS} AS tk FROM documents),
p1 AS (
  SELECT u.x AS x, u.y AS y FROM (
    SELECT unnest([{{'x': least(tk[CAST(i AS INT)], tk[CAST(i AS INT) + 1]),
                     'y': greatest(tk[CAST(i AS INT)], tk[CAST(i AS INT) + 1])}}
                   for i in generate_series(1, len(tk) - 1)]) AS u
    FROM t WHERE len(tk) >= 2)),
p2 AS (
  SELECT u.x AS x, u.y AS y FROM (
    SELECT unnest([{{'x': least(tk[CAST(i AS INT)], tk[CAST(i AS INT) + 2]),
                     'y': greatest(tk[CAST(i AS INT)], tk[CAST(i AS INT) + 2])}}
                   for i in generate_series(1, len(tk) - 2)]) AS u
    FROM t WHERE len(tk) >= 3)),
allp AS (SELECT x, y FROM p1 UNION ALL SELECT x, y FROM p2),
pairs AS (SELECT x AS tok_x, y AS tok_y, count(*) AS pair_count
  FROM allp WHERE x <> y GROUP BY 1, 2),
tot AS (SELECT CAST(sum(pair_count) AS DOUBLE) AS t FROM pairs),
marg AS (SELECT tok, sum(pair_count) AS m FROM (
    SELECT tok_x AS tok, pair_count FROM pairs
    UNION ALL SELECT tok_y AS tok, pair_count FROM pairs)
  GROUP BY tok)
SELECT tok_x, tok_y, CAST(pair_count AS BIGINT) AS pair_count,
  round(greatest(0.0,
    ln(CAST(pair_count AS DOUBLE) * (SELECT t FROM tot)
       / (CAST(mx.m AS DOUBLE) * CAST(my.m AS DOUBLE)))), 6) AS ppmi
FROM pairs
JOIN marg mx ON tok_x = mx.tok
JOIN marg my ON tok_y = my.tok
WHERE pair_count >= 5
ORDER BY ppmi DESC, tok_x, tok_y LIMIT 100
"""


QUERIES.update({
    "graph_lpa_knn": QueryDef(q_graph_lpa, _lpa_oracle()),
    "graph_triangles_knn": QueryDef(q_graph_triangles, _TRIANGLES_ORACLE),
    "graph_adamic_adar_knn": QueryDef(
        q_graph_adamic_adar, _ADAMIC_ADAR_ORACLE
    ),
    "ewma_events": QueryDef(q_ewma_events, _ewma_oracle()),
    "weighted_sample_docs": QueryDef(
        q_weighted_sample, _WEIGHTED_SAMPLE_ORACLE
    ),
    "skipgram_ppmi": QueryDef(q_skipgram_ppmi, _SKIPGRAM_PPMI_ORACLE),
})


def q_multimodal_sample_frames(spark, sf_dir):
    """REAL video frame extraction (multimodal.sample_frames): RIFF
    chunk slicing of the fixture AVI/MJPEG clips at 250 ms (= every
    stored frame at 4 fps). The payload bytes are kernel output
    (pinned by TestAviCodec), but the SCHEDULE — which frames exist,
    at which offsets — is fully value-oracled: the SQL regenerates the
    per-clip frame count (3 + i%4) from the fixture arithmetic, so a
    hash match proves the extractor walked every movi chunk of every
    clip."""
    from inception_eventstore_spark.operators import multimodal as MM

    assets = MM.synthetic_assets(spark, n=256).where(
        F.col("mime") == "video/x-msvideo"
    )
    return MM.sample_frames(assets, every_ms=250).select(
        "asset_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("offset_ms").cast("bigint").alias("offset_ms"),
        "mime",
    )


_SAMPLE_FRAMES_ORACLE = """
WITH a AS (SELECT i AS asset_id, 3 + i % 4 AS nf
  FROM range(0, 256) t(i)
  WHERE i % 3 = 2 AND (i // 3) % 3 <> 2),
f AS (SELECT asset_id, unnest(range(0, nf)) AS frame_idx FROM a)
SELECT asset_id, CAST(frame_idx AS BIGINT) AS frame_idx,
  CAST(frame_idx * 250 AS BIGINT) AS offset_ms,
  'image/jpeg' AS mime
FROM f ORDER BY asset_id, frame_idx
"""


QUERIES.update({
    "multimodal_sample_frames": QueryDef(
        q_multimodal_sample_frames, _SAMPLE_FRAMES_ORACLE
    ),
})


def q_multimodal_resize(spark, sf_dir):
    """REAL image resize → feature pipeline: every fixture image
    (PPM/PNG/JPEG) is decoded, bilinear-resized to 32×24, re-encoded
    PNG, and pushed through the real image kernel — the standard
    pre-embedding normalization pass. Value-oracled against literal
    expectations computed driver-side from the same pure-numpy codecs
    over the same deterministic fixtures (no Spark in the loop), so a
    hash match certifies the Arrow plumbing delivers byte-identical
    kernel results; exploded to scalar rows because float32→double
    widening is exact and repr round-trips, while array columns and
    JSON double formatting are not driver-portable."""
    from inception_eventstore_spark.operators import multimodal as MM

    assets = MM.synthetic_assets(spark, n=256).coalesce(4)
    resized = MM.resize_images(assets, width=32, height=24)
    feats = MM.extract_features(resized, decode="real")
    return feats.select(
        "asset_id", "n_bytes", F.posexplode("features").alias("dim", "feat")
    ).select(
        "asset_id",
        "n_bytes",
        F.col("dim").cast("bigint").alias("dim"),
        F.col("feat").cast("double").alias("feat"),
    )


_MULTIMODAL_RESIZE_ORACLE_CACHE: list[str] = []


def _multimodal_resize_oracle(n: int = 256) -> str:
    """Literal expected rows: decode → bilinear 32×24 → PNG → image
    features, run on the fixture payloads with the SAME library
    functions the Spark kernels call, entirely driver-side."""
    if _MULTIMODAL_RESIZE_ORACLE_CACHE:
        return _MULTIMODAL_RESIZE_ORACLE_CACHE[0]
    from inception_eventstore_spark.operators.multimodal import (
        _decode_image,
        _image_features_real,
        bilinear_resize,
        encode_png,
        synthetic_asset_rows,
    )

    values = []
    for row in synthetic_asset_rows(n):
        asset_id, modality, payload = row[0], row[1], row[6]
        if modality != "image":
            continue
        resized = encode_png(
            bilinear_resize(_decode_image(bytes(payload)), 24, 32)
        )
        feats = _image_features_real(resized)
        for dim, f in enumerate(feats):
            values.append(
                f"({asset_id}, {len(resized)}, {dim}, {float(f)!r})"
            )
    sql = (
        "SELECT CAST(c0 AS BIGINT) AS asset_id, CAST(c1 AS BIGINT) "
        "AS n_bytes, CAST(c2 AS BIGINT) AS dim, CAST(c3 AS DOUBLE) AS feat "
        f"FROM (VALUES {', '.join(values)}) t(c0, c1, c2, c3)"
    )
    _MULTIMODAL_RESIZE_ORACLE_CACHE.append(sql)
    return sql


QUERIES.update({
    "multimodal_resize": QueryDef(
        q_multimodal_resize, _multimodal_resize_oracle()
    ),
})


def q_text_normalize(spark, sf_dir):
    """Ingest-side unicode canonicalization (text.unicode_clean):
    control/U+FFFD strip → NFC composition (the Arrow seam — Spark has
    no JVM NFC) → whitespace collapse. The fixture text is ASCII, so
    each document is planted with a decomposed suffix (combining
    acute/diaeresis, the angstrom sign U+212B → Å, a BEL control):
    the oracle builds the identical codepoints with chr() and runs
    DuckDB's independent nfc_normalize — two unrelated NFC
    implementations must produce byte-identical md5s."""
    from inception_eventstore_spark.operators import text as TXX

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" café Ångström uni\x07code"),
        ).alias("text"),
    )
    out = TXX.unicode_clean(d)
    return out.select(
        "doc_id",
        F.length("text_clean").cast("bigint").alias("n_chars"),
        F.md5(F.encode("text_clean", "UTF-8")).alias("clean_fp"),
    ).orderBy("doc_id")


_TEXT_NORMALIZE_ORACLE = """
WITH p AS (
  SELECT doc_id,
    text || ' cafe' || chr(769) || ' ' || chr(8491) || 'ngstro'
         || chr(776) || 'm uni' || chr(7) || 'code' AS t
  FROM documents),
c AS (
  SELECT doc_id,
    trim(regexp_replace(
      nfc_normalize(
        regexp_replace(
          regexp_replace(t, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g'),
          chr(65533), '', 'g')),
      '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS tc
  FROM p)
SELECT doc_id, CAST(length(tc) AS BIGINT) AS n_chars, md5(tc) AS clean_fp
FROM c ORDER BY doc_id
"""


QUERIES.update({
    "text_normalize": QueryDef(q_text_normalize, _TEXT_NORMALIZE_ORACLE),
})


def q_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss random projection to 8 dims
    (embeddings.random_projection) — the train-free distance-preserving
    dimension cut. The seed-derived matrix is embedded in the oracle as
    SQL literals, so every coordinate is value-checked: DuckDB's
    sequential list_inner_product must agree with the Arrow matmul to
    6 dp. Exploded to (vec_id, dim, proj) rows: array-typed output
    columns crash the external canonicalizer's pandas sort
    (CORRECTNESS_r04 harness err), and double->string formatting is
    not engine-portable, so scalar rows are the only safe shape."""
    from inception_eventstore_spark.operators import embeddings as EM

    emb = _t(spark, sf_dir, "embeddings")
    out = EM.random_projection(emb, out_dim=8, seed="v1")
    return out.select(
        "vec_id", F.posexplode("proj").alias("dim", "proj")
    ).select(
        "vec_id",
        F.col("dim").cast("bigint").alias("dim"),
        "proj",
    ).orderBy("vec_id", "dim")


def _random_projection_oracle(out_dim: int = 8, d: int = 64) -> str:
    from inception_eventstore_spark.operators.embeddings import (
        projection_matrix,
    )

    R = projection_matrix(d, out_dim, "v1")
    cols = []
    for k in range(out_dim):
        lits = ", ".join(repr(float(x)) for x in R[:, k])
        cols.append(f"round(list_inner_product(ev, [{lits}]), 6)")
    arr = ", ".join(cols)
    return (
        "WITH v AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS ev FROM embeddings), "
        f"p AS (SELECT vec_id, [{arr}] AS proj FROM v) "
        "SELECT vec_id, CAST(generate_subscripts(proj, 1) - 1 AS BIGINT) "
        "AS dim, unnest(proj) AS proj FROM p ORDER BY vec_id, dim"
    )


QUERIES.update({
    "random_projection": QueryDef(
        q_random_projection, _random_projection_oracle()
    ),
})


#: Fixed merge list for the encode query — oracle strings are static
#: per scale factor, so the merges must be literals, not trained at
#: query time (bpe_train's loop is exercised in pytest).
_BPE_QUERY_MERGES = [
    ("t", "h"), ("th", "e"), ("e", "</w>"), ("s", "</w>"),
    ("a", "n"), ("the</w>", "the</w>"),
]


def q_bpe_encode_words(spark, sf_dir):
    """BPE tokenizer APPLICATION (lm.bpe_encode_words): the corpus
    vocabulary encoded under a fixed 6-merge list via the JVM
    lookaround-regex chain. The oracle replays the identical greedy
    left-to-right merge semantics with one DuckDB list_reduce pass per
    merge (sequential scan, immediate merge — provably the same
    normal form), so every piece sequence is value-checked. The last
    merge is a deliberate no-op pair (no word contains 'the</w>the</w>')
    pinning that impossible merges change nothing."""
    from inception_eventstore_spark.operators import lm as LM

    docs = _t(spark, sf_dir, "documents")
    out = LM.bpe_encode_words(docs, _BPE_QUERY_MERGES)
    return out.select(
        "w",
        F.col("freq").cast("bigint").alias("freq"),
        F.array_join("pieces", " ").alias("pieces_str"),
        F.col("n_pieces").cast("bigint").alias("n_pieces"),
    ).orderBy("w")


def _bpe_encode_oracle() -> str:
    def esc(s: str) -> str:
        return s.replace("'", "''")

    expr = "list_append(string_split(w, ''), '</w>')"
    for a, b in _BPE_QUERY_MERGES:
        drop = len(a) + 2  # trailing ' {a} ' to cut before appending ab
        step = (
            "CASE WHEN acc = chr(1) THEN ' ' || z || ' ' "
            f"WHEN z = '{esc(b)}' AND ends_with(acc, ' {esc(a)} ') "
            f"THEN left(acc, length(acc) - {drop}) || ' {esc(a + b)} ' "
            "ELSE acc || z || ' ' END"
        )
        expr = (
            "string_split(trim(list_reduce(list_prepend(chr(1), "
            f"{expr}), (acc, z) -> {step})), ' ')"
        )
    return (
        "WITH vocab AS (SELECT w, count(*) AS freq FROM ("
        f"SELECT unnest({_DUCK_TOKENS}) AS w FROM documents) GROUP BY w), "
        f"enc AS (SELECT w, freq, {expr} AS pieces FROM vocab) "
        "SELECT w, CAST(freq AS BIGINT) AS freq, "
        "array_to_string(pieces, ' ') AS pieces_str, "
        "CAST(len(pieces) AS BIGINT) AS n_pieces "
        "FROM enc ORDER BY w"
    )


QUERIES.update({
    "bpe_encode_words": QueryDef(q_bpe_encode_words, _bpe_encode_oracle()),
})


def q_dedup_containment(spark, sf_dir):
    """Asymmetric containment join (dedup.containment_pairs): ordered
    pairs where ≥50 % of A's word-3-gram set lies inside B — the
    quote/subset detector Jaccard misses. Oracle is the brute-force
    all-ordered-pairs containment over string n-grams (the Spark side
    is the prefix-filtered inverted-index version of the same math)."""
    from inception_eventstore_spark.operators import dedup as DD

    docs = _t(spark, sf_dir, "documents")
    return DD.containment_pairs(docs, n=3, threshold=0.5).orderBy(
        "id_a", "id_b"
    )


_CONTAINMENT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
sets AS (
  SELECT doc_id,
    list_distinct([array_to_string(list_slice(tk, i, least(i+2, len(tk))), ' ')
                   for i in generate_series(1, greatest(len(tk)-2, 1))]) AS grams
  FROM toks WHERE len(tk) > 0),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / CAST(len(a.grams) AS DOUBLE), 6) AS containment
  FROM sets a JOIN sets b ON a.doc_id <> b.doc_id)
SELECT id_a, id_b, containment FROM pairs
WHERE containment >= 0.5 ORDER BY id_a, id_b
"""


QUERIES.update({
    "dedup_containment": QueryDef(q_dedup_containment, _CONTAINMENT_ORACLE),
})


def q_quality_model_score(spark, sf_dir):
    """fasttext-shaped linear quality scoring (scoring.
    linear_quality_score): hashed-BoW sparse dot product + sigmoid,
    model table broadcast. Weights are the seeded md5 stand-in so the
    ENTIRE scoring path — bucket hash, dot product, normalization,
    sigmoid — re-derives in DuckDB; a trained model swaps one table."""
    from inception_eventstore_spark.operators import scoring as SC

    docs = _t(spark, sf_dir, "documents")
    return SC.linear_quality_score(docs, dim=64).orderBy("doc_id")


_QUALITY_MODEL_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
bk AS (SELECT doc_id, unnest(list_transform(tk, tok ->
  CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT)
  % 64)) AS bucket FROM t),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
w AS (SELECT i AS bucket,
  (CAST(('0x' || substring(md5('qw:v1:' || CAST(i AS VARCHAR)), 1, 15))
        AS BIGINT) - 576460752303423488) / 576460752303423488.0 AS w
  FROM range(0, 64) t(i)),
s AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
  sum(w * cnt) / sum(cnt) AS z
  FROM c JOIN w ON c.bucket = w.bucket GROUP BY doc_id)
SELECT doc_id, n_tokens, round(z, 6) AS quality_logit,
  round(1.0 / (1.0 + exp(-z)), 6) AS quality_prob
FROM s ORDER BY doc_id
"""


QUERIES.update({
    "quality_model_score": QueryDef(
        q_quality_model_score, _QUALITY_MODEL_ORACLE
    ),
})


def q_sliding_active_users(spark, sf_dir):
    """Trailing-7-day distinct active users per day
    (timeseries.sliding_distinct_users) — the WAU curve, computed
    exactly via the contribution explode (COUNT DISTINCT over a RANGE
    frame is inexpressible in window SQL on any engine; the oracle
    uses the identical explode)."""
    from inception_eventstore_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    return TS.sliding_distinct_users(ev, window_days=7).orderBy("day")


_SLIDING_USERS_ORACLE = """
WITH ud AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
contrib AS (
  SELECT unnest([d + to_days(CAST(i AS INT))
                 for i in generate_series(0, 6)]) AS day, user_id
  FROM ud),
counts AS (
  SELECT day, count(DISTINCT user_id) AS active_users
  FROM contrib GROUP BY day)
SELECT CAST(counts.day AS DATE) AS day,
  CAST(active_users AS BIGINT) AS active_users
FROM counts JOIN (SELECT DISTINCT d AS day FROM ud) obs
  ON counts.day = obs.day
ORDER BY counts.day
"""


QUERIES.update({
    "sliding_active_users": QueryDef(
        q_sliding_active_users, _SLIDING_USERS_ORACLE
    ),
})


def q_resample_ffill(spark, sf_dir):
    """Per-user weekly forward-fill resample (timeseries.
    resample_ffill): epoch-aligned 7-day grid, each point carrying the
    last observation at-or-before it. One union + one window pass; the
    oracle builds the identical integer-µs grid and uses DuckDB's own
    IGNORE NULLS last_value."""
    from inception_eventstore_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    out = TS.resample_ffill(ev, every_seconds=604800)
    return out.orderBy("user_id", "grid_ts")


_RESAMPLE_ORACLE = """
WITH obs AS (
  SELECT user_id AS k, epoch_us(ts) AS ep, value AS v, 0 AS g
  FROM events),
b AS (SELECT k, min(ep) AS lo, max(ep) AS hi FROM obs GROUP BY k),
grid AS (
  SELECT k, unnest(generate_series(lo - lo % 604800000000,
                                   hi - hi % 604800000000,
                                   604800000000)) AS ep,
         CAST(NULL AS DOUBLE) AS v, 1 AS g
  FROM b),
u AS (SELECT * FROM obs UNION ALL SELECT * FROM grid),
f AS (SELECT k, ep, g,
  last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY ep, g
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff
  FROM u)
SELECT k AS user_id, make_timestamp(ep) AS grid_ts,
  round(ff, 6) AS value
FROM f WHERE g = 1 ORDER BY user_id, grid_ts
"""


def q_session_concurrency(spark, sf_dir):
    """Peak concurrent sessions per day: 30-minute-gap sessionization
    → (user, session) intervals padded 1 minute past their last event
    → sweep-line running sum partitioned by the session's start day
    (timeseries.interval_concurrency). Oracle replays the identical
    lag-cumsum sessionization and sweep in SQL."""
    from inception_eventstore_spark.operators import sessions as SS
    from inception_eventstore_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    s = SS.sessionize(ev, gap="30 minutes")
    iv = s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        (F.max("ts") + F.expr("INTERVAL 1 minute")).alias("session_end"),
    ).withColumn("day", F.to_date("session_start"))
    sweep = TS.interval_concurrency(
        iv, "session_start", "session_end", partition_col="day"
    )
    return sweep.groupBy("day").agg(
        F.max("concurrent").cast("bigint").alias("peak_concurrent"),
        F.count("*").cast("bigint").alias("n_boundaries"),
    ).orderBy("day")


_SESSION_CONCURRENCY_ORACLE = """
WITH s AS (
  SELECT user_id, ts,
    SUM(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
        THEN 1 ELSE 0 END) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM (SELECT user_id, ts, event_id,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS prev_ts FROM events) t),
iv AS (
  SELECT user_id, session_id, min(ts) AS s0,
         max(ts) + INTERVAL 1 MINUTE AS e0,
         CAST(min(ts) AS DATE) AS day
  FROM s GROUP BY user_id, session_id),
ev AS (
  SELECT day, s0 AS ts, 1 AS delta FROM iv
  UNION ALL SELECT day, e0, -1 FROM iv),
sw AS (
  SELECT day, ts, delta,
    sum(delta) OVER (PARTITION BY day ORDER BY ts, delta
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM ev)
SELECT day, CAST(max(conc) AS BIGINT) AS peak_concurrent,
  CAST(count(*) AS BIGINT) AS n_boundaries
FROM sw GROUP BY day ORDER BY day
"""


QUERIES.update({
    "resample_ffill": QueryDef(q_resample_ffill, _RESAMPLE_ORACLE),
    "session_concurrency": QueryDef(
        q_session_concurrency, _SESSION_CONCURRENCY_ORACLE
    ),
})


def q_sq8_codes(spark, sf_dir):
    """SQ8 scalar quantization of every embedding (pq.sq8_encode):
    per-dim data bounds + floor binning to 0..255 — floor, not round,
    because round() half-cases are not engine-portable (HALF_UP vs
    half-even). The full code table is value-oracled as a CSV string
    per vector: array-typed output columns crash the external
    canonicalizer's pandas sort (CORRECTNESS_r04 harness err), and
    uint8 codes are integers, so ','-joined text is byte-identical
    across engines."""
    from inception_eventstore_spark.operators import pq as PQ

    emb = _t(spark, sf_dir, "embeddings")
    return (
        PQ.sq8_encode(emb)
        .select(
            "vec_id", F.array_join("codes", ",").alias("codes_csv")
        )
        .orderBy("vec_id")
    )


_SQ8_CODES_ORACLE = """
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
ex AS (SELECT vec_id, generate_subscripts(ev, 1) - 1 AS dim,
  unnest(ev) AS x FROM v),
b AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM ex GROUP BY dim),
c AS (SELECT vec_id, ex.dim,
  CASE WHEN hi > lo THEN least(255, greatest(0,
    CAST(floor((x - lo) / (hi - lo) * 256.0) AS INT)))
  ELSE 0 END AS code
  FROM ex JOIN b ON ex.dim = b.dim)
SELECT vec_id, array_to_string(list(code ORDER BY dim), ',') AS codes_csv
FROM c GROUP BY vec_id ORDER BY vec_id
"""


def q_sq8_recall(spark, sf_dir):
    """recall@10 of asymmetric SQ8 search (raw query vs dequantized
    bin-center corpus) against exact L2 top-10, evaluated by the
    engine operator similarity.topk_recall — quantization, dequant,
    both searches AND the recall arithmetic all re-derived in SQL, so
    the measured recall itself is the value under oracle."""
    from inception_eventstore_spark.operators import pq as PQ

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    q = F.array(*[F.lit(float(x)) for x in qvec])
    b = {
        int(r["dim"]): (r["lo"], r["hi"])
        for r in PQ.sq8_bounds(emb).collect()
    }
    lo = F.array(*[F.lit(b[i][0]) for i in sorted(b)])
    hi = F.array(*[F.lit(b[i][1]) for i in sorted(b)])
    dq = PQ.sq8_encode(emb).select(
        "vec_id", PQ.sq8_dequantize(F.col("codes"), lo, hi).alias("dv")
    )
    approx = (
        dq.where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(S.l2_distance(F.col("dv"), q), 6).alias("dist"),
        )
        .orderBy("dist", "vec_id")
        .limit(10)
    )
    exact = (
        emb.where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(S.l2_distance(F.col("embedding"), q), 6).alias("dist"),
        )
        .orderBy("dist", "vec_id")
        .limit(10)
    )
    return S.topk_recall(approx, exact)


_SQ8_RECALL_ORACLE = """
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
qv AS (SELECT ev AS q FROM v WHERE vec_id = 0),
ex AS (SELECT vec_id, generate_subscripts(ev, 1) - 1 AS dim,
  unnest(ev) AS x FROM v),
b AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM ex GROUP BY dim),
dqe AS (SELECT vec_id, ex.dim,
  lo + (CASE WHEN hi > lo THEN least(255, greatest(0,
          CAST(floor((x - lo) / (hi - lo) * 256.0) AS INT)))
        ELSE 0 END + 0.5) * (hi - lo) / 256.0 AS xd
  FROM ex JOIN b ON ex.dim = b.dim),
dq AS (SELECT vec_id, list(xd ORDER BY dim) AS dv FROM dqe
  GROUP BY vec_id),
ap AS (SELECT vec_id FROM (
  SELECT dq.vec_id,
    round(sqrt(greatest(list_inner_product(dv, dv)
      - 2 * list_inner_product(dv, (SELECT q FROM qv))
      + list_inner_product((SELECT q FROM qv), (SELECT q FROM qv)), 0)),
      6) AS dist
  FROM dq WHERE vec_id <> 0
  ORDER BY dist, vec_id LIMIT 10)),
exact AS (SELECT vec_id FROM (
  SELECT v.vec_id,
    round(sqrt(greatest(list_inner_product(ev, ev)
      - 2 * list_inner_product(ev, (SELECT q FROM qv))
      + list_inner_product((SELECT q FROM qv), (SELECT q FROM qv)), 0)),
      6) AS dist
  FROM v WHERE vec_id <> 0
  ORDER BY dist, vec_id LIMIT 10))
SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
  CAST((SELECT count(*) FROM ap WHERE vec_id IN
        (SELECT vec_id FROM exact)) AS BIGINT) AS n_hit,
  round((SELECT count(*) FROM ap WHERE vec_id IN
         (SELECT vec_id FROM exact)) * 1.0
        / (SELECT count(*) FROM exact), 6) AS recall
"""


QUERIES.update({
    "sq8_codes": QueryDef(q_sq8_codes, _SQ8_CODES_ORACLE),
    "sq8_recall": QueryDef(q_sq8_recall, _SQ8_RECALL_ORACLE),
})


def q_abandoned_after(spark, sf_dir):
    """Absence detection (funnel.abandoned_after): 'view' events with
    no 'purchase' by the same user within 1 hour — the anti-funnel a
    range anti-join would answer quadratically; here ONE per-user
    union window (min next-purchase ts over the at-or-after frame).
    Oracle runs the identical forward-frame min in SQL."""
    from inception_eventstore_spark.operators import funnel as FU

    ev = _t(spark, sf_dir, "events")
    out = FU.abandoned_after(ev, first="view", then="purchase",
                             within="1 hour")
    return out.orderBy("user_id", "event_id")


_ABANDONED_ORACLE = """
WITH sub AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN event_type = 'purchase' THEN ts END AS then_ts,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ord
  FROM events WHERE event_type IN ('view', 'purchase')),
m AS (
  SELECT user_id, ts, event_id, event_type,
    min(then_ts) OVER (PARTITION BY user_id ORDER BY ts, ord, event_id
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_then_ts
  FROM sub)
SELECT user_id, event_id, ts, next_then_ts
FROM m
WHERE event_type = 'view'
  AND (next_then_ts IS NULL OR next_then_ts > ts + INTERVAL 1 HOUR)
ORDER BY user_id, event_id
"""


def q_weighted_sample_by_lang(spark, sf_dir):
    """Per-language weighted sampling without replacement: 20 docs per
    lang drawn ∝ n_chars (sampling.weighted_sample_per_group) — the
    balanced-corpus construction step. Oracle re-derives every A-ES
    key and rank cut."""
    from inception_eventstore_spark.operators import sampling as SA

    docs = _t(spark, sf_dir, "documents")
    out = SA.weighted_sample_per_group(
        docs, "n_chars", k=20, group_col="lang"
    )
    return out.select("lang", "doc_id", "n_chars", "sample_key").orderBy(
        "lang", "doc_id"
    )


_WEIGHTED_GROUP_ORACLE = """
WITH keyed AS (
  SELECT lang, doc_id, n_chars,
    ln((CAST(('0x' || substring(md5('v1:' || CAST(doc_id AS VARCHAR)),
              1, 15)) AS BIGINT) * 1.0 + 0.5)
       / 1152921504606846976.0)
    / CAST(n_chars AS DOUBLE) AS raw_key
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
r AS (
  SELECT *, row_number() OVER (PARTITION BY lang
    ORDER BY round(raw_key, 12) DESC, doc_id) AS rk
  FROM keyed)
SELECT lang, doc_id, n_chars, round(raw_key, 6) AS sample_key
FROM r WHERE rk <= 20
ORDER BY lang, doc_id
"""


QUERIES.update({
    "abandoned_after": QueryDef(q_abandoned_after, _ABANDONED_ORACLE),
    "weighted_sample_by_lang": QueryDef(
        q_weighted_sample_by_lang, _WEIGHTED_GROUP_ORACLE
    ),
})


def q_negative_samples(spark, sf_dir):
    """1000 word2vec negative samples from the unigram^0.75 table
    (sampling.sample_negatives): exact-integer inverse CDF + md5
    uniforms matched through the bucketized range_join. Every sample
    re-derived in SQL (same running sum, floor thresholds, uniforms,
    interval test)."""
    from inception_eventstore_spark.operators import sampling as SA

    docs = _t(spark, sf_dir, "documents")
    return SA.sample_negatives(docs, n=1000)


_NEGATIVE_SAMPLES_ORACLE = f"""
WITH vocab AS (
  SELECT w AS token, count(*) AS cnt FROM (
    SELECT unnest({_DUCK_TOKENS}) AS w FROM documents) GROUP BY w),
-- integer micro-weights (floor(cnt^0.75 * 2^20)): associative cums,
-- mirroring the two-phase shard cumsum the Spark side runs
wv AS (SELECT token, cnt,
  CAST(floor(pow(cnt * 1.0, 0.75) * 1048576.0) AS BIGINT) AS w
  FROM vocab),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS t FROM wv),
cdf AS (
  SELECT token, cnt, w,
    CAST(sum(w) OVER (ORDER BY cnt DESC, token
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM wv),
iv2 AS (
  SELECT token,
    CAST(floor((cum - w) * 1.0 / tot.t
               * 1152921504606846976.0) AS BIGINT) AS t_lo,
    CAST(floor(cum * 1.0 / tot.t
               * 1152921504606846976.0) AS BIGINT) AS t_hi
  FROM cdf CROSS JOIN tot),
s AS (
  SELECT i AS sample_id,
    CAST(('0x' || substring(md5('neg:v1:' || CAST(i AS VARCHAR)), 1, 15))
         AS BIGINT) AS u
  FROM range(0, 1000) t(i))
SELECT sample_id, token
FROM s JOIN iv2 ON u >= t_lo AND u < t_hi
ORDER BY sample_id
"""


QUERIES.update({
    "negative_samples": QueryDef(
        q_negative_samples, _NEGATIVE_SAMPLES_ORACLE
    ),
})


def q_psi_drift(spark, sf_dir):
    """PSI drift terms between the first and second calendar halves of
    the event log's value distribution (profile.population_stability):
    reference-decile buckets with 6-dp edges (the rounding IS the
    cross-engine contract — see the operator docstring), add-0.5
    smoothing. The fixture generator is stationary, so the expected
    PSI ≈ 0 — the oracle certifies the arithmetic, not a planted
    drift."""
    from inception_eventstore_spark.operators import profile as PR

    ev = _t(spark, sf_dir, "events")
    # floor() on BOTH sides: bare cast-to-bigint truncates in Spark but
    # CAST(avg(...) AS BIGINT) rounds-to-nearest in DuckDB; a 1-us mid
    # skew flips any event on that exact microsecond across halves.
    mid = ev.agg(
        F.timestamp_micros(
            F.floor(F.avg(F.unix_micros("ts"))).cast("bigint")
        ).alias("m")
    ).first()["m"]
    ref = ev.where(F.col("ts") < F.lit(mid))
    cur = ev.where(F.col("ts") >= F.lit(mid))
    return PR.population_stability(ref, cur, "value", bins=10)


_PSI_ORACLE = """
WITH m AS (SELECT make_timestamp(CAST(floor(avg(epoch_us(ts))) AS BIGINT)) AS mid
  FROM events),
ref AS (SELECT value FROM events WHERE ts < (SELECT mid FROM m)),
cur AS (SELECT value FROM events WHERE ts >= (SELECT mid FROM m)),
edges AS (
  SELECT round(unnest(q), 6) AS e FROM (
    SELECT quantile_cont(value,
      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q FROM ref)),
rb AS (SELECT (SELECT count(*) FROM edges WHERE value > e) AS bin
  FROM ref),
cb AS (SELECT (SELECT count(*) FROM edges WHERE value > e) AS bin
  FROM cur),
rc AS (SELECT bin, count(*) AS n_ref FROM rb GROUP BY bin),
cc AS (SELECT bin, count(*) AS n_cur FROM cb GROUP BY bin),
bl AS (SELECT i AS bin FROM range(0, 10) t(i)),
j AS (SELECT bl.bin, coalesce(n_ref, 0) AS n_ref,
             coalesce(n_cur, 0) AS n_cur
  FROM bl LEFT JOIN rc ON bl.bin = rc.bin
  LEFT JOIN cc ON bl.bin = cc.bin),
t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j)
SELECT CAST(bin AS INT) AS bin,
  round((n_ref + 0.5) / ((SELECT tr FROM t) + 5.0), 6) AS ref_share,
  round((n_cur + 0.5) / ((SELECT tc FROM t) + 5.0), 6) AS cur_share,
  round(((n_ref + 0.5) / ((SELECT tr FROM t) + 5.0)
         - (n_cur + 0.5) / ((SELECT tc FROM t) + 5.0))
        * ln(((n_ref + 0.5) / ((SELECT tr FROM t) + 5.0))
             / ((n_cur + 0.5) / ((SELECT tc FROM t) + 5.0))), 6)
    AS psi_term
FROM j ORDER BY bin
"""


QUERIES.update({
    "psi_drift": QueryDef(q_psi_drift, _PSI_ORACLE),
})


def q_canonical_urls(spark, sf_dir):
    """URL canonicalization (domains.canonical_url): the same page
    planted in two disguises per doc — tracking params + shuffled
    query order + fragment + WWW/case/default-port vs the clean form —
    must collapse to ONE canonical key; a third plant pins trailing-
    slash handling. Oracle replays every normalization step."""
    from inception_eventstore_spark.operators import domains as DM

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" https://WWW.Shop.Example.com:443/item/"),
                    (F.col("doc_id") % 10).cast("string"),
                    F.lit("/?utm_source=x&b=2&a=1#frag"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 1,
                F.concat(
                    F.lit(" https://shop.example.com/item/"),
                    (F.col("doc_id") % 10).cast("string"),
                    F.lit("?a=1&b=2&gclid=zz"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(" http://news.example.org/"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = DM.canonical_doc_urls(d)
    return out.select(
        "canonical_url",
        F.col("n_raw").cast("bigint").alias("n_raw"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
    ).orderBy("canonical_url")


_CANONICAL_URL_ORACLE = r"""
WITH planted AS (SELECT doc_id, text ||
  CASE WHEN doc_id % 3 = 0 THEN ' https://WWW.Shop.Example.com:443/item/'
    || CAST(doc_id % 10 AS VARCHAR) || '/?utm_source=x&b=2&a=1#frag'
  ELSE '' END ||
  CASE WHEN doc_id % 3 = 1 THEN ' https://shop.example.com/item/'
    || CAST(doc_id % 10 AS VARCHAR) || '?a=1&b=2&gclid=zz'
  ELSE '' END ||
  CASE WHEN doc_id % 5 = 0 THEN ' http://news.example.org/'
  ELSE '' END AS text FROM documents),
urls AS (SELECT doc_id, unnest(regexp_extract_all(text,
  'https?://[^ \t\n]+')) AS url FROM planted),
c AS (SELECT doc_id,
  regexp_replace(url, '#.*$', '') AS u FROM urls),
parts AS (SELECT doc_id, u,
  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
  regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM c),
np AS (SELECT doc_id, scheme, u,
  regexp_replace(regexp_replace(
    lower(regexp_extract(rest, '^([^/?]+)', 1)),
    '^www\.', ''), ':(80|443)$', '') AS host,
  regexp_replace(regexp_extract(rest, '^[^/?]*([^?]*)', 1), '/$', '')
    AS path,
  regexp_extract(u, '\?([^#]*)', 1) AS query
  FROM parts),
qn AS (SELECT doc_id, scheme, host, path,
  array_to_string(list_sort(list_filter(string_split(query, '&'),
    p -> p <> '' AND NOT regexp_matches(p,
      '^(utm_[^=&]*|gclid|fbclid|ref|mc_eid)='))), '&') AS qs
  FROM np),
canon AS (SELECT doc_id,
  scheme || '://' || host || path ||
  CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canonical_url
  FROM qn)
SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_raw,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM canon GROUP BY canonical_url ORDER BY canonical_url
"""


QUERIES.update({
    "canonical_urls": QueryDef(q_canonical_urls, _CANONICAL_URL_ORACLE),
})


def q_state_runs(spark, sf_dir):
    """Event-type run compression per user (sessions.state_runs):
    gaps-and-islands over VALUE changes — the status-interval table.
    Oracle replays the identical lag + cumsum island numbering."""
    from inception_eventstore_spark.operators import sessions as SS

    ev = _t(spark, sf_dir, "events")
    out = SS.state_runs(ev)
    return out.select(
        "user_id",
        F.col("run_id").cast("bigint").alias("run_id"),
        "state",
        F.col("n_events").cast("bigint").alias("n_events"),
        "run_start",
        "run_end",
    ).orderBy("user_id", "run_id")


_STATE_RUNS_ORACLE = """
WITH r AS (
  SELECT user_id, ts, event_id, event_type,
    SUM(CASE WHEN prev IS NULL OR event_type <> prev THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run_id
  FROM (SELECT user_id, ts, event_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS prev FROM events) t)
SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
  min(event_type) AS state, CAST(count(*) AS BIGINT) AS n_events,
  min(ts) AS run_start, max(ts) AS run_end
FROM r GROUP BY user_id, run_id ORDER BY user_id, run_id
"""


def q_string_indexer(spark, sf_dir):
    """Frequency-first dense vocabulary ids (text.string_indexer):
    idx 0 = most frequent token, ties lexical — the embedding-table
    index map; fully deterministic so both engines reproduce it."""
    from inception_eventstore_spark.operators.text import string_indexer

    docs = _t(spark, sf_dir, "documents")
    return string_indexer(docs).orderBy("idx")


_STRING_INDEXER_ORACLE = f"""
WITH vals AS (SELECT unnest({_DUCK_TOKENS}) AS value FROM documents),
freq AS (SELECT value, count(*) AS freq FROM vals GROUP BY value)
SELECT value, CAST(freq AS BIGINT) AS freq,
  CAST(row_number() OVER (ORDER BY freq DESC, value) - 1 AS BIGINT)
    AS idx
FROM freq ORDER BY idx
"""


QUERIES.update({
    "state_runs": QueryDef(q_state_runs, _STATE_RUNS_ORACLE),
    "string_indexer": QueryDef(q_string_indexer, _STRING_INDEXER_ORACLE),
})


def q_ks_drift(spark, sf_dir):
    """Exact two-sample KS statistic between the first and second
    calendar halves of the event values (profile.ks_statistic) — the
    bucket-free companion of psi_drift. Peer-inclusive RANGE running
    counts are the ECDFs; oracle uses the identical default frame."""
    from inception_eventstore_spark.operators import profile as PR

    ev = _t(spark, sf_dir, "events")
    # floor() on BOTH sides: bare cast-to-bigint truncates in Spark but
    # CAST(avg(...) AS BIGINT) rounds-to-nearest in DuckDB; a 1-us mid
    # skew flips any event on that exact microsecond across halves.
    mid = ev.agg(
        F.timestamp_micros(
            F.floor(F.avg(F.unix_micros("ts"))).cast("bigint")
        ).alias("m")
    ).first()["m"]
    return PR.ks_statistic(
        ev.where(F.col("ts") < F.lit(mid)),
        ev.where(F.col("ts") >= F.lit(mid)),
        "value",
    )


_KS_ORACLE = """
WITH m AS (SELECT make_timestamp(CAST(floor(avg(epoch_us(ts))) AS BIGINT)) AS mid
  FROM events),
r AS (SELECT value AS v, count(*) AS c1, 0 AS c2 FROM events
  WHERE ts < (SELECT mid FROM m) AND value IS NOT NULL GROUP BY value),
c AS (SELECT value AS v, 0 AS c1, count(*) AS c2 FROM events
  WHERE ts >= (SELECT mid FROM m) AND value IS NOT NULL GROUP BY value),
u AS (SELECT * FROM r UNION ALL SELECT * FROM c),
s AS (SELECT
  sum(c1) OVER (ORDER BY v) AS cum1,
  sum(c2) OVER (ORDER BY v) AS cum2,
  sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
  FROM u)
SELECT CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur,
  round(max(abs(cum1 * 1.0 / n1 - cum2 * 1.0 / n2)), 6) AS ks
FROM s GROUP BY n1, n2
"""


QUERIES.update({
    "ks_drift": QueryDef(q_ks_drift, _KS_ORACLE),
})


def q_latest_property_state(spark, sf_dir):
    """Event-sourcing projection rebuild (eventstore.
    latest_property_state): last-written payload property value per
    user — one max_by aggregate, no per-aggregate replay. Oracle
    resolves the same latest-wins (ts, event_id) contract with a
    ranking window over DuckDB's JSON map."""
    from inception_eventstore_spark.operators.eventstore import (
        latest_property_state,
    )

    ev = _t(spark, sf_dir, "events")
    out = latest_property_state(ev)
    return out.select(
        "user_id",
        "prop_key",
        "latest_value",
        F.col("n_set").cast("bigint").alias("n_set"),
        "last_set_ts",
    ).orderBy("user_id", "prop_key")


_LATEST_PROP_ORACLE = """
WITH ex AS (
  SELECT user_id, ts, event_id, k AS prop_key,
    json_extract_string(props, '$.' || k) AS v
  FROM (SELECT user_id, ts, event_id, props,
          unnest(json_keys(props)) AS k
        FROM events WHERE props IS NOT NULL)),
r AS (
  SELECT user_id, prop_key, v, ts, event_id,
    row_number() OVER (PARTITION BY user_id, prop_key
      ORDER BY ts DESC, event_id DESC) AS rn,
    count(*) OVER (PARTITION BY user_id, prop_key) AS n_set,
    max(ts) OVER (PARTITION BY user_id, prop_key) AS last_set_ts
  FROM ex)
SELECT user_id, prop_key, CAST(v AS VARCHAR) AS latest_value,
  CAST(n_set AS BIGINT) AS n_set, last_set_ts
FROM r WHERE rn = 1 ORDER BY user_id, prop_key
"""


QUERIES.update({
    "latest_property_state": QueryDef(
        q_latest_property_state, _LATEST_PROP_ORACLE
    ),
})


def q_weighted_median(spark, sf_dir):
    """Exact lower weighted median of event values per type, weighted
    by a deterministic synthetic mass (profile.weighted_median) —
    cumulative-weight threshold as an aggregate, no ranking cut.
    Oracle replays the identical peer-inclusive running sum."""
    from inception_eventstore_spark.operators import profile as PR

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round("value", 6).alias("value"),
        (F.col("event_id") % 7 + 1).alias("w"),
    )
    out = PR.weighted_median(ev, "value", "w", group_col="event_type")
    return out.orderBy("event_type")


_WEIGHTED_MEDIAN_ORACLE = """
WITH b AS (
  SELECT event_type, round(value, 6) AS v,
    CAST(event_id % 7 + 1 AS DOUBLE) AS w
  FROM events WHERE value IS NOT NULL),
m AS (
  SELECT event_type, v,
    sum(w) OVER (PARTITION BY event_type ORDER BY v) AS cum,
    sum(w) OVER (PARTITION BY event_type) AS tot
  FROM b)
SELECT event_type, round(max(tot), 6) AS total_weight,
  min(v) AS weighted_median
FROM m WHERE cum * 2 >= tot GROUP BY event_type ORDER BY event_type
"""


QUERIES.update({
    "weighted_median": QueryDef(q_weighted_median, _WEIGHTED_MEDIAN_ORACLE),
})


def q_ngram_uniqueness(spark, sf_dir):
    """Across-corpus distinctiveness per doc (curation.
    ngram_uniqueness): the fraction of a doc's distinct word-3-grams
    found in no other document — low = boilerplate/near-dup residue.
    Oracle recomputes the same df==1 fraction over STRING grams (the
    Spark side hashes grams to 8-byte keys; hash collisions would
    surface as a mismatch, so the hash-match also certifies
    collision-freeness at this scale)."""
    from inception_eventstore_spark.operators import curation as CU

    docs = _t(spark, sf_dir, "documents")
    return CU.ngram_uniqueness(docs, n=3).orderBy("doc_id")


_NGRAM_UNIQUENESS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
sets AS (
  SELECT doc_id,
    list_distinct([array_to_string(list_slice(tk, i, least(i+2, len(tk))), ' ')
                   for i in generate_series(1, greatest(len(tk)-2, 1))]) AS grams
  FROM toks WHERE len(tk) > 0),
ex AS (SELECT doc_id, unnest(grams) AS g FROM sets),
dfreq AS (SELECT g, count(DISTINCT doc_id) AS df FROM ex GROUP BY g),
per AS (
  SELECT ex.doc_id, count(*) AS n_grams,
    sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS unique_grams
  FROM ex JOIN dfreq ON ex.g = dfreq.g GROUP BY ex.doc_id)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
  CAST(unique_grams AS BIGINT) AS unique_grams,
  round(unique_grams * 1.0 / n_grams, 6) AS uniqueness
FROM per ORDER BY doc_id
"""


QUERIES.update({
    "ngram_uniqueness": QueryDef(
        q_ngram_uniqueness, _NGRAM_UNIQUENESS_ORACLE
    ),
})


# ----------------------------------------------------------------------
# Round 5: quality-stratification additions
# ----------------------------------------------------------------------
_DUCK_LM_SCORE_CTES = f"""
toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
pairs AS (
  SELECT doc_id, g['a'] AS a, g['b'] AS b FROM (
    SELECT doc_id,
      unnest([struct_pack(a := tk[i], b := tk[i+1])
              for i in generate_series(1, len(tk)-1)]) AS g
    FROM toks WHERE len(tk) >= 2)),
c2 AS (SELECT a, b, count(*) AS c2 FROM pairs GROUP BY a, b),
c1 AS (SELECT a, sum(c2) AS c1 FROM c2 GROUP BY a),
v AS (SELECT count(DISTINCT t) AS vocab FROM (
  SELECT unnest({_DUCK_TOKENS}) AS t FROM documents)),
lp AS (
  SELECT p.doc_id,
    ln((c2.c2 + 1) / (CAST(c1.c1 AS DOUBLE) + v.vocab)) AS lp
  FROM pairs p JOIN c2 USING (a, b) JOIN c1 USING (a) CROSS JOIN v),
sc AS (SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS lm_score
  FROM lp GROUP BY doc_id)
"""


def q_ppl_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (curation.ppl_buckets): per
    language, documents split head / middle / tail thirds by the
    add-one bigram LM fluency score — the standard quality
    stratification before mixture weighting (Wenzek et al. 2020).
    Rank-based integer cuts, so bucket membership has an exact SQL
    twin; ranking on the 6-dp score the lm_bigram_score hash match
    already certifies identical."""
    from inception_eventstore_spark.functions.spread import spread
    from inception_eventstore_spark.operators.curation import ppl_buckets

    d = spread(_t(spark, sf_dir, "documents"))
    return ppl_buckets(d).orderBy("doc_id")


_PPL_BUCKETS_ORACLE = f"""
WITH {_DUCK_LM_SCORE_CTES},
j AS (SELECT d.doc_id, d.lang, sc.n_bigrams, sc.lm_score
  FROM documents d JOIN sc USING (doc_id)),
r AS (SELECT *,
    row_number() OVER (PARTITION BY lang ORDER BY lm_score DESC, doc_id)
      AS rn,
    count(*) OVER (PARTITION BY lang) AS n
  FROM j)
SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams, lm_score,
  CASE WHEN 3 * rn <= n THEN 'head'
       WHEN 3 * rn <= 2 * n THEN 'middle'
       ELSE 'tail' END AS bucket
FROM r ORDER BY doc_id
"""


def q_domain_reweight(spark, sf_dir):
    """Quality-driven domain mixture reweighting
    (sampling.quality_domain_weights): each language's natural share
    multiplied by exp(eta * (its mean LM fluency - the global mean))
    and renormalized — the exponentiated-gradient step of the DoReMi
    family (Xie et al. 2023) with the CCNet fluency signal. eta = 0.5
    (a binary rational, exact in both engines)."""
    from inception_eventstore_spark.functions.spread import spread
    from inception_eventstore_spark.operators.lm import bigram_lm_score
    from inception_eventstore_spark.operators.sampling import (
        quality_domain_weights,
    )

    d = spread(_t(spark, sf_dir, "documents"))
    return quality_domain_weights(d, bigram_lm_score(d), eta=0.5)


_DOMAIN_REWEIGHT_ORACLE = f"""
WITH {_DUCK_LM_SCORE_CTES},
j AS (SELECT d.lang, sc.lm_score FROM documents d JOIN sc USING (doc_id)),
per AS (SELECT lang, count(*) AS n_docs, avg(lm_score) AS mq
  FROM j GROUP BY lang),
tot AS (SELECT count(*) AS n, avg(lm_score) AS gq FROM j),
raw AS (SELECT lang, n_docs, mq,
    (n_docs * 1.0 / tot.n) * exp(0.5 * (mq - tot.gq)) AS w
  FROM per CROSS JOIN tot),
z AS (SELECT sum(w) AS z FROM raw)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
  round(mq, 6) AS mean_score, round(w / z.z, 6) AS weight
FROM raw CROSS JOIN z ORDER BY lang
"""


QUERIES.update({
    "ppl_buckets": QueryDef(q_ppl_buckets, _PPL_BUCKETS_ORACLE),
    "domain_reweight": QueryDef(q_domain_reweight, _DOMAIN_REWEIGHT_ORACLE),
})


def q_winnow_fingerprints(spark, sf_dir):
    """MOSS winnowing fingerprints (text.winnow_fingerprints, Schleimer
    et al. 2003): every selected (position, 40-bit k-gram hash) pair of
    every document — the position-local fingerprint family MinHash
    lacks. Pure integer/md5 arithmetic, so the full selected set is
    value-checked against the identical window replay in SQL."""
    from inception_eventstore_spark.functions.spread import spread
    from inception_eventstore_spark.operators.text import winnow_fingerprints

    d = spread(_t(spark, sf_dir, "documents"))
    out = winnow_fingerprints(d, k=5, w=4)
    return out.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("fp").cast("bigint").alias("fp"),
    ).orderBy("doc_id", "pos")


_WINNOW_FP_ORACLE = """
WITH nrm AS (SELECT doc_id,
  regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nm FROM documents),
s AS (SELECT doc_id, nm FROM nrm WHERE len(nm) >= 5),
e AS (SELECT doc_id, nm,
  unnest(generate_series(1, len(nm) - 4)) AS gpos FROM s),
g AS (SELECT doc_id, gpos,
  CAST(('0x' || substr(md5(substr(nm, gpos, 5)), 1, 10)) AS BIGINT) AS h
  FROM e),
p AS (SELECT doc_id, gpos,
  min(h * 8388608 + (8388607 - gpos)) OVER (PARTITION BY doc_id
    ORDER BY gpos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel,
  count(*) OVER (PARTITION BY doc_id) AS ng
  FROM g)
SELECT DISTINCT doc_id,
  CAST(8388607 - (sel % 8388608) AS BIGINT) AS pos,
  CAST(sel // 8388608 AS BIGINT) AS fp
FROM p WHERE gpos >= 4 OR (ng < 4 AND gpos = ng)
ORDER BY doc_id, pos
"""


def q_winnow_matches(spark, sf_dir):
    """MOSS match report (text.winnow_matches): ordered document pairs
    sharing >= 5 winnowing fingerprints via the inverted-index join,
    with MOSS's common-code rule applied (max_df=20: fingerprints in
    more than 20 documents are ignored — they signal boilerplate and
    cost df² pairs each). The fixture corpus has a ~31-word
    vocabulary, so without both dials nearly every pair matches; with
    them the report isolates genuinely heavy localized overlap and the
    join fan-out is bounded by #fingerprints * max_df² regardless of
    corpus size."""
    from inception_eventstore_spark.functions.spread import spread
    from inception_eventstore_spark.operators.text import winnow_matches

    d = spread(_t(spark, sf_dir, "documents"))
    return winnow_matches(
        d, k=5, w=4, min_shared=5, max_df=20
    ).orderBy("id_a", "id_b")


_WINNOW_MATCHES_ORACLE = """
WITH nrm AS (SELECT doc_id,
  regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nm FROM documents),
s AS (SELECT doc_id, nm FROM nrm WHERE len(nm) >= 5),
e AS (SELECT doc_id, nm,
  unnest(generate_series(1, len(nm) - 4)) AS gpos FROM s),
g AS (SELECT doc_id, gpos,
  CAST(('0x' || substr(md5(substr(nm, gpos, 5)), 1, 10)) AS BIGINT) AS h
  FROM e),
p AS (SELECT doc_id, gpos,
  min(h * 8388608 + (8388607 - gpos)) OVER (PARTITION BY doc_id
    ORDER BY gpos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel,
  count(*) OVER (PARTITION BY doc_id) AS ng
  FROM g),
fp0 AS (SELECT DISTINCT doc_id, sel // 8388608 AS fp
  FROM p WHERE gpos >= 4 OR (ng < 4 AND gpos = ng)),
dfc AS (SELECT fp FROM fp0 GROUP BY fp HAVING count(*) <= 20),
fp AS (SELECT f.doc_id, f.fp FROM fp0 f JOIN dfc USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(count(*) AS BIGINT) AS n_shared
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 5
ORDER BY id_a, id_b
"""


QUERIES.update({
    "winnow_fingerprints": QueryDef(
        q_winnow_fingerprints, _WINNOW_FP_ORACLE
    ),
    "winnow_matches": QueryDef(q_winnow_matches, _WINNOW_MATCHES_ORACLE),
})


def q_semdedup(spark, sf_dir):
    """SemDeDup (clustering.semantic_dedup_flags, Abbas et al. 2023):
    cluster-bucketed semantic near-dup flags over the corpus plus 50
    planted perturbed copies (the fixture embeddings have no natural
    near-dups — max pairwise cosine ~0.45), centroids pinned to the
    vectors of vec_id 0..15 so assignment, the keep-the-outlier rule
    and the drop set all replay exactly in SQL. 16 cells, not 4:
    within-cell comparison is quadratic and the cluster count is
    SemDeDup's scaling dial — 4 cells at sf0.1 meant ~1.6M wide pair
    rows per cell and blew the 1g bench heap; 16 keeps cells
    ~|corpus|/16."""
    from inception_eventstore_spark.operators import clustering as CL

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + F.lit(10_000_000_000)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + F.lit(0.001).cast("float")
        ).alias("embedding"),
    )
    both = emb.unionByName(planted)
    cent = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    return CL.semantic_dedup_flags(both, cent, threshold=0.99).orderBy(
        "vec_id"
    )


def _semdedup_oracle() -> str:
    fold = (
        "list_reduce(list_prepend(0.0, list_transform("
        "range(1, len({a}) + 1), i -> {expr})), (acc, x) -> acc + x)"
    )
    d2 = fold.format(a="allv.ev", expr="(allv.ev[i]-c.cv[i])*(allv.ev[i]-c.cv[i])")
    dotvc = fold.format(a="allv.ev", expr="allv.ev[i]*c.cv[i]")
    dotvv = fold.format(a="allv.ev", expr="allv.ev[i]*allv.ev[i]")
    dotcc = fold.format(a="c.cv", expr="c.cv[i]*c.cv[i]")
    return f"""
WITH planted AS (SELECT vec_id + 10000000000 AS vec_id,
  list_transform(embedding, x -> x + CAST(0.001 AS FLOAT)) AS embedding
  FROM embeddings WHERE vec_id < 50),
uni AS (SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id, embedding FROM planted),
allv AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM uni),
c AS (SELECT vec_id AS cid,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id < 16),
d AS (SELECT allv.vec_id, c.cid, {d2} AS d2 FROM allv CROSS JOIN c),
a AS (SELECT vec_id, cid AS cluster FROM (
  SELECT vec_id, cid, row_number() OVER (
    PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d) WHERE rn = 1),
m AS (SELECT a.vec_id, a.cluster, allv.ev,
  round({dotvc} / (sqrt({dotvv}) * sqrt({dotcc})), 6) AS cc
  FROM a JOIN allv USING (vec_id) JOIN c ON a.cluster = c.cid),
p AS (SELECT DISTINCT x.vec_id FROM m x JOIN m y ON x.cluster = y.cluster
  AND x.vec_id <> y.vec_id
  AND (y.cc < x.cc OR (y.cc = x.cc AND y.vec_id < x.vec_id))
  WHERE list_cosine_similarity(x.ev, y.ev) >= 0.99)
SELECT m.vec_id, CAST(m.cluster AS BIGINT) AS cluster,
  CAST(p.vec_id IS NOT NULL AS BIGINT) AS is_dup
FROM m LEFT JOIN p ON m.vec_id = p.vec_id ORDER BY m.vec_id
"""


QUERIES.update({
    "semdedup": QueryDef(q_semdedup, _semdedup_oracle()),
})


def q_soft_dedup_weights(spark, sf_dir):
    """Soft deduplication (components.soft_dedup_weights): every
    member of an exact-Jaccard near-dup cluster weighted 1/|cluster|
    so common text is down-weighted smoothly instead of deleted;
    untouched docs keep weight 1.0. The oracle closes the same pair
    graph with a recursive CTE and re-derives every size and weight."""
    from inception_eventstore_spark.operators.components import (
        soft_dedup_weights,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, n=3, threshold=0.8)
    return soft_dedup_weights(d, pairs).orderBy("doc_id")


def _soft_dedup_oracle() -> str:
    return f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
sets AS (
  SELECT doc_id,
    list_distinct([array_to_string(list_slice(tk, i, least(i+2, len(tk))), ' ')
                   for i in generate_series(1, greatest(len(tk)-2, 1))]) AS grams
  FROM toks WHERE len(tk) > 0),
pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / (CAST(len(a.grams) + len(b.grams) AS DOUBLE)
         - CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)) >= 0.8),
und AS (
  SELECT id_a AS u, id_b AS v FROM pr
  UNION SELECT id_b AS u, id_a AS v FROM pr),
reach AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, n.v FROM reach r JOIN und n ON r.v = n.u WHERE n.v <> r.u),
comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS component
  FROM reach GROUP BY u),
sz AS (SELECT component, count(*) AS s FROM comp GROUP BY component)
SELECT d.doc_id,
  CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component,
  CAST(coalesce(sz.s, 1) AS BIGINT) AS cluster_size,
  round(1.0 / coalesce(sz.s, 1), 6) AS weight
FROM documents d
LEFT JOIN comp c USING (doc_id)
LEFT JOIN sz ON c.component = sz.component
ORDER BY d.doc_id
"""


def q_contamination_fraction(spark, sf_dir):
    """Graded benchmark contamination (decontaminate.
    contamination_fraction): per corpus doc, the FRACTION of its
    distinct word 5-grams found in the benchmark set — the number
    behind published "n-gram overlap > X%" reports, where the binary
    flag would over-delete. Same planted-paraphrase construction as
    `decontaminate` so partial overlap genuinely occurs."""
    from inception_eventstore_spark.functions.spread import spread
    from inception_eventstore_spark.operators import decontaminate as DC
    from inception_eventstore_spark.operators.dedup import tokens

    d = spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    bench = d.where(F.col("doc_id") % 53 == 0)
    planted = bench.select(
        (F.col("doc_id") + F.lit(10_000_000_000)).alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("zzz"),
            F.concat_ws(" ", F.slice(tokens("text"), 3, 7)),
            F.lit("qqq"),
        ).alias("text"),
    )
    corpus = d.unionByName(planted)
    return DC.contamination_fraction(corpus, bench, n=5).orderBy("doc_id")


_CONTAMINATION_FRACTION_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
corpus AS (SELECT doc_id, tk FROM toks
  UNION ALL SELECT doc_id + 10000000000,
    list_concat(list_concat(['zzz'], tk[3:9]), ['qqq']) FROM toks
  WHERE doc_id % 53 = 0),
grams AS (SELECT doc_id, gram FROM (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, len(tk) - 5 + 2),
    i -> array_to_string(tk[i:i+4], ' ')))) AS gram
  FROM corpus WHERE len(tk) >= 5)),
bench AS (SELECT DISTINCT gram FROM grams
  WHERE doc_id % 53 = 0 AND doc_id < 10000000000)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
  CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_contaminated,
  round(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) * 1.0
        / count(*), 6) AS overlap_frac
FROM grams g LEFT JOIN bench b USING (gram)
GROUP BY g.doc_id ORDER BY g.doc_id
"""


QUERIES.update({
    "soft_dedup_weights": QueryDef(q_soft_dedup_weights, _soft_dedup_oracle()),
    "contamination_fraction": QueryDef(
        q_contamination_fraction, _CONTAMINATION_FRACTION_ORACLE
    ),
})


def q_token_allocation(spark, sf_dir):
    """Mixture → sampling plan (sampling.token_budget_allocation): the
    DoReMi-style domain weights from `domain_reweight` turned into
    per-language token targets, integer-exact allocations, and 6-dp
    sample rates against a 100k-token budget — the step that makes a
    mixture executable. Undersupplied domains surface as
    alloc_tok < target_tok."""
    from inception_eventstore_spark.functions.spread import spread
    from inception_eventstore_spark.operators.lm import bigram_lm_score
    from inception_eventstore_spark.operators.sampling import (
        quality_domain_weights,
        token_budget_allocation,
    )

    d = spread(_t(spark, sf_dir, "documents"))
    w = quality_domain_weights(d, bigram_lm_score(d), eta=0.5)
    toks = d.select(
        "doc_id", "lang", TX.token_count("text").cast("long").alias("n_tok")
    )
    return token_budget_allocation(toks, w, budget=100_000)


_TOKEN_ALLOCATION_ORACLE = f"""
WITH {_DUCK_LM_SCORE_CTES},
j AS (SELECT d.lang, sc.lm_score FROM documents d JOIN sc USING (doc_id)),
per0 AS (SELECT lang, count(*) AS n_docs, avg(lm_score) AS mq
  FROM j GROUP BY lang),
tot AS (SELECT count(*) AS n, avg(lm_score) AS gq FROM j),
raw AS (SELECT lang, n_docs, mq,
    (n_docs * 1.0 / tot.n) * exp(0.5 * (mq - tot.gq)) AS w
  FROM per0 CROSS JOIN tot),
z AS (SELECT sum(w) AS z FROM raw),
wt AS (SELECT lang, round(w / z.z, 6) AS weight FROM raw CROSS JOIN z),
corp AS (SELECT lang, count(*) AS n_docs,
    sum(CAST(len({_DUCK_TOKENS}) AS BIGINT)) AS tot_tok
  FROM documents GROUP BY lang)
SELECT corp.lang, CAST(corp.n_docs AS BIGINT) AS n_docs,
  CAST(corp.tot_tok AS BIGINT) AS tot_tok,
  CAST(floor(wt.weight * 100000.0) AS BIGINT) AS target_tok,
  CAST(least(corp.tot_tok, CAST(floor(wt.weight * 100000.0) AS BIGINT))
       AS BIGINT) AS alloc_tok,
  round(least(1.0, CAST(floor(wt.weight * 100000.0) AS BIGINT) * 1.0
              / corp.tot_tok), 6) AS sample_rate
FROM corp JOIN wt USING (lang) ORDER BY corp.lang
"""


QUERIES.update({
    "token_allocation": QueryDef(q_token_allocation, _TOKEN_ALLOCATION_ORACLE),
})


def q_quality_correlations(spark, sf_dir):
    """Curation-signal redundancy diagnostic
    (curation.quality_signal_correlations): Pearson correlations
    between word_count, mean_word_len and the bigram-LM fluency score
    — highly-correlated signals gate the same documents twice. The
    oracle recomputes each correlation with DuckDB's corr() over the
    identical joined row set; both engines' one-pass co-moment
    estimators agree far inside the 6-dp rounding."""
    from inception_eventstore_spark.functions.spread import spread
    from inception_eventstore_spark.operators.curation import (
        quality_signal_correlations,
    )

    d = spread(_t(spark, sf_dir, "documents"))
    return quality_signal_correlations(d).orderBy("signal_a", "signal_b")


_QUALITY_CORR_ORACLE = f"""
WITH {_DUCK_LM_SCORE_CTES},
t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
f AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS word_count,
  -- round to 6 dp exactly like curation_features' mean_word_len:
  -- the corr INPUTS must be the identical doubles, not just close
  round(CASE WHEN len(tk) > 0 THEN
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(tk, x -> CAST(len(x) AS BIGINT))),
      (acc, x) -> acc + x) * 1.0 / len(tk)
  ELSE 0.0 END, 6) AS mean_word_len
  FROM t),
j AS (SELECT f.word_count, f.mean_word_len, sc.lm_score
  FROM f JOIN sc USING (doc_id)),
c AS (SELECT count(*) AS n,
  corr(word_count, mean_word_len) AS c1,
  corr(word_count, lm_score) AS c2,
  corr(mean_word_len, lm_score) AS c3
  FROM j)
SELECT 'word_count' AS signal_a, 'mean_word_len' AS signal_b,
  round(c1, 6) AS corr, CAST(n AS BIGINT) AS n FROM c
UNION ALL
SELECT 'word_count', 'lm_score', round(c2, 6), CAST(n AS BIGINT) FROM c
UNION ALL
SELECT 'mean_word_len', 'lm_score', round(c3, 6), CAST(n AS BIGINT) FROM c
ORDER BY signal_a, signal_b
"""


QUERIES.update({
    "quality_correlations": QueryDef(
        q_quality_correlations, _QUALITY_CORR_ORACLE
    ),
})


# ----------------------------------------------------------------------
# Round 6: perceptual image dedup (operators/phash.py)
# ----------------------------------------------------------------------
_MEDIA_FIXTURE_CACHE: dict = {}


def _phash_fixture_rows(n_imgs: int = 32):
    """Originals + JPEG-85 re-encoded near-dup plants (id + 1000), as
    plain rows. Payloads and the oracle's literal hashes come from the
    SAME driver-side functions, so the oracle checks the full Spark
    plumbing (Arrow kernel, banded join, bit_count verify) against an
    independently-computed hash table. Memoized — the JPEG re-encode
    pass costs ~2 s and the query + oracle + bench all need the same
    rows."""
    cached = _MEDIA_FIXTURE_CACHE.get(("phash", n_imgs))
    if cached is not None:
        return cached
    from inception_eventstore_spark.operators import phash as PH
    from inception_eventstore_spark.operators.jpeg import encode_jpeg
    from inception_eventstore_spark.operators.multimodal import _decode_image

    rows = []
    for i, p in PH.textured_test_images(n_imgs):
        rows.append((i, bytearray(p)))
        rows.append(
            (i + 1000, bytearray(encode_jpeg(_decode_image(p), quality=85)))
        )
    _MEDIA_FIXTURE_CACHE[("phash", n_imgs)] = rows
    return rows


def q_image_phash(spark, sf_dir):
    """63-bit DCT perceptual hashes (phash.image_phashes) of the
    textured fixture images + their JPEG-85 re-encodes — image-level
    dedup signal the byte/token dedup family can't see. One Arrow
    kernel (decode → 32×32 bilinear → 2-D DCT → median-threshold the
    63 AC coefficients); the literal oracle re-derives every hash
    driver-side from the same payload bytes."""
    from inception_eventstore_spark.operators import phash as PH

    assets = local_df(
        spark, _phash_fixture_rows(), "asset_id long, payload binary",
        slices=2,
    )
    return PH.image_phashes(assets).orderBy("asset_id")


def _image_phash_oracle() -> str:
    from inception_eventstore_spark.operators import phash as PH

    vals = ",\n".join(
        f"({i}, {PH.phash63(bytes(p))})" for i, p in _phash_fixture_rows()
    )
    return f"""
SELECT CAST(asset_id AS BIGINT) AS asset_id, CAST(ph AS BIGINT) AS phash
FROM (VALUES {vals}) AS t(asset_id, ph) ORDER BY asset_id
"""


def q_phash_near_dup(spark, sf_dir):
    """Image near-duplicate pairs (phash.phash_near_duplicates):
    hamming(pHash) ≤ 6 via the 7×9-bit block pigeonhole join — finds
    each JPEG re-encode of its PNG original (planted at id + 1000)
    without an all-pairs image join. The banded join is lossless at
    t ≤ 6, so the oracle replays the exact hamming ball over the same
    literal hash table with bit_count(xor)."""
    from inception_eventstore_spark.operators import phash as PH

    assets = local_df(
        spark, _phash_fixture_rows(), "asset_id long, payload binary",
        slices=2,
    )
    return PH.phash_near_duplicates(assets, max_hamming=6).orderBy(
        "id_a", "id_b"
    )


def _phash_near_dup_oracle() -> str:
    from inception_eventstore_spark.operators import phash as PH

    vals = ",\n".join(
        f"({i}, {PH.phash63(bytes(p))})" for i, p in _phash_fixture_rows()
    )
    return f"""
WITH h AS (SELECT CAST(id AS BIGINT) AS id, CAST(ph AS BIGINT) AS ph
  FROM (VALUES {vals}) AS t(id, ph))
SELECT a.id AS id_a, b.id AS id_b,
  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.id < b.id
WHERE bit_count(xor(a.ph, b.ph)) <= 6
ORDER BY id_a, id_b
"""


QUERIES.update({
    "image_phash": QueryDef(q_image_phash, _image_phash_oracle()),
    "phash_near_dup": QueryDef(q_phash_near_dup, _phash_near_dup_oracle()),
})


# ----------------------------------------------------------------------
# Round 6: audio fingerprint dedup (operators/audiofp.py)
# ----------------------------------------------------------------------
def _audiofp_fixture_rows(n_clips: int = 24):
    """Originals + two planted perturbed copies each (×0.5 volume at
    id + 1000, ×2 upsample at id + 2000) — the measured robustness
    envelope of the spectral fingerprint."""
    import numpy as _np

    from inception_eventstore_spark.operators import audiofp as AFP
    from inception_eventstore_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    cached = _MEDIA_FIXTURE_CACHE.get(("audio", n_clips))
    if cached is not None:
        return cached
    rows = []
    for i, p in AFP.textured_test_audio(n_clips):
        rows.append((i, bytearray(p)))
        x, rate = decode_wav(p)
        half = encode_wav(
            (_np.clip(_np.asarray(x) * 0.5, -1, 1) * 32767).astype(
                _np.int16
            ),
            rate,
        )
        rows.append((i + 1000, bytearray(half)))
        n2 = len(x) * 2
        up = _np.interp(
            _np.arange(n2) / (rate * 2),
            _np.arange(len(x)) / rate,
            _np.asarray(x),
        )
        rows.append(
            (
                i + 2000,
                bytearray(
                    encode_wav(
                        (_np.clip(up, -1, 1) * 32767).astype(_np.int16),
                        rate * 2,
                    )
                ),
            )
        )
    _MEDIA_FIXTURE_CACHE[("audio", n_clips)] = rows
    return rows


def q_audio_fingerprint(spark, sf_dir):
    """63-bit spectral audio fingerprints (audiofp.audio_fingerprints,
    Haitsma-Kalker band-delta bits over absolute-Hz bands) of the
    textured clips + their re-leveled / upsampled copies. One Arrow
    kernel; the literal oracle re-derives every fingerprint
    driver-side from the same payload bytes."""
    from inception_eventstore_spark.operators import audiofp as AFP

    assets = local_df(
        spark, _audiofp_fixture_rows(), "asset_id long, payload binary",
        slices=2,
    )
    return AFP.audio_fingerprints(assets).orderBy("asset_id")


def _audio_fingerprint_oracle() -> str:
    from inception_eventstore_spark.operators import audiofp as AFP

    vals = ",\n".join(
        f"({i}, {AFP.audio_fingerprint63(bytes(p))})"
        for i, p in _audiofp_fixture_rows()
    )
    return f"""
SELECT CAST(asset_id AS BIGINT) AS asset_id, CAST(fp AS BIGINT) AS afp
FROM (VALUES {vals}) AS t(asset_id, fp) ORDER BY asset_id
"""


def q_audio_near_dup(spark, sf_dir):
    """Audio near-duplicate pairs (audiofp.audio_near_duplicates):
    hamming ≤ 8 via the 9×7-bit block pigeonhole join — each original
    pairs with BOTH its planted copies (and the two copies with each
    other); the oracle replays the exact hamming ball over the same
    literal fingerprint table with bit_count(xor)."""
    from inception_eventstore_spark.operators import audiofp as AFP

    assets = local_df(
        spark, _audiofp_fixture_rows(), "asset_id long, payload binary",
        slices=2,
    )
    return AFP.audio_near_duplicates(assets).orderBy("id_a", "id_b")


def _audio_near_dup_oracle() -> str:
    from inception_eventstore_spark.operators import audiofp as AFP

    vals = ",\n".join(
        f"({i}, {AFP.audio_fingerprint63(bytes(p))})"
        for i, p in _audiofp_fixture_rows()
    )
    return f"""
WITH h AS (SELECT CAST(id AS BIGINT) AS id, CAST(fp AS BIGINT) AS fp
  FROM (VALUES {vals}) AS t(id, fp))
SELECT a.id AS id_a, b.id AS id_b,
  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.id < b.id
WHERE bit_count(xor(a.fp, b.fp)) <= 8
ORDER BY id_a, id_b
"""


QUERIES.update({
    "audio_fingerprint": QueryDef(
        q_audio_fingerprint, _audio_fingerprint_oracle()
    ),
    "audio_near_dup": QueryDef(q_audio_near_dup, _audio_near_dup_oracle()),
})


def _video_fixture_rows(n_clips: int = 10):
    """Textured AVI clips + a quality-70 re-encode of each (id+1000):
    generation-lossy copies whose frames still pHash-match within 6
    bits (measured ≤ 2)."""
    from inception_eventstore_spark.operators import phash as PH
    from inception_eventstore_spark.operators.avi import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )

    cached = _MEDIA_FIXTURE_CACHE.get(("video", n_clips))
    if cached is not None:
        return cached
    rows = []
    for v, avi in PH.textured_test_videos(n_clips):
        rows.append((v, bytearray(avi)))
        frames, _ = decode_avi_mjpeg(avi)
        rows.append(
            (v + 1000, bytearray(encode_avi_mjpeg(frames, fps=4, quality=70)))
        )
    _MEDIA_FIXTURE_CACHE[("video", n_clips)] = rows
    return rows


def q_video_near_dup(spark, sf_dir):
    """Video near-duplicate pairs (phash.video_near_duplicates):
    frame-pHash pigeonhole matching — each clip pairs with its
    quality-70 re-encode at coverage 1.0; the oracle replays frame
    extraction + hashing driver-side into a literal (video, frame,
    hash) table and re-derives the pair report in SQL."""
    from inception_eventstore_spark.operators import phash as PH

    assets = local_df(
        spark, _video_fixture_rows(), "asset_id long, payload binary",
        slices=2,
    )
    return PH.video_near_duplicates(assets, min_coverage=0.5).orderBy(
        "id_a", "id_b"
    )


def _video_near_dup_oracle() -> str:
    from inception_eventstore_spark.operators import phash as PH
    from inception_eventstore_spark.operators.avi import extract_mjpeg_frames

    vals = []
    for vid, avi in _video_fixture_rows():
        for f, jpeg in enumerate(extract_mjpeg_frames(bytes(avi))):
            vals.append(f"({vid}, {f}, {PH.phash63(jpeg)})")
    body = ",\n".join(vals)
    return f"""
WITH fh AS (SELECT CAST(vid AS BIGINT) AS vid, CAST(f AS BIGINT) AS f,
    CAST(h AS BIGINT) AS h
  FROM (VALUES {body}) AS t(vid, f, h)),
nf AS (SELECT vid, count(*) AS n FROM fh GROUP BY vid),
fp AS (SELECT a.vid AS va, a.f AS fa, b.vid AS vb, b.f AS fb
  FROM fh a JOIN fh b
  ON a.vid < b.vid AND bit_count(xor(a.h, b.h)) <= 6),
ag AS (SELECT va, vb, count(DISTINCT fa) AS ma, count(DISTINCT fb) AS mb
  FROM fp GROUP BY va, vb),
cov AS (SELECT va AS id_a, vb AS id_b,
    CAST(ma AS BIGINT) AS n_matched_a, CAST(mb AS BIGINT) AS n_matched_b,
    round(least(ma * 1.0 / na.n, mb * 1.0 / nb.n), 6) AS coverage
  FROM ag JOIN nf na ON na.vid = ag.va JOIN nf nb ON nb.vid = ag.vb)
SELECT * FROM cov WHERE coverage >= 0.5 ORDER BY id_a, id_b
"""


QUERIES.update({
    "video_near_dup": QueryDef(q_video_near_dup, _video_near_dup_oracle()),
})


def q_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining (similarity.hard_negatives):
    for the first 8 labeled vectors, the 5 most cosine-similar
    DIFFERENT-label vectors — one corpus scan for all anchors (the
    multi_query_topk serving shape with a label mask). Anchors are
    table rows, so the oracle re-derives the full report relationally:
    normalized-dot cosine, same-label anti-filter, (cos desc, id)
    rank."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = [
        (int(r["vec_id"]), list(r["embedding"]), int(r["label"]))
        for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    return S.hard_negatives(emb, anchors, k=5).orderBy("anchor_id", "rank")


_HARD_NEGATIVES_ORACLE = """
WITH v AS (SELECT vec_id, label,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings),
n AS (SELECT vec_id, label, ev,
    sqrt(list_reduce(list_prepend(0.0,
      list_transform(ev, x -> x * x)), (acc, x) -> acc + x)) AS nrm
  FROM v),
a AS (SELECT vec_id AS anchor_id, label AS albl, ev AS av, nrm AS anrm
  FROM n WHERE vec_id < 8),
s AS (SELECT a.anchor_id, n.vec_id,
    list_reduce(list_prepend(0.0,
      list_transform(range(1, len(n.ev) + 1),
        i -> (n.ev[i] / n.nrm) * (a.av[i] / a.anrm))),
      (acc, x) -> acc + x) AS cos
  FROM n JOIN a ON n.label <> a.albl),
r AS (SELECT anchor_id, vec_id, cos, row_number() OVER (
    PARTITION BY anchor_id ORDER BY cos DESC, vec_id) AS rank
  FROM s)
SELECT anchor_id, CAST(rank AS BIGINT) AS rank, vec_id,
  round(cos, 6) AS cosine
FROM r WHERE rank <= 5 ORDER BY anchor_id, rank
"""


QUERIES.update({
    "hard_negatives": QueryDef(q_hard_negatives, _HARD_NEGATIVES_ORACLE),
})


def q_token_fertility(spark, sf_dir):
    """Per-language tokenizer fertility (tokenstats.token_fertility):
    subwords/word, bytes/subword, subwords/doc — the table that
    converts a TOKEN budget into a DOCUMENT plan per language before
    mixture weighting (tokenizer cost varies by script). One
    partial-aggregated scan; |languages| output rows."""
    from inception_eventstore_spark.functions.spread import spread
    from inception_eventstore_spark.operators.tokenstats import (
        token_fertility,
    )

    d = spread(_t(spark, sf_dir, "documents"))
    return token_fertility(d).orderBy("lang")


_TOKEN_FERTILITY_ORACLE = f"""
WITH p AS (SELECT lang,
    len({_DUCK_TOKENS}) AS w,
    coalesce(list_sum(list_transform(
      list_filter(string_split_regex(lower(text), '[^\\pL\\pN]+'),
        x -> x <> ''),
      t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), 0) AS s,
    octet_length(encode(text)) AS b
  FROM documents),
a AS (SELECT lang, count(*) AS n_docs, sum(w) AS n_words,
    sum(s) AS n_subwords, sum(b) AS n_bytes
  FROM p GROUP BY lang)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_words AS BIGINT) AS n_words,
  CAST(n_subwords AS BIGINT) AS n_subwords,
  CAST(n_bytes AS BIGINT) AS n_bytes,
  round(n_subwords * 1.0 / n_words, 6) AS subwords_per_word,
  round(n_bytes * 1.0 / n_subwords, 6) AS bytes_per_subword,
  round(n_subwords * 1.0 / n_docs, 6) AS subwords_per_doc
FROM a ORDER BY lang
"""


QUERIES.update({
    "token_fertility": QueryDef(q_token_fertility, _TOKEN_FERTILITY_ORACLE),
})


def q_matryoshka_overlap(spark, sf_dir):
    """Matryoshka truncation diagnostic (matryoshka.prefix_topk_overlap):
    recall of prefix-dimension L2 top-10 vs the full-dimension top-10
    for the vec_id=0 query — the measurement before committing a
    corpus to cheap low-dim prefix retrieval. Rounded-6 distance
    cutoffs make every truncated scan engine-portable."""
    from inception_eventstore_spark.operators.matryoshka import (
        prefix_topk_overlap,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = list(
        emb.where(F.col("vec_id") == 0).select("embedding").first()[
            "embedding"
        ]
    )
    cand = emb.where(F.col("vec_id") != 0)
    return prefix_topk_overlap(cand, qvec, dims=(8, 16, 32), k=10).orderBy(
        "dims"
    )


def _matryoshka_oracle() -> str:
    def topk(d: int, name: str) -> str:
        return f"""
{name} AS (SELECT vec_id FROM (
  SELECT e.vec_id,
    round(sqrt(list_reduce(list_prepend(0.0,
      list_transform(range(1, {d} + 1),
        i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE))
           * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE)))),
      (acc, x) -> acc + x)), 6) AS dist
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
  ORDER BY dist, vec_id LIMIT 10))"""

    parts = ",".join(
        [topk(64, "fullk")] + [topk(d, f"p{d}") for d in (8, 16, 32)]
    )
    unions = "\nUNION ALL\n".join(
        f"""SELECT CAST({d} AS BIGINT) AS dims,
  CAST((SELECT count(*) FROM p{d} JOIN fullk USING (vec_id)) AS BIGINT)
    AS n_common,
  round((SELECT count(*) FROM p{d} JOIN fullk USING (vec_id)) / 10.0, 6)
    AS overlap"""
        for d in (8, 16, 32)
    )
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
{parts}
SELECT * FROM ({unions}) ORDER BY dims
"""


QUERIES.update({
    "matryoshka_overlap": QueryDef(q_matryoshka_overlap, _matryoshka_oracle()),
})


_PHASH_INDEX_DIRS: dict[str, str] = {}


def q_phash_index_probe(spark, sf_dir):
    """Ingest-maintained pHash index probe (phash_index.PhashImageIndex
    — the MinHashTextIndex / IvfVectorIndex pattern applied to visual
    dedup): JPEG re-encodes of 8 corpus images probed against the
    PERSISTED bucket table; per-probe cost is |batch|·7 bucket rows
    joined on 8-byte keys, the corpus is never re-decoded. Built once
    per process (ingest-time state); the oracle replays the hamming
    ball over literal corpus + probe hash tables."""
    from inception_eventstore_spark.operators.phash_index import (
        PhashImageIndex,
    )

    prebuild_phash_index(spark, sf_dir)
    idx = PhashImageIndex.load(spark, _PHASH_INDEX_DIRS["idx"])
    probe = local_df(
        spark,
        [(i + 1000, p) for i, p in _phash_probe_payloads()],
        "asset_id long, payload binary",
    )
    return idx.query(probe, max_hamming=6).orderBy("query_id", "match_id")


def _phash_probe_payloads():
    from inception_eventstore_spark.operators import phash as PH
    from inception_eventstore_spark.operators.jpeg import encode_jpeg
    from inception_eventstore_spark.operators.multimodal import _decode_image

    cached = _MEDIA_FIXTURE_CACHE.get(("phash_probe", 8))
    if cached is not None:
        return cached
    imgs = PH.textured_test_images(32)
    rows = [
        (i, bytearray(encode_jpeg(_decode_image(imgs[i][1]), quality=85)))
        for i in range(8)
    ]
    _MEDIA_FIXTURE_CACHE[("phash_probe", 8)] = rows
    return rows


def _phash_index_probe_oracle() -> str:
    from inception_eventstore_spark.operators import phash as PH

    corpus = ",\n".join(
        f"({i}, {PH.phash63(bytes(p))})"
        for i, p in PH.textured_test_images(32)
    )
    probe = ",\n".join(
        f"({i + 1000}, {PH.phash63(bytes(p))})"
        for i, p in _phash_probe_payloads()
    )
    return f"""
WITH c AS (SELECT CAST(id AS BIGINT) AS match_id, CAST(h AS BIGINT) AS hm
  FROM (VALUES {corpus}) AS t(id, h)),
p AS (SELECT CAST(id AS BIGINT) AS query_id, CAST(h AS BIGINT) AS hq
  FROM (VALUES {probe}) AS t(id, h))
SELECT query_id, match_id,
  CAST(bit_count(xor(hq, hm)) AS BIGINT) AS hamming
FROM p CROSS JOIN c
WHERE bit_count(xor(hq, hm)) <= 6
ORDER BY query_id, match_id
"""


QUERIES.update({
    "phash_index_probe": QueryDef(
        q_phash_index_probe, _phash_index_probe_oracle()
    ),
})


def _phash_chain_fixture_rows(n_imgs: int = 24):
    """Three generations per image: PNG original (i), JPEG-85
    re-encode (i+1000), and a JPEG-70 re-encode OF THE JPEG (i+2000).
    (Measured: the hash is robust enough that generation 2 still pairs
    with the original directly on these fixtures — the closure is
    exercised structurally by the 3-node components either way, and
    the CC labeling is what downstream survivor selection consumes.)"""
    from inception_eventstore_spark.operators import phash as PH
    from inception_eventstore_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from inception_eventstore_spark.operators.multimodal import _decode_image

    cached = _MEDIA_FIXTURE_CACHE.get(("phash_chain", n_imgs))
    if cached is not None:
        return cached
    rows = []
    for i, p in PH.textured_test_images(n_imgs):
        rows.append((i, bytearray(p)))
        g1 = encode_jpeg(_decode_image(p), quality=85)
        rows.append((i + 1000, bytearray(g1)))
        g2 = encode_jpeg(decode_jpeg(g1), quality=70)
        rows.append((i + 2000, bytearray(g2)))
    _MEDIA_FIXTURE_CACHE[("phash_chain", n_imgs)] = rows
    return rows


def q_phash_clusters(spark, sf_dir):
    """Visual duplicate CLUSTERS: connected components
    (alternating large-star/small-star) over the pHash near-dup pair
    graph — each original + its two re-encode generations collapse to
    one component labeled by the smallest asset id — the closure a
    pair list alone cannot express (A~B, B~C => one survivor among
    {A,B,C}). The oracle replays pairs from literal hashes and closes
    them with a recursive CTE."""
    from inception_eventstore_spark.operators import phash as PH
    from inception_eventstore_spark.operators.components import (
        connected_components,
    )

    assets = local_df(
        spark, _phash_chain_fixture_rows(), "asset_id long, payload binary",
        slices=2,
    )
    pairs = PH.phash_near_duplicates(assets, max_hamming=6)
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("asset_id"), "component"
    ).orderBy("asset_id")


def _phash_clusters_oracle() -> str:
    from inception_eventstore_spark.operators import phash as PH

    vals = ",\n".join(
        f"({i}, {PH.phash63(bytes(p))})"
        for i, p in _phash_chain_fixture_rows()
    )
    return f"""
WITH RECURSIVE h AS (
  SELECT CAST(id AS BIGINT) AS id, CAST(ph AS BIGINT) AS ph
  FROM (VALUES {vals}) AS t(id, ph)),
pr AS (SELECT a.id AS id_a, b.id AS id_b
  FROM h a JOIN h b ON a.id < b.id
  WHERE bit_count(xor(a.ph, b.ph)) <= 6),
und AS (SELECT id_a AS u, id_b AS v FROM pr
  UNION SELECT id_b AS u, id_a AS v FROM pr),
reach AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, n.v FROM reach r JOIN und n ON r.v = n.u WHERE n.v <> r.u)
SELECT u AS asset_id, least(u, min(v)) AS component
FROM reach GROUP BY u ORDER BY asset_id
"""


QUERIES.update({
    "phash_clusters": QueryDef(q_phash_clusters, _phash_clusters_oracle()),
})


def q_k_anonymity(spark, sf_dir):
    """k-anonymity privacy audit (pii.k_anonymity_report) of the
    customer table w.r.t. the (nation, market segment, account-balance
    sign) quasi-identifier — the release check before publishing
    per-group statistics. One partial-aggregated groupBy + a scalar
    fold."""
    from inception_eventstore_spark.operators.pii import k_anonymity_report

    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_acctbal") >= 0).alias("bal_pos"),
    )
    return k_anonymity_report(
        c, ["c_nationkey", "c_mktsegment", "bal_pos"], k=5
    )


_K_ANONYMITY_ORACLE = """
WITH g AS (SELECT c_nationkey, c_mktsegment, c_acctbal >= 0 AS bal_pos,
    count(*) AS gs
  FROM customer GROUP BY 1, 2, 3)
SELECT CAST(min(gs) AS BIGINT) AS k_anonymity,
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(sum(CASE WHEN gs < 5 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_violating_groups,
  CAST(sum(CASE WHEN gs < 5 THEN gs ELSE 0 END) AS BIGINT)
    AS rows_at_risk,
  CAST(sum(gs) AS BIGINT) AS n_rows
FROM g
"""


def q_suppress_to_k(spark, sf_dir):
    """k-anonymity enforcement by suppression (pii.suppress_to_k):
    the surviving row set after dropping every quasi-identifier class
    smaller than k=5 — returned as per-class counts so the output is
    stable and scalar-typed."""
    from inception_eventstore_spark.operators.pii import suppress_to_k

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_acctbal") >= 0).alias("bal_pos"),
    )
    kept = suppress_to_k(c, ["c_nationkey", "c_mktsegment", "bal_pos"], k=5)
    return (
        kept.groupBy("c_nationkey", "c_mktsegment", "bal_pos")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("c_nationkey", "c_mktsegment", "bal_pos")
    )


_SUPPRESS_TO_K_ORACLE = """
WITH g AS (SELECT c_nationkey, c_mktsegment, c_acctbal >= 0 AS bal_pos,
    count(*) AS gs
  FROM customer GROUP BY 1, 2, 3)
SELECT c_nationkey, c_mktsegment, bal_pos, CAST(gs AS BIGINT) AS n
FROM g WHERE gs >= 5
ORDER BY c_nationkey, c_mktsegment, bal_pos
"""


QUERIES.update({
    "k_anonymity": QueryDef(q_k_anonymity, _K_ANONYMITY_ORACLE),
    "suppress_to_k": QueryDef(q_suppress_to_k, _SUPPRESS_TO_K_ORACLE),
})


def q_psi_timeline(spark, sf_dir):
    """Daily drift monitoring (profile.psi_timeline): total PSI of
    every calendar day's value distribution vs the first day — the
    dashboard series behind the two-snapshot psi_drift check. Single
    pass: baseline decile edges (6-dp, the cross-engine contract),
    one (day, bin) count scan, broadcast baseline join. The
    stationary fixture keeps psi ≈ 0 everywhere; the oracle certifies
    the arithmetic per day."""
    from inception_eventstore_spark.operators import profile as PR

    ev = _t(spark, sf_dir, "events")
    return PR.psi_timeline(ev, "ts", "value", bins=10)


_PSI_TIMELINE_ORACLE = """
WITH per AS (SELECT strftime(ts, '%Y-%m-%d') AS period, value AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
bp AS (SELECT min(period) AS p0 FROM per),
edges AS (SELECT round(unnest(q), 6) AS e FROM (
  SELECT quantile_cont(v,
    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
  FROM per, bp WHERE period = bp.p0)),
binned AS (SELECT period,
    (SELECT count(*) FROM edges WHERE v > e) AS bin FROM per),
counts AS (SELECT period, bin, count(*) AS n FROM binned GROUP BY 1, 2),
periods AS (SELECT DISTINCT period FROM counts),
grid AS (SELECT p.period, b.i AS bin
  FROM periods p CROSS JOIN range(0, 10) b(i)),
fl AS (SELECT g.period, g.bin, coalesce(c.n, 0) AS n
  FROM grid g LEFT JOIN counts c
  ON g.period = c.period AND g.bin = c.bin),
rf AS (SELECT bin, n AS n_ref FROM fl, bp WHERE period = bp.p0),
trt AS (SELECT sum(n_ref) AS tr FROM rf),
tct AS (SELECT period, sum(n) AS tc FROM fl GROUP BY period),
j AS (SELECT f.period, f.bin, f.n, r.n_ref, tct.tc, trt.tr
  FROM fl f JOIN rf r USING (bin)
  JOIN tct ON tct.period = f.period CROSS JOIN trt)
SELECT period, CAST(max(tr) AS BIGINT) AS n_ref,
  CAST(max(tc) AS BIGINT) AS n_cur,
  round(sum(((n_ref + 0.5) / (tr + 5.0) - (n + 0.5) / (tc + 5.0))
            * ln(((n_ref + 0.5) / (tr + 5.0))
                 / ((n + 0.5) / (tc + 5.0)))), 6) AS psi
FROM j GROUP BY period ORDER BY period
"""


QUERIES.update({
    "psi_timeline": QueryDef(q_psi_timeline, _PSI_TIMELINE_ORACLE),
})


def q_hll_distinct(spark, sf_dir):
    """Portable HyperLogLog distinct-users per event type
    (sketches.hll_distinct, p=9 → 512 registers) joined against the
    exact count. Unlike approx_stats (engine-specific HLL++ internals,
    rows-only), the md5-based register state is pure integer arithmetic
    — hll_denom is the exact BIGINT harmonic certificate, so the whole
    sketch hash-matches DuckDB. Scale: one map-side-combinable pass;
    the shuffle is ≤ |types|·512 register rows regardless of input."""
    from inception_eventstore_spark.operators import sketches as SK

    e = _t(spark, sf_dir, "events")
    h = SK.hll_distinct(e, "user_id", ["event_type"], p=9)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return (
        h.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            "hll_denom",
            "hll_zeros",
            F.round("hll_est", 4).alias("hll_est"),
        )
        .orderBy("event_type")
    )


def _hll_distinct_oracle() -> str:
    from inception_eventstore_spark.operators.sketches import hll_oracle_sql

    inner = hll_oracle_sql(
        "SELECT event_type, user_id FROM events", "user_id", ["event_type"]
    )
    return f"""
WITH hll AS ({inner}),
ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
  AS exact_users FROM events GROUP BY 1)
SELECT hll.event_type, ex.exact_users, hll.hll_denom, hll.hll_zeros,
  round(hll.hll_est, 4) AS hll_est
FROM hll JOIN ex ON hll.event_type = ex.event_type
ORDER BY hll.event_type
"""


def q_heavy_hitters_cms(spark, sf_dir):
    """Count-Min heavy hitters: a 4×64 md5-salted sketch over event
    user_ids, probed for the exact top-10 users. width=64 is the
    collision dial — small enough that buckets actually collide at
    test scale, so `overcount = est − exact ≥ 0` is exercised, not
    vacuous. Integer-exact on both engines. Scale: the sketch is 256
    counters however large the stream; the probe side broadcasts it."""
    from inception_eventstore_spark.operators import sketches as SK

    e = _t(spark, sf_dir, "events")
    exact = e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("exact_n")
    )
    top = exact.orderBy(F.desc("exact_n"), "user_id").limit(10)
    sk = SK.cms_sketch(e, "user_id", depth=4, width=64)
    est = SK.cms_estimate(sk, top.select("user_id"), "user_id",
                          depth=4, width=64)
    return (
        top.join(est, "user_id")
        .select(
            "user_id",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n"))
            .cast("bigint")
            .alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "user_id")
    )


def _heavy_hitters_cms_oracle() -> str:
    from inception_eventstore_spark.operators.sketches import cms_oracle_sql

    inner = cms_oracle_sql(
        "SELECT user_id FROM events",
        "user_id",
        "SELECT user_id FROM (SELECT user_id, count(*) AS c FROM events "
        "GROUP BY 1 ORDER BY c DESC, user_id LIMIT 10)",
        "user_id",
        depth=4,
        width=64,
    )
    return f"""
WITH est AS ({inner}),
ex AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
  FROM events GROUP BY 1)
SELECT est.user_id, ex.exact_n, est.cms_est,
  CAST(est.cms_est - ex.exact_n AS BIGINT) AS overcount
FROM est JOIN ex ON est.user_id = ex.user_id
ORDER BY ex.exact_n DESC, est.user_id
"""


QUERIES.update({
    "hll_distinct": QueryDef(q_hll_distinct, _hll_distinct_oracle()),
    "heavy_hitters_cms": QueryDef(
        q_heavy_hitters_cms, _heavy_hitters_cms_oracle()
    ),
})


def q_graph_bfs_hops(spark, sf_dir):
    """BFS shortest hop distance (graph.bfs_hops) from the smallest
    active customer over the sparsified customer↔supplier purchase
    graph (lineitems with l_quantity > 45 — dense enough to connect,
    sparse enough that hop layers are non-trivial at every SF). The
    oracle replays the search as a hop-bounded recursive CTE with
    min(hop) per node — BFS first-visit level == minimal hop, so the
    two formulations agree exactly. Node ids: 2·custkey / 2·suppkey+1
    (the pagerank_custsupp convention)."""
    from inception_eventstore_spark.operators import graph as G

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .where(F.col("l_quantity") > 45)
        .select(
            (F.col("o_custkey") * 2).alias("cn"),
            (F.col("l_suppkey") * 2 + 1).alias("sn"),
        )
    )
    edges = j.select(
        F.explode(
            F.array(
                F.struct(F.col("cn").alias("src"), F.col("sn").alias("dst")),
                F.struct(F.col("sn").alias("src"), F.col("cn").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    seeds = j.agg(F.min("cn").alias("node"))
    res = G.bfs_hops(edges, seeds, max_hops=3)
    return res.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("hop").cast("bigint").alias("hop"),
    ).orderBy("node")


_GRAPH_BFS_ORACLE = """
WITH RECURSIVE j AS (
  SELECT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_quantity > 45),
e AS (SELECT cn AS src, sn AS dst FROM j
      UNION ALL SELECT sn AS src, cn AS dst FROM j),
seeds AS (SELECT min(cn) AS node FROM j),
walk(node, hop) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.dst, w.hop + 1 FROM walk w JOIN e ON w.node = e.src
  WHERE w.hop < 3)
SELECT CAST(node AS BIGINT) AS node, CAST(min(hop) AS BIGINT) AS hop
FROM walk GROUP BY node ORDER BY node
"""


QUERIES.update({
    "graph_bfs_hops": QueryDef(q_graph_bfs_hops, _GRAPH_BFS_ORACLE),
})


def q_l_diversity(spark, sf_dir):
    """l-diversity audit (pii.l_diversity_report): does any
    (event_type, calendar day) class pin its rows to fewer than 3
    distinct users? k-anonymity's companion check — a large class
    whose rows all belong to one user still leaks membership. One
    two-measure class aggregate + a scalar fold."""
    from inception_eventstore_spark.operators.pii import l_diversity_report

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        "user_id",
    )
    return l_diversity_report(e, ["event_type", "day"], "user_id", l=3)


_L_DIVERSITY_ORACLE = """
WITH g AS (SELECT event_type, date_trunc('day', ts) AS day,
    count(*) AS gs, count(DISTINCT user_id) AS dv
  FROM events GROUP BY 1, 2)
SELECT CAST(min(dv) AS BIGINT) AS l_diversity,
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(sum(CASE WHEN dv < 3 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_violating_groups,
  CAST(sum(CASE WHEN dv < 3 THEN gs ELSE 0 END) AS BIGINT)
    AS rows_at_risk,
  CAST(sum(gs) AS BIGINT) AS n_rows
FROM g
"""


QUERIES.update({
    "l_diversity": QueryDef(q_l_diversity, _L_DIVERSITY_ORACLE),
})


def q_embedding_outliers(spark, sf_dir):
    """Diagonal-Mahalanobis embedding outliers
    (embeddings.mahalanobis_outliers): top-20 vectors by Σ z_d² in
    integer micro-units. μ/σ are the 6-dp dim stats (the
    embedding_dim_stats contract); floor-quantized z² summed as BIGINT
    makes the score bit-exact on both engines regardless of
    aggregation order."""
    from inception_eventstore_spark.operators import embeddings as EB

    emb = _t(spark, sf_dir, "embeddings")
    return EB.mahalanobis_outliers(emb, top_n=20).select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("maha2_u").cast("bigint").alias("maha2_u"),
    )


_EMBEDDING_OUTLIERS_ORACLE = """
WITH ex AS (SELECT vec_id,
    generate_subscripts(embedding, 1) - 1 AS dim,
    CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
st AS (SELECT dim, round(avg(x), 6) AS mu,
    greatest(round(stddev_pop(x), 6), 1e-12) AS sd
  FROM ex GROUP BY dim),
z AS (SELECT e.vec_id,
    ((e.x - st.mu) / st.sd) * ((e.x - st.mu) / st.sd) AS z2
  FROM ex e JOIN st ON e.dim = st.dim),
s AS (SELECT vec_id,
    CAST(sum(CAST(floor(z2 * 1048576.0) AS BIGINT)) AS BIGINT) AS maha2_u
  FROM z GROUP BY vec_id)
SELECT CAST(vec_id AS BIGINT) AS vec_id, maha2_u
FROM s ORDER BY maha2_u DESC, vec_id LIMIT 20
"""


QUERIES.update({
    "embedding_outliers": QueryDef(
        q_embedding_outliers, _EMBEDDING_OUTLIERS_ORACLE
    ),
})


def q_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval (retrieval.rrf_fuse): reciprocal-rank fusion of
    a BM25 keyword ranking and an exact embedding top-k for the same
    three queries — the canonical hybrid-search combiner. Both input
    rankings are themselves value-oracled operators
    (retrieval_bm25_multi, sim_multi_topk), and the fusion sums
    integer ppb contributions (1e9 div (60+rank)), so the fused table
    is bit-exact across engines. vec_id aligns with doc_id in the
    testdata, giving each query a lexical and a semantic view of the
    same items."""
    from inception_eventstore_spark.operators import retrieval as RT

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qdf = local_df(
        spark,
        [
            (1, ["spark", "merge"]),
            (2, ["window", "key"]),
            (3, ["batch"]),
        ],
        "query_id long, terms array<string>",
    )
    lexical = RT.bm25_multi_topk(docs, qdf, k=10).select(
        "query_id", F.col("doc_id").alias("item_id"), "rank"
    )
    qrows = (
        emb.where(F.col("vec_id").isin(1, 2, 3))
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [
        (r["vec_id"], [float(x) for x in r["embedding"]]) for r in qrows
    ]
    semantic = S.multi_query_topk(
        emb.where(F.col("vec_id") >= 5), queries, k=10
    ).select("query_id", F.col("vec_id").alias("item_id"), "rank")
    return (
        RT.rrf_fuse([lexical, semantic], rrf_k=60, top_n=10)
        .orderBy("query_id", "fused_rank")
    )


def _rrf_fusion_oracle() -> str:
    return f"""
WITH k AS (SELECT CAST(1.2 AS DOUBLE) AS k1, CAST(0.75 AS DOUBLE) AS b),
qs AS (SELECT * FROM (VALUES (1, 'spark'), (1, 'merge'),
                             (2, 'window'), (2, 'key'),
                             (3, 'batch')) AS t(query_id, token)),
toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk
  FROM documents),
st AS (SELECT count(*) AS n, sum(len(tk)) AS sdl FROM toks),
ex AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS token FROM toks),
tf AS (
  SELECT doc_id, token, count(*) AS tf, any_value(dl) AS dl
  FROM ex WHERE token IN (SELECT token FROM qs)
  GROUP BY doc_id, token),
idf AS (
  SELECT token,
    ln(1.0 + ((SELECT CAST(n AS DOUBLE) FROM st) - count(DISTINCT doc_id) + 0.5)
             / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf GROUP BY token),
sc AS (
  SELECT query_id, doc_id,
    round(sum(idf * (tf * (k.k1 + 1.0))
              / (tf + k.k1 * ((1.0 - k.b)
                 + k.b * dl / ((SELECT CAST(sdl AS DOUBLE) FROM st)
                               / (SELECT n FROM st))))), 6) AS score
  FROM tf JOIN idf USING (token) JOIN qs USING (token), k
  GROUP BY query_id, doc_id),
lex AS (SELECT query_id, doc_id AS item_id,
    row_number() OVER (PARTITION BY query_id
      ORDER BY score DESC, doc_id) AS rank FROM sc
  QUALIFY rank <= 10),
qv AS (SELECT vec_id AS query_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id IN (1, 2, 3)),
cv AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id >= 5),
d AS (SELECT qv.query_id, cv.vec_id,
    sqrt(greatest(list_inner_product(cv, cv)
      - 2 * list_inner_product(cv, qv)
      + list_inner_product(qv, qv), 0)) AS dist
  FROM qv CROSS JOIN cv),
sem AS (SELECT query_id, vec_id AS item_id,
    row_number() OVER (PARTITION BY query_id
      ORDER BY dist, vec_id) AS rank FROM d
  QUALIFY rank <= 10),
u AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
f AS (SELECT query_id, item_id,
    CAST(sum(1000000000 // (60 + rank)) AS BIGINT) AS rrf_ppb,
    CAST(count(*) AS BIGINT) AS n_lists
  FROM u GROUP BY query_id, item_id)
SELECT query_id, item_id, rrf_ppb, n_lists,
  CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY rrf_ppb DESC, item_id) AS BIGINT) AS fused_rank
FROM f
QUALIFY fused_rank <= 10
ORDER BY query_id, fused_rank
"""


QUERIES.update({
    "rrf_fusion": QueryDef(q_rrf_fusion, _rrf_fusion_oracle()),
})


def q_seasonal_naive(spark, sf_dir):
    """Seasonal-naive forecast backtest (timeseries.seasonal_naive_eval,
    7-day season): daily per-type totals predicted by the same weekday's
    total a week earlier; per-type MAE in integer micro-units. The
    stream collapses to a (type, day) rollup before any lag logic, and
    the season lag is a self-equi-join of that rollup — no per-key
    ordered window, so the skew lint has nothing to flag."""
    from inception_eventstore_spark.operators import timeseries as TS

    e = _t(spark, sf_dir, "events")
    return TS.seasonal_naive_eval(e, season_days=7).orderBy("key")


_SEASONAL_NAIVE_ORACLE = """
WITH daily AS (SELECT event_type AS key, date_trunc('day', ts) AS day,
    sum(value) AS total
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2),
j AS (SELECT d.key,
    CAST(floor(abs(round(d.total - f.total, 6)) * 1048576.0) AS BIGINT)
      AS eu
  FROM daily d JOIN daily f
    ON d.key = f.key AND f.day + INTERVAL 7 DAY = d.day)
SELECT key, CAST(count(*) AS BIGINT) AS n_days,
  CAST(sum(eu) AS BIGINT) AS total_abs_err_u,
  CAST(sum(eu) // count(*) AS BIGINT) AS mae_u
FROM j GROUP BY key ORDER BY key
"""


QUERIES.update({
    "seasonal_naive": QueryDef(q_seasonal_naive, _SEASONAL_NAIVE_ORACLE),
})


def prebuild_phash_index(spark, sf_dir) -> float:
    """Build + persist the pHash image index fixture (idempotent per
    process; same split as prebuild_ann_indexes — the declared
    phash_index_probe query then measures the PROBE, not ingest-time
    index construction). Returns build seconds (0.0 if already built)."""
    import tempfile
    import time as _time

    from inception_eventstore_spark.operators import phash as PH
    from inception_eventstore_spark.operators.phash_index import (
        PhashImageIndex,
    )

    if "idx" in _PHASH_INDEX_DIRS:
        return 0.0
    t0 = _time.perf_counter()
    path = tempfile.mkdtemp(prefix="phash_ix_")
    corpus = local_df(
        spark,
        [(i, bytearray(p)) for i, p in PH.textured_test_images(32)],
        "asset_id long, payload binary",
        slices=2,
    )
    PhashImageIndex.build(corpus, path)
    _PHASH_INDEX_DIRS["idx"] = path
    return _time.perf_counter() - t0


def q_mutual_information(spark, sf_dir):
    """Mutual information between document language and source domain
    (infotheory.mutual_information) — the leakage/stratification check
    before splitting a corpus on either column. One contingency-table
    groupBy (|langs|·|sources| rows), broadcast marginals, scalar
    folds; all probabilities are exact count ratios, only ln() ulps
    sit inside the 6-dp round."""
    from inception_eventstore_spark.operators.infotheory import (
        mutual_information,
    )

    d = _t(spark, sf_dir, "documents")
    r = mutual_information(d, "lang", "source")
    return r.select(
        "n",
        "n_x_values",
        "n_y_values",
        F.round("h_x", 6).alias("h_x"),
        F.round("h_y", 6).alias("h_y"),
        F.round("h_xy", 6).alias("h_xy"),
        F.round("mi", 6).alias("mi"),
    )


_MUTUAL_INFORMATION_ORACLE = """
WITH j AS (SELECT lang AS x, source AS y, count(*) AS n_xy
  FROM documents GROUP BY 1, 2),
mx AS (SELECT x, sum(n_xy) AS n_x FROM j GROUP BY x),
my AS (SELECT y, sum(n_xy) AS n_y FROM j GROUP BY y),
t AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM j),
hx AS (SELECT sum((n_x / CAST(n AS DOUBLE))
                  * ln(CAST(n AS DOUBLE) / n_x)) AS h_x,
  CAST(count(*) AS BIGINT) AS n_x_values FROM mx, t),
hy AS (SELECT sum((n_y / CAST(n AS DOUBLE))
                  * ln(CAST(n AS DOUBLE) / n_y)) AS h_y,
  CAST(count(*) AS BIGINT) AS n_y_values FROM my, t),
js AS (SELECT CAST(max(n) AS BIGINT) AS n,
  sum((n_xy / CAST(n AS DOUBLE))
      * ln(CAST(n AS DOUBLE) / n_xy)) AS h_xy,
  sum((n_xy / CAST(n AS DOUBLE))
      * ln((n_xy * CAST(n AS DOUBLE))
           / (CAST(n_x AS DOUBLE) * n_y))) AS mi
  FROM j JOIN mx USING (x) JOIN my USING (y), t)
SELECT js.n, hx.n_x_values, hy.n_y_values,
  round(hx.h_x, 6) AS h_x, round(hy.h_y, 6) AS h_y,
  round(js.h_xy, 6) AS h_xy, round(js.mi, 6) AS mi
FROM js, hx, hy
"""


QUERIES.update({
    "mutual_information": QueryDef(
        q_mutual_information, _MUTUAL_INFORMATION_ORACLE
    ),
})


def q_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth (tokenstats.vocab_growth, 10 corpus
    slices): new token types per slice + cumulative type/token curve.
    First-occurrence semantics (min doc id per token) replace any
    corpus-wide running window; the cumsum runs over 10 bucket rows
    driver-side. ttr_u is the integer type-token ratio (·2^20)."""
    from inception_eventstore_spark.operators import tokenstats as TK

    d = _t(spark, sf_dir, "documents")
    return TK.vocab_growth(d, n_buckets=10).orderBy("bucket")


_VOCAB_GROWTH_ORACLE = f"""
WITH d AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
st AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM d),
pr AS (SELECT lo, greatest(1, (hi - lo) // 10 + 1) AS width FROM st),
toks AS (SELECT doc_id, unnest(tk) AS tok FROM d),
first AS (SELECT tok, min(doc_id) AS fd FROM toks GROUP BY tok),
nt AS (SELECT (fd - pr.lo) // pr.width AS bucket,
    CAST(count(*) AS BIGINT) AS new_types
  FROM first, pr GROUP BY 1),
vol AS (SELECT (doc_id - pr.lo) // pr.width AS bucket,
    CAST(count(*) AS BIGINT) AS docs,
    CAST(sum(len(tk)) AS BIGINT) AS tokens
  FROM d, pr GROUP BY 1),
per AS (SELECT vol.bucket, vol.docs, vol.tokens,
    coalesce(nt.new_types, 0) AS new_types
  FROM vol LEFT JOIN nt ON vol.bucket = nt.bucket),
c AS (SELECT bucket, docs, tokens, new_types,
    CAST(sum(tokens) OVER (ORDER BY bucket
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
    CAST(sum(new_types) OVER (ORDER BY bucket
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
  FROM per)
SELECT bucket, docs, tokens, new_types, cum_tokens, cum_types,
  CAST((cum_types * 1048576) // greatest(cum_tokens, 1) AS BIGINT)
    AS ttr_u
FROM c ORDER BY bucket
"""


QUERIES.update({
    "vocab_growth": QueryDef(q_vocab_growth, _VOCAB_GROWTH_ORACLE),
})


def q_approx_quantiles_binned(spark, sf_dir):
    """Mergeable fixed-grid quantile sketch (sketches.binned_histogram
    + quantiles_from_histogram, 512 bins): per-event-type p50/p90/p99
    of `value` with error ≤ one bin width. Completes the portable
    sketch family (cardinality=HLL, frequency=CMS, quantile=histogram)
    — unlike percentile_approx/approx_quantile (engine-specific KLL /
    t-digest internals, rows-only in approx_stats), every arithmetic
    step replays in SQL: integer bin counts, integer ceil-rank, and an
    interpolation that is the same double expression of integers and
    the 6-dp (lo, hi) contract on both engines."""
    from inception_eventstore_spark.operators import sketches as SK

    e = _t(spark, sf_dir, "events")
    b = e.where(F.col("value").isNotNull()).agg(
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    ).first()
    lo, hi = float(b["lo"]), float(b["hi"])
    hist = SK.binned_histogram(
        e, "value", lo, hi, bins=512, group_cols=["event_type"]
    )
    res = SK.quantiles_from_histogram(
        hist, lo, hi, 512, [0.5, 0.9, 0.99], group_cols=["event_type"]
    )
    return res.select(
        "event_type",
        "q",
        F.round("est", 6).alias("est"),
        "n",
    ).orderBy("event_type", "q")


_APPROX_QUANTILES_ORACLE = """
WITH st AS (SELECT round(min(value), 6) AS lo, round(max(value), 6) AS hi
  FROM events WHERE value IS NOT NULL),
h AS (SELECT event_type,
    least(greatest(CAST(floor((value - st.lo) / (st.hi - st.lo) * 512.0)
      AS BIGINT), 0), 511) AS bin,
    CAST(count(*) AS BIGINT) AS n
  FROM events, st WHERE value IS NOT NULL GROUP BY 1, 2),
c AS (SELECT event_type, bin, n,
    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bin
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM h),
t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM h GROUP BY 1),
qv AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
tr AS (SELECT event_type, q,
    greatest(1, (CAST(floor(q * total * 1000000) AS BIGINT) + 999999)
      // 1000000) AS target
  FROM t, qv),
sel AS (SELECT tr.event_type, tr.q, tr.target, min(c.bin) AS bin
  FROM tr JOIN c ON c.event_type = tr.event_type AND c.cum >= tr.target
  GROUP BY 1, 2, 3),
fin AS (SELECT s.event_type, s.q,
    st.lo + (s.bin + (s.target - (c.cum - c.n)) / CAST(c.n AS DOUBLE))
      * ((st.hi - st.lo) / 512) AS est,
    t.total AS n
  FROM sel s JOIN c ON c.event_type = s.event_type AND c.bin = s.bin
  JOIN t ON t.event_type = s.event_type, st)
SELECT event_type, q, round(est, 6) AS est, n
FROM fin ORDER BY event_type, q
"""


QUERIES.update({
    "approx_quantiles_binned": QueryDef(
        q_approx_quantiles_binned, _APPROX_QUANTILES_ORACLE
    ),
})


def q_langid_confusion(spark, sf_dir):
    """Language-ID evaluation: confusion matrix of the heuristic
    classifier (text.lang_id) against the labeled `lang` column, plus
    per-truth-class recall in integer micro-units — the quality gate
    you run before trusting the classifier to stratify a corpus. One
    scan + one (truth, pred) groupBy; recall = class_hits·2^20 div
    class_total (integer, engine-exact)."""
    d = _t(spark, sf_dir, "documents")
    cm = (
        d.select(
            F.col("lang").alias("truth"),
            TX.lang_id("text").alias("pred"),
        )
        .groupBy("truth", "pred")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    totals = cm.groupBy("truth").agg(F.sum("n").alias("_tot"))
    return (
        cm.join(F.broadcast(totals), "truth")
        .select(
            "truth",
            "pred",
            "n",
            F.expr("n * 1048576 div _tot").cast("bigint").alias("rate_u"),
        )
        .orderBy("truth", "pred")
    )


def _langid_confusion_oracle() -> str:
    inner = _lang_id_oracle()
    return f"""
WITH pred AS ({inner}),
cm AS (SELECT d.lang AS truth, p.lang_pred AS pred,
    CAST(count(*) AS BIGINT) AS n
  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
  GROUP BY 1, 2),
tot AS (SELECT truth, sum(n) AS tot FROM cm GROUP BY truth)
SELECT cm.truth, cm.pred, cm.n,
  CAST(cm.n * 1048576 // tot.tot AS BIGINT) AS rate_u
FROM cm JOIN tot ON cm.truth = tot.truth
ORDER BY cm.truth, cm.pred
"""


QUERIES.update({
    "langid_confusion": QueryDef(
        q_langid_confusion, _langid_confusion_oracle()
    ),
})


def q_tfidf_cosine_topk(spark, sf_dir):
    """Batch TF-IDF cosine retrieval (retrieval.tfidf_cosine_multi_topk,
    sklearn smooth idf): top-5 docs for the three keyword queries in
    one tokenizing scan, full-document L2 norms — the vector-space
    companion to retrieval_bm25_multi (different length penalty,
    different idf), and the second lexical input rrf_fuse can take."""
    from inception_eventstore_spark.operators import retrieval as RT

    docs = _t(spark, sf_dir, "documents")
    qdf = local_df(
        spark,
        [
            (1, ["spark", "merge"]),
            (2, ["window", "key"]),
            (3, ["batch"]),
        ],
        "query_id long, terms array<string>",
    )
    return RT.tfidf_cosine_multi_topk(docs, qdf, k=5)


def _tfidf_cosine_oracle() -> str:
    return f"""
WITH qs AS (SELECT query_id, token, CAST(count(*) AS BIGINT) AS qtf
  FROM (VALUES (1, 'spark'), (1, 'merge'),
               (2, 'window'), (2, 'key'),
               (3, 'batch')) AS t(query_id, token)
  GROUP BY 1, 2),
toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
nn AS (SELECT count(*) AS n FROM toks),
tf AS (SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest(tk) AS token FROM toks) GROUP BY 1, 2),
idf AS (SELECT token,
    ln(CAST((SELECT 1 + n FROM nn) AS DOUBLE) / (df + 1.0)) + 1.0 AS idf
  FROM (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1)),
w AS (SELECT doc_id, token, tf * idf AS w FROM tf JOIN idf USING (token)),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS dnorm FROM w GROUP BY 1),
qw AS (SELECT query_id, qs.token, qtf * idf AS qw
  FROM qs JOIN idf ON qs.token = idf.token),
qn AS (SELECT query_id, sqrt(sum(qw * qw)) AS qnorm FROM qw GROUP BY 1),
sc AS (SELECT qw.query_id, w.doc_id,
    round(sum(w.w * qw.qw)
          / (any_value(norms.dnorm) * any_value(qn.qnorm)), 6) AS score
  FROM w JOIN qw ON w.token = qw.token
  JOIN norms ON norms.doc_id = w.doc_id
  JOIN qn ON qn.query_id = qw.query_id
  GROUP BY 1, 2)
SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY score DESC, doc_id) AS BIGINT) AS rank, doc_id, score
FROM sc
QUALIFY rank <= 5
ORDER BY query_id, rank
"""


QUERIES.update({
    "tfidf_cosine_topk": QueryDef(
        q_tfidf_cosine_topk, _tfidf_cosine_oracle()
    ),
})


def q_rfm_segments(spark, sf_dir):
    """RFM user segmentation (profile.rfm_segments): quintile scores
    for recency / frequency / monetary per user — no windows, one
    per-user rollup + one exact-percentile scalar aggregate broadcast
    back, map-side CASE scoring."""
    from inception_eventstore_spark.operators.profile import rfm_segments

    e = _t(spark, sf_dir, "events")
    return rfm_segments(e).orderBy("user_id")


def _rfm_oracle() -> str:
    qs = [0.2, 0.4, 0.6, 0.8]
    r_edges = ", ".join(
        f"round(quantile_cont(recency_days, {q}), 6) AS r{i}"
        for i, q in enumerate(qs)
    )
    f_edges = ", ".join(
        f"round(quantile_cont(frequency, {q}), 6) AS f{i}"
        for i, q in enumerate(qs)
    )
    m_edges = ", ".join(
        f"round(quantile_cont(monetary, {q}), 6) AS m{i}"
        for i, q in enumerate(qs)
    )

    def above(col, prefix):
        terms = " + ".join(
            f"(CASE WHEN {col} > ed.{prefix}{i} THEN 1 ELSE 0 END)"
            for i in range(len(qs))
        )
        return f"(1 + {terms})"

    return f"""
WITH pu AS (SELECT user_id, max(ts) AS last_ts,
    CAST(count(*) AS BIGINT) AS frequency,
    round(sum(coalesce(value, 0.0)), 6) AS monetary
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
an AS (SELECT max(ts) AS anchor FROM events),
pu2 AS (SELECT user_id,
    CAST(date_diff('day', CAST(last_ts AS DATE), CAST(anchor AS DATE))
      AS BIGINT) AS recency_days,
    frequency, monetary FROM pu, an),
ed AS (SELECT {r_edges}, {f_edges}, {m_edges} FROM pu2),
sc AS (SELECT user_id, recency_days, frequency, monetary,
    CAST(6 - {above('recency_days', 'r')} AS BIGINT) AS r_score,
    CAST({above('frequency', 'f')} AS BIGINT) AS f_score,
    CAST({above('monetary', 'm')} AS BIGINT) AS m_score
  FROM pu2, ed)
SELECT user_id, recency_days, frequency, monetary,
  r_score, f_score, m_score,
  concat(CAST(r_score AS VARCHAR), CAST(f_score AS VARCHAR),
         CAST(m_score AS VARCHAR)) AS rfm
FROM sc ORDER BY user_id
"""


QUERIES.update({
    "rfm_segments": QueryDef(q_rfm_segments, _rfm_oracle()),
})


def q_t_closeness(spark, sf_dir):
    """t-closeness audit (pii.t_closeness_report): does any
    (event_type, calendar day) class skew its USER distribution more
    than t=0.3 total-variation away from the corpus-wide mix? The
    third release-audit leg after k-anonymity / l-diversity — exact
    integer TVD numerators, one cell aggregate + broadcast globals."""
    from inception_eventstore_spark.operators.pii import t_closeness_report

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        "user_id",
    )
    return t_closeness_report(e, ["event_type", "day"], "user_id", 3, 10)


_T_CLOSENESS_ORACLE = """
WITH cells AS (SELECT event_type, date_trunc('day', ts) AS day,
    user_id AS sv, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3),
gv AS (SELECT user_id AS sv, CAST(count(*) AS BIGINT) AS g
  FROM events GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM events),
sizes AS (SELECT event_type, day, CAST(sum(c) AS BIGINT) AS n
  FROM cells GROUP BY 1, 2),
terms AS (SELECT c.event_type, c.day,
    any_value(s.n) AS n, any_value(t.nn) AS nn,
    CAST(sum(abs(c.c * t.nn - g.g * s.n) - g.g * s.n) AS BIGINT)
      + any_value(s.n) * any_value(t.nn) AS num
  FROM cells c
  JOIN gv g USING (sv)
  JOIN sizes s ON c.event_type = s.event_type AND c.day = s.day
  CROSS JOIN tot t
  GROUP BY 1, 2)
SELECT round(max(CAST(num AS DOUBLE) / (2.0 * n * nn)), 6) AS max_tvd,
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(sum(CASE WHEN 10 * num > 6 * n * nn THEN 1 ELSE 0 END)
    AS BIGINT) AS n_violating_groups,
  CAST(sum(CASE WHEN 10 * num > 6 * n * nn THEN n ELSE 0 END)
    AS BIGINT) AS rows_at_risk,
  CAST(sum(n) AS BIGINT) AS n_rows
FROM terms
"""


QUERIES.update({
    "t_closeness": QueryDef(q_t_closeness, _T_CLOSENESS_ORACLE),
})


def q_langid_kappa(spark, sf_dir):
    """Chance-corrected lang-ID agreement (infotheory.cohens_kappa):
    κ of the heuristic classifier against the labeled lang column —
    the one-number companion to `langid_confusion` (accuracy rewards
    majority guessing; κ subtracts marginal chance). One (truth,
    pred) groupBy, label-keyed folds over the tiny joint table."""
    from inception_eventstore_spark.operators.infotheory import cohens_kappa

    d = _t(spark, sf_dir, "documents").select(
        F.col("lang").alias("truth"),
        TX.lang_id("text").alias("pred"),
    )
    return cohens_kappa(d, "truth", "pred")


def _langid_kappa_oracle() -> str:
    inner = _lang_id_oracle()
    return f"""
WITH pred AS ({inner}),
pair AS (SELECT d.lang AS x, p.lang_pred AS y
  FROM documents d JOIN pred p ON d.doc_id = p.doc_id),
joint AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy
  FROM pair GROUP BY 1, 2),
mx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM joint GROUP BY 1),
my AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM joint GROUP BY 1),
st AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n,
    CAST(sum(CASE WHEN x IS NOT DISTINCT FROM y THEN n_xy ELSE 0 END)
      AS BIGINT) AS po_num
  FROM joint),
pe AS (SELECT CAST(coalesce(sum(n_x * n_y), 0) AS BIGINT) AS pe_num
  FROM mx JOIN my ON x IS NOT DISTINCT FROM y),
o AS (SELECT n,
    CAST(po_num AS DOUBLE) / CAST(n AS DOUBLE) AS po,
    CAST(pe_num AS DOUBLE)
      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
  FROM st, pe)
SELECT n, round(po, 6) AS observed_agreement,
  round(pe, 6) AS expected_agreement,
  round(CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END, 6) AS kappa
FROM o
"""


QUERIES.update({
    "langid_kappa": QueryDef(q_langid_kappa, _langid_kappa_oracle()),
})


def q_quality_auc(spark, sf_dir):
    """ROC-AUC of the (seeded) quality model at separating English
    docs from the rest (profile.auc_report) — the rank-based check
    that a score actually orders classes before it filters a corpus.
    Tie-aware Mann-Whitney over the distinct-score table, neg-below
    running sum via the two-phase shard rank (no single-task window).
    """
    from inception_eventstore_spark.operators import scoring as SC
    from inception_eventstore_spark.operators.profile import auc_report

    docs = _t(spark, sf_dir, "documents")
    scored = SC.linear_quality_score(docs, dim=64).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return auc_report(scored, "quality_logit", F.col("lang") == "en")


def _quality_auc_oracle() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
bk AS (SELECT doc_id, unnest(list_transform(tk, tok ->
  CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT)
  % 64)) AS bucket FROM t),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
w AS (SELECT i AS bucket,
  (CAST(('0x' || substring(md5('qw:v1:' || CAST(i AS VARCHAR)), 1, 15))
        AS BIGINT) - 576460752303423488) / 576460752303423488.0 AS w
  FROM range(0, 64) t(i)),
s AS (SELECT doc_id, round(sum(w * cnt) / sum(cnt), 6) AS sc
  FROM c JOIN w ON c.bucket = w.bucket GROUP BY doc_id),
lab AS (SELECT s.sc,
    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS p
  FROM s JOIN documents d ON s.doc_id = d.doc_id
  WHERE s.sc IS NOT NULL),
g AS (SELECT sc, CAST(sum(p) AS BIGINT) AS pos,
    CAST(count(*) - sum(p) AS BIGINT) AS neg
  FROM lab GROUP BY sc),
r AS (SELECT pos, neg, CAST(sum(neg) OVER (ORDER BY sc
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS neg_cum FROM g),
a AS (SELECT CAST(sum(pos * (2 * (neg_cum - neg) + neg)) AS BIGINT)
    AS u2, CAST(sum(pos) AS BIGINT) AS np,
    CAST(sum(neg) AS BIGINT) AS nn FROM r)
SELECT np AS n_pos, nn AS n_neg,
  round(CASE WHEN np > 0 AND nn > 0 THEN CAST(u2 AS DOUBLE)
    / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) END, 6) AS auc
FROM a
"""


QUERIES.update({
    "quality_auc": QueryDef(q_quality_auc, _quality_auc_oracle()),
})


def q_hll_overlap(spark, sf_dir):
    """Sketch-algebra set overlap (sketches.hll_overlap): how much do
    the user-day activity sets of 'click' and 'view' events overlap?
    |A∪B| from the register-wise MAX merge, |A∩B| by inclusion-
    exclusion — each raw side scanned once into ≤ 512 register rows,
    no join of the raw values."""
    from inception_eventstore_spark.operators import sketches as SK

    e = _t(spark, sf_dir, "events")
    ud = F.concat_ws(
        ":", F.col("user_id"), F.col("ts").cast("date").cast("string")
    )
    a = e.where(F.col("event_type") == "click").select(ud.alias("v"))
    b = e.where(F.col("event_type") == "view").select(ud.alias("v"))
    return SK.hll_overlap(a, b, "v", p=9)


def _hll_overlap_oracle() -> str:
    from inception_eventstore_spark.operators.sketches import (
        hll_overlap_oracle_sql,
    )

    src = (
        "SELECT concat(CAST(user_id AS VARCHAR), ':', "
        "CAST(CAST(ts AS DATE) AS VARCHAR)) AS v FROM events "
        "WHERE event_type = '{t}'"
    )
    return hll_overlap_oracle_sql(
        src.format(t="click"), src.format(t="view"), "v", p=9
    )


QUERIES.update({
    "hll_user_overlap": QueryDef(q_hll_overlap, _hll_overlap_oracle()),
})


_BQ_QUERY_IDS = [3, 7, 11, 19, 23, 31, 42, 57]
_BQ_RADIUS = 26


def q_bq_hamming_topk(spark, sf_dir):
    """Binary-quantized retrieval (similarity.bq_hamming_topk):
    sign-bit codes packed 32 dims per BIGINT word, broadcast hamming-
    radius scan (bit_count(xor) on 2 words per vector — 32x less IO
    than the float arrays), exact cosine re-rank of the survivors
    only. The compressed-serving complement to sim_topk_ivf/ivfpq:
    zero training, zero index build, one map-side pass."""
    from inception_eventstore_spark.operators.similarity import (
        bq_hamming_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return bq_hamming_topk(
        emb, _BQ_QUERY_IDS, k=5, radius=_BQ_RADIUS
    ).orderBy("query_id", "rank")


def _bq_oracle() -> str:
    qids = ", ".join(str(q) for q in _BQ_QUERY_IDS)
    words = []
    for w in range(2):
        terms = " + ".join(
            f"(CASE WHEN embedding[{w * 32 + j + 1}] > 0 "
            f"THEN (1::BIGINT << {j}) ELSE 0 END)"
            for j in range(32)
        )
        words.append(f"({terms}) AS code_w{w}")
    fold = (
        "list_reduce(list_prepend(0.0, {terms}), (acc, x) -> acc + x)"
    )
    dot = fold.format(
        terms="list_transform(range(1, 65), i -> c.ev[i] * q.qv[i])"
    )
    nv = fold.format(
        terms="list_transform(range(1, 65), i -> c.ev[i] * c.ev[i])"
    )
    nq = fold.format(
        terms="list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])"
    )
    return f"""
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings),
codes AS (SELECT vec_id, {words[0]}, {words[1]} FROM embeddings),
qc AS (SELECT vec_id AS query_id, code_w0 AS q_w0, code_w1 AS q_w1
  FROM codes WHERE vec_id IN ({qids})),
cand AS (SELECT * FROM (
    SELECT qc.query_id, c.vec_id,
      bit_count(xor(c.code_w0, qc.q_w0))
        + bit_count(xor(c.code_w1, qc.q_w1)) AS ham
    FROM codes c CROSS JOIN qc
    WHERE c.vec_id <> qc.query_id)
  WHERE ham <= {_BQ_RADIUS}),
qv AS (SELECT vec_id AS query_id, ev AS qv FROM v
  WHERE vec_id IN ({qids})),
sc AS (SELECT cand.query_id, c.vec_id,
    round({dot} / (sqrt({nv}) * sqrt({nq})), 6) AS cosine
  FROM cand JOIN v c ON cand.vec_id = c.vec_id
  JOIN qv q ON cand.query_id = q.query_id)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cosine FROM (
  SELECT query_id, vec_id, cosine, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM sc)
WHERE rank <= 5 ORDER BY query_id, rank
"""


QUERIES.update({
    "bq_hamming_topk": QueryDef(q_bq_hamming_topk, _bq_oracle()),
})


def q_property_scd2(spark, sf_dir):
    """SCD Type-2 property history (eventstore.property_scd2): one row
    per value INTERVAL of each (user, payload-property) — consecutive
    same-value writes collapsed, valid_from/valid_to bounds, 1-based
    version — the warehouse dimension-history build derived set-wise
    from the event log. `latest_property_state` is this table at
    is_current = 1."""
    from inception_eventstore_spark.operators.eventstore import (
        property_scd2,
    )

    ev = _t(spark, sf_dir, "events")
    return property_scd2(ev).orderBy("user_id", "prop_key", "version")


_PROPERTY_SCD2_ORACLE = """
WITH ex AS (
  SELECT user_id, ts, event_id, k AS prop_key,
    json_extract_string(props, '$.' || k) AS v
  FROM (SELECT user_id, ts, event_id, props,
          unnest(json_keys(props)) AS k
        FROM events WHERE props IS NOT NULL)),
ch AS (
  SELECT user_id, prop_key, v, ts, event_id,
    lag(v) OVER (PARTITION BY user_id, prop_key
      ORDER BY ts, event_id) AS prev
  FROM ex),
iv AS (
  SELECT user_id, prop_key, v AS value, ts AS valid_from,
    lead(ts) OVER (PARTITION BY user_id, prop_key
      ORDER BY ts, event_id) AS valid_to,
    CAST(row_number() OVER (PARTITION BY user_id, prop_key
      ORDER BY ts, event_id) AS BIGINT) AS version
  FROM ch WHERE prev IS NULL OR prev <> v)
SELECT user_id, prop_key, value, valid_from, valid_to, version,
  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INTEGER)
    AS is_current
FROM iv ORDER BY user_id, prop_key, version
"""


QUERIES.update({
    "property_scd2": QueryDef(q_property_scd2, _PROPERTY_SCD2_ORACLE),
})


def q_span_corruption(spark, sf_dir):
    """T5 span-corruption planning (augment.span_corruption_plan):
    content-keyed ~15% token masking with maximal-run span stats —
    the denoising-objective prep pass, reproducible across engines,
    partitionings, and epochs by construction."""
    from inception_eventstore_spark.operators.augment import (
        span_corruption_plan,
    )

    d = _t(spark, sf_dir, "documents")
    return span_corruption_plan(d).orderBy("doc_id")


def _span_corruption_oracle() -> str:
    thr = ((1 << 60) * 150) // 1000
    return f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
pos AS (SELECT doc_id, unnest(range(0, len(tk))) AS idx
  FROM t WHERE len(tk) > 0),
mk AS (SELECT doc_id, idx,
    CASE WHEN CAST(('0x' || substring(md5(
      'span-v1:' || CAST(doc_id AS VARCHAR) || ':'
        || CAST(idx AS VARCHAR)), 1, 15)) AS BIGINT) < {thr}
    THEN 1 ELSE 0 END AS m
  FROM pos),
fl AS (SELECT doc_id, idx, m,
    CASE WHEN m = 1 AND coalesce(lag(m) OVER (
      PARTITION BY doc_id ORDER BY idx), 0) = 0
    THEN 1 ELSE 0 END AS s
  FROM mk),
pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
    CAST(sum(m) AS BIGINT) AS n_masked,
    CAST(sum(s) AS BIGINT) AS n_spans
  FROM fl GROUP BY doc_id),
runs AS (SELECT doc_id, CAST(max(ln) AS BIGINT) AS max_span_len FROM (
    SELECT doc_id, grp, count(*) AS ln FROM (
      SELECT doc_id, idx - row_number() OVER (
        PARTITION BY doc_id ORDER BY idx) AS grp
      FROM fl WHERE m = 1)
    GROUP BY doc_id, grp)
  GROUP BY doc_id)
SELECT pd.doc_id, n_tokens, n_masked, n_spans,
  CAST(coalesce(max_span_len, 0) AS BIGINT) AS max_span_len,
  round(CAST(n_masked AS DOUBLE) / n_tokens, 6) AS mask_rate
FROM pd LEFT JOIN runs ON pd.doc_id = runs.doc_id
ORDER BY pd.doc_id
"""


QUERIES.update({
    "span_corruption": QueryDef(
        q_span_corruption, _span_corruption_oracle()
    ),
})


def q_skew_profile(spark, sf_dir):
    """Shuffle-skew diagnostic (profile.key_skew_profile): the 5
    heaviest documents.lang keys with exact-integer ppm share and
    load-vs-uniform — the report that says which groupBy/join keys
    need salting or an AQE skew split BEFORE a 100 TB shuffle hangs
    on one partition."""
    from inception_eventstore_spark.operators.profile import (
        key_skew_profile,
    )

    d = _t(spark, sf_dir, "documents")
    return key_skew_profile(d, "lang", top=5).orderBy("rank")


_SKEW_PROFILE_ORACLE = """
WITH counts AS (SELECT CAST(lang AS VARCHAR) AS key,
    count(*) AS cnt FROM documents GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
    CAST(sum(cnt) AS BIGINT) AS total FROM counts),
head AS (SELECT key, cnt FROM counts
  ORDER BY cnt DESC, key LIMIT 5)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, key) AS BIGINT)
    AS rank,
  key, CAST(cnt AS BIGINT) AS cnt,
  CAST((cnt * 1000000) // total AS BIGINT) AS share_ppm,
  CAST((cnt * n_keys * 1000000) // total AS BIGINT) AS skew_ppm,
  n_keys, total
FROM head CROSS JOIN tot ORDER BY rank
"""


QUERIES.update({
    "skew_profile": QueryDef(q_skew_profile, _SKEW_PROFILE_ORACLE),
})


def q_zipf_slope(spark, sf_dir):
    """Zipf power-law fit (tokenstats.zipf_fit): OLS of ln(tf) on
    ln(rank) over the top-500 vocabulary — slope ~ -1 for natural
    language; flattening flags templated/synthetic text. The power-law
    companion to the Heaps-law vocab_growth curve."""
    from inception_eventstore_spark.operators.tokenstats import zipf_fit

    d = _t(spark, sf_dir, "documents")
    return zipf_fit(d, top=500)


_ZIPF_ORACLE = f"""
WITH tf AS (SELECT tok AS token, count(*) AS tf FROM (
    SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
  GROUP BY 1),
rk AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, token) AS r
  FROM tf),
pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(tf AS DOUBLE)) AS y,
    tf FROM rk WHERE r <= 500),
s AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
    CAST(sum(tf) AS BIGINT) AS total_tf,
    sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
    sum(y * y) AS syy, sum(x * y) AS sxy
  FROM pts)
SELECT n_points, total_tf,
  round((n_points * sxy - sx * sy) / (n_points * sxx - sx * sx), 6)
    AS slope,
  round((sy - (n_points * sxy - sx * sy)
      / (n_points * sxx - sx * sx) * sx) / n_points, 6) AS intercept,
  round(CASE WHEN (n_points * syy - sy * sy) > 0 THEN
      (n_points * sxy - sx * sy) * (n_points * sxy - sx * sy)
      / ((n_points * sxx - sx * sx) * (n_points * syy - sy * sy))
    END, 6) AS r2
FROM s
"""


QUERIES.update({
    "zipf_slope": QueryDef(q_zipf_slope, _ZIPF_ORACLE),
})


def q_kfold_leakage(spark, sf_dir):
    """Group-aware k-fold split (sampling.grouped_kfold +
    kfold_leakage_report): every event of a user lands in one fold
    (fold = portable md5 of the GROUP, not the row), and the report
    proves zero cross-fold leakage from the data itself — the split
    discipline that keeps entity overlap out of train/test."""
    from inception_eventstore_spark.operators.sampling import (
        kfold_leakage_report,
    )

    e = _t(spark, sf_dir, "events")
    return kfold_leakage_report(e, k=5, group_col="user_id").orderBy(
        "fold"
    )


_KFOLD_ORACLE = """
WITH folded AS (SELECT user_id,
    CAST(('0x' || substring(md5('kfold-v1:'
      || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS fold
  FROM events),
pg AS (SELECT user_id, count(*) AS n, min(fold) AS fold,
    count(DISTINCT fold) AS nf
  FROM folded GROUP BY user_id)
SELECT CAST(fold AS INTEGER) AS fold,
  CAST(sum(n) AS BIGINT) AS n_rows,
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS leaked_groups
FROM pg GROUP BY fold ORDER BY fold
"""


QUERIES.update({
    "kfold_leakage": QueryDef(q_kfold_leakage, _KFOLD_ORACLE),
})


def q_score_percentiles(spark, sf_dir):
    """Score→percentile calibration (scoring.score_percentiles): each
    document's exact corpus percentile of the quality logit in
    integer ppm — the step that turns a raw score into a corpus-
    relative filter threshold. Distinct-score prefix counts via the
    two-phase sharded running sum; never a single-task window."""
    from inception_eventstore_spark.operators import scoring as SC

    docs = _t(spark, sf_dir, "documents")
    scored = SC.linear_quality_score(docs, dim=64)
    return SC.score_percentiles(scored, "quality_logit").orderBy(
        "doc_id"
    )


def _score_percentiles_oracle() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
bk AS (SELECT doc_id, unnest(list_transform(tk, tok ->
  CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT)
  % 64)) AS bucket FROM t),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
w AS (SELECT i AS bucket,
  (CAST(('0x' || substring(md5('qw:v1:' || CAST(i AS VARCHAR)), 1, 15))
        AS BIGINT) - 576460752303423488) / 576460752303423488.0 AS w
  FROM range(0, 64) t(i)),
s AS (SELECT doc_id, round(sum(w * cnt) / sum(cnt), 6) AS sc
  FROM c JOIN w ON c.bucket = w.bucket GROUP BY doc_id),
g AS (SELECT sc, CAST(count(*) AS BIGINT) AS n FROM s
  WHERE sc IS NOT NULL GROUP BY sc),
r AS (SELECT sc, n, CAST(sum(n) OVER (ORDER BY sc
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS n_cum FROM g),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM g),
pct AS (SELECT sc,
    CAST(((n_cum - n) * 1000000) // t AS BIGINT) AS below_ppm,
    CAST((n_cum * 1000000) // t AS BIGINT) AS cdf_ppm
  FROM r CROSS JOIN tot)
SELECT s.doc_id, s.sc AS score, pct.below_ppm, pct.cdf_ppm
FROM s JOIN pct ON s.sc = pct.sc
ORDER BY s.doc_id
"""


QUERIES.update({
    "score_percentiles": QueryDef(
        q_score_percentiles, _score_percentiles_oracle()
    ),
})


def q_oov_rates(spark, sf_dir):
    """Tokenizer-vocab coverage (tokenstats.vocab_oov_rates): per-
    language OOV occurrence/type rates against the corpus's own top-16
    token vocabulary — the coverage audit before pinning a tokenizer
    vocab (OOV mass is never uniform across languages)."""
    from inception_eventstore_spark.operators.tokenstats import (
        vocab_oov_rates,
    )

    d = _t(spark, sf_dir, "documents")
    return vocab_oov_rates(d, vocab_size=16).orderBy("lang")


_OOV_ORACLE = f"""
WITH ex AS (SELECT lang, unnest({_DUCK_TOKENS}) AS token
  FROM documents),
vocab AS (SELECT token FROM (
    SELECT token, count(*) AS tf FROM ex GROUP BY 1)
  ORDER BY tf DESC, token LIMIT 16),
fl AS (SELECT ex.lang, ex.token,
    CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
  FROM ex LEFT JOIN vocab v ON ex.token = v.token)
SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(oov) AS BIGINT) AS oov_tokens,
  CAST(count(DISTINCT CASE WHEN oov = 1 THEN token END) AS BIGINT)
    AS oov_types,
  CAST((sum(oov) * 1000000) // count(*) AS BIGINT) AS oov_ppm
FROM fl GROUP BY lang ORDER BY lang
"""


QUERIES.update({
    "oov_rates": QueryDef(q_oov_rates, _OOV_ORACLE),
})


def q_js_drift(spark, sf_dir):
    """Jensen-Shannon drift terms between the event log's calendar
    halves (profile.jensen_shannon_drift) — the bounded/symmetric
    companion to psi_drift: a brand-new bucket saturates JS at ln 2
    instead of sending a KL-based monitor to infinity. Same mid-split
    and decile buckets as psi_drift."""
    from inception_eventstore_spark.operators import profile as PR

    ev = _t(spark, sf_dir, "events")
    mid = ev.agg(
        F.timestamp_micros(
            F.floor(F.avg(F.unix_micros("ts"))).cast("bigint")
        ).alias("m")
    ).first()["m"]
    ref = ev.where(F.col("ts") < F.lit(mid))
    cur = ev.where(F.col("ts") >= F.lit(mid))
    return PR.jensen_shannon_drift(ref, cur, "value", bins=10)


_JS_ORACLE = """
WITH m AS (SELECT make_timestamp(CAST(floor(avg(epoch_us(ts))) AS BIGINT)) AS mid
  FROM events),
ref AS (SELECT value FROM events WHERE ts < (SELECT mid FROM m)),
cur AS (SELECT value FROM events WHERE ts >= (SELECT mid FROM m)),
edges AS (
  SELECT round(unnest(q), 6) AS e FROM (
    SELECT quantile_cont(value,
      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q FROM ref)),
rb AS (SELECT (SELECT count(*) FROM edges WHERE value > e) AS bin
  FROM ref),
cb AS (SELECT (SELECT count(*) FROM edges WHERE value > e) AS bin
  FROM cur),
rc AS (SELECT bin, count(*) AS n_ref FROM rb GROUP BY bin),
cc AS (SELECT bin, count(*) AS n_cur FROM cb GROUP BY bin),
bl AS (SELECT i AS bin FROM range(0, 10) t(i)),
j AS (SELECT bl.bin, coalesce(n_ref, 0) AS n_ref,
             coalesce(n_cur, 0) AS n_cur
  FROM bl LEFT JOIN rc ON bl.bin = rc.bin
  LEFT JOIN cc ON bl.bin = cc.bin),
t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j),
pq AS (SELECT bin,
    (n_ref + 0.5) / ((SELECT tr FROM t) + 5.0) AS p,
    (n_cur + 0.5) / ((SELECT tc FROM t) + 5.0) AS q
  FROM j)
SELECT CAST(bin AS INT) AS bin,
  round(p, 6) AS ref_share,
  round(q, 6) AS cur_share,
  round(0.5 * p * ln(p / ((p + q) / 2))
      + 0.5 * q * ln(q / ((p + q) / 2)), 6) AS js_term
FROM pq ORDER BY bin
"""


QUERIES.update({
    "js_drift": QueryDef(q_js_drift, _JS_ORACLE),
})


def q_burstiness(spark, sf_dir):
    """Inter-arrival burstiness per user (timeseries.
    interarrival_burstiness): Goh–Barabási B = (σ−µ)/(σ+µ) over each
    user's event gaps — near-periodic automation vs bursty human
    activity in one number. Lag window per user + a 3-sum moment
    fold."""
    from inception_eventstore_spark.operators.timeseries import (
        interarrival_burstiness,
    )

    ev = _t(spark, sf_dir, "events")
    return interarrival_burstiness(ev).orderBy("user_id")


_BURSTINESS_ORACLE = """
WITH g AS (SELECT user_id,
    CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY ts) AS DOUBLE) AS d
  FROM events),
a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
    sum(d) AS s1, sum(d * d) AS s2
  FROM g WHERE d IS NOT NULL GROUP BY user_id),
m AS (SELECT user_id, n_gaps,
    s1 / n_gaps AS mu,
    sqrt(greatest(s2 / n_gaps - (s1 / n_gaps) * (s1 / n_gaps), 0.0))
      AS sigma
  FROM a WHERE n_gaps >= 2)
SELECT user_id, n_gaps,
  round(mu / 1e6, 6) AS mean_gap_s,
  round(CASE WHEN mu > 0 THEN sigma / mu END, 6) AS cv,
  round(CASE WHEN sigma + mu > 0 THEN (sigma - mu) / (sigma + mu) END,
    6) AS burstiness
FROM m ORDER BY user_id
"""


QUERIES.update({
    "burstiness": QueryDef(q_burstiness, _BURSTINESS_ORACLE),
})


def q_embedding_isotropy(spark, sf_dir):
    """Embedding-space anisotropy (embeddings.embedding_isotropy):
    ‖mean unit vector‖² = the expected pairwise cosine of the space
    (Ethayarajh 2019, via the centroid identity) — near 0 when the
    space is directionally uniform, toward 1 when vectors crowd a
    cone and cosine retrieval stops discriminating. One posexplode +
    a dim-group partial aggregate; the corpus never shuffles."""
    from inception_eventstore_spark.operators import embeddings as EB

    emb = _t(spark, sf_dir, "embeddings")
    return EB.embedding_isotropy(emb, dim=64)


_ISOTROPY_ORACLE = """
WITH v AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
    AS ev FROM embeddings),
nv AS (SELECT ev, sqrt(list_reduce(list_prepend(0.0,
      list_transform(ev, x -> x * x)), (a, x) -> a + x)) AS nrm
  FROM v),
r AS (SELECT nrm, unnest(ev) AS x,
    generate_subscripts(ev, 1) - 1 AS d
  FROM nv WHERE nrm > 0),
pd AS (SELECT d, CAST(count(*) AS BIGINT) AS nn, sum(nrm) AS sn,
    sum(x / nrm) AS su
  FROM r GROUP BY d),
m AS (SELECT nn, sn, (su / nn) * (su / nn) AS m2 FROM pd)
SELECT CAST(max(nn) AS BIGINT) AS n,
  round(max(sn) / max(nn), 6) AS mean_norm,
  round(sum(m2), 6) AS anisotropy
FROM m
"""


QUERIES.update({
    "embedding_isotropy": QueryDef(
        q_embedding_isotropy, _ISOTROPY_ORACLE
    ),
})


def q_ooo_arrivals(spark, sf_dir):
    """Watermark sizing report (timeseries.out_of_order_report): per
    user, the fraction of events arriving with event time behind the
    key's running high-water mark (arrival order = event_id) and the
    worst lateness — the two numbers that choose a Structured-
    Streaming watermark delay before late data gets dropped."""
    from inception_eventstore_spark.operators.timeseries import (
        out_of_order_report,
    )

    ev = _t(spark, sf_dir, "events")
    return out_of_order_report(ev).orderBy("user_id")


_OOO_ORACLE = """
WITH r AS (SELECT user_id, epoch_us(ts) AS us,
    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
  FROM events),
a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
    CAST(sum(CASE WHEN us < hwm THEN 1 ELSE 0 END) AS BIGINT)
      AS n_late,
    max(CASE WHEN us < hwm THEN hwm - us ELSE 0 END) AS maxlate_us
  FROM r GROUP BY user_id)
SELECT user_id, n_events, n_late,
  CAST((n_late * 1000000) // n_events AS BIGINT) AS late_ppm,
  round(maxlate_us / 1e6, 6) AS max_lateness_s
FROM a ORDER BY user_id
"""


QUERIES.update({
    "ooo_arrivals": QueryDef(q_ooo_arrivals, _OOO_ORACLE),
})


def q_cdc_dedup(spark, sf_dir):
    """Content-defined chunk dedup accounting (dedup.cdc_dedup_report):
    Gear rolling-hash boundaries (seeded 256-entry literal table, low
    5 bits zero), then per-doc duplicate-chunk rates via a global
    fingerprint join — the content-addressed-storage savings estimate
    and a span-localized shared-content signal. The oracle replays the
    identical Gear sum per position from the SAME literal table."""
    from inception_eventstore_spark.operators.dedup import (
        cdc_dedup_report,
    )

    d = _t(spark, sf_dir, "documents")
    return cdc_dedup_report(d, k=8, mask_bits=5).orderBy("doc_id")


def _cdc_gear_boundary_sql(mask_bits: int = 5) -> str:
    """The Gear boundary predicate for position i, replaying
    dedup._gear_boundaries: tap t (t < mask_bits) contributes
    gear[cp_{i-t} % 256]·2^t when i > t; boundary iff the sum's low
    mask_bits bits are zero. Same GEAR_TABLE literals as the kernel."""
    from inception_eventstore_spark.operators.dedup import GEAR_TABLE

    taps = []
    for t in range(mask_bits):
        term = (
            f"ga[1 + (unicode(substr(t, CAST(i - {t} AS INTEGER), 1)) "
            f"% 256)] * {1 << t}"
        )
        taps.append(
            term if t == 0 else f"(CASE WHEN i > {t} THEN {term} ELSE 0 END)"
        )
    ga = ", ".join(str(v) for v in GEAR_TABLE)
    return (
        f"gear AS (SELECT [{ga}] AS ga),\n"
        "g AS (SELECT doc_id, n, t, unnest(range(1, n + 1)) AS i"
        " FROM base),\n"
        f"b AS (SELECT doc_id, i AS e FROM g, gear\n"
        f"  WHERE ({' + '.join(taps)}) % {1 << mask_bits} = 0)"
    )


_CDC_ORACLE = f"""
WITH base AS (SELECT doc_id, text AS t, length(text) AS n
  FROM documents WHERE length(text) >= 1),
{_cdc_gear_boundary_sql(5)},
ends AS (SELECT DISTINCT doc_id, e FROM (
    SELECT doc_id, e FROM b
    UNION ALL SELECT doc_id, n AS e FROM base)),
spans AS (SELECT doc_id, e,
    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e) + 1, 1) AS s
  FROM ends),
ch AS (SELECT spans.doc_id, e - s + 1 AS chunk_len,
    md5(substring(base.t, CAST(s AS INTEGER),
      CAST(e - s + 1 AS INTEGER))) AS fp
  FROM spans JOIN base ON spans.doc_id = base.doc_id),
fd AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM ch GROUP BY fp)
SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
  round(avg(chunk_len), 6) AS mean_chunk_len,
  CAST(sum(CASE WHEN fd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS dup_chunks,
  CAST((sum(CASE WHEN fd.nd > 1 THEN 1 ELSE 0 END) * 1000000)
    // count(*) AS BIGINT) AS dup_ppm
FROM ch JOIN fd ON ch.fp = fd.fp
GROUP BY ch.doc_id ORDER BY ch.doc_id
"""


QUERIES.update({
    "cdc_dedup": QueryDef(q_cdc_dedup, _CDC_ORACLE),
})


def q_heldout_ppl(spark, sf_dir):
    """Held-out bigram-LM perplexity (lm.heldout_perplexity): train
    the add-one bigram counts on folds 1-4 of the content-keyed
    k-fold split, score fold 0, report bigram-weighted cross-entropy
    and perplexity — the fixed-eval-fold signal a curation change is
    judged by, exercising the unseen-bigram smoothing floor that
    self-scoring never hits."""
    from inception_eventstore_spark.operators.lm import (
        heldout_perplexity,
    )

    d = _t(spark, sf_dir, "documents")
    return heldout_perplexity(d, k_folds=5, test_fold=0)


def _heldout_ppl_oracle() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk,
    CAST(('0x' || substring(md5('kfold-v1:'
      || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS fold
  FROM documents),
tr AS (SELECT doc_id, tk FROM toks WHERE fold <> 0),
te AS (SELECT doc_id, tk FROM toks WHERE fold = 0),
ptr AS (
  SELECT g['a'] AS a, g['b'] AS b FROM (
    SELECT unnest([struct_pack(a := tk[i], b := tk[i+1])
            for i in generate_series(1, len(tk)-1)]) AS g
    FROM tr WHERE len(tk) >= 2)),
c2 AS (SELECT a, b, count(*) AS c2 FROM ptr GROUP BY a, b),
c1 AS (SELECT a, sum(c2) AS c1 FROM c2 GROUP BY a),
v AS (SELECT count(DISTINCT t) AS vocab FROM (
  SELECT unnest(tk) AS t FROM tr)),
pte AS (
  SELECT doc_id, g['a'] AS a, g['b'] AS b FROM (
    SELECT doc_id,
      unnest([struct_pack(a := tk[i], b := tk[i+1])
              for i in generate_series(1, len(tk)-1)]) AS g
    FROM te WHERE len(tk) >= 2)),
s AS (
  SELECT p.doc_id,
    ln((coalesce(c2.c2, 0) + 1)
       / (CAST(coalesce(c1.c1, 0) AS DOUBLE) + v.vocab)) AS lp
  FROM pte p LEFT JOIN c2 USING (a, b) LEFT JOIN c1 USING (a)
  CROSS JOIN v),
pd AS (SELECT doc_id, count(*) AS nb, round(avg(lp), 6) AS sc
  FROM s GROUP BY doc_id),
f AS (SELECT CAST(count(*) AS BIGINT) AS n_test_docs,
    CAST(sum(nb) AS BIGINT) AS n_bigrams,
    -sum(nb * sc) / sum(nb) AS xe
  FROM pd)
SELECT n_test_docs, n_bigrams, round(xe, 6) AS cross_entropy,
  round(exp(xe), 6) AS perplexity
FROM f
"""


QUERIES.update({
    "heldout_ppl": QueryDef(q_heldout_ppl, _heldout_ppl_oracle()),
})


def q_trimmed_stats(spark, sf_dir):
    """Robust per-type value statistics (profile.trimmed_stats): 5%
    two-sided trimmed mean/std in exact integer-cent arithmetic —
    the outlier-immune baseline a monitoring threshold should use
    under heavy tails. Rank cut via the two-phase shard rank,
    moments as associative BIGINT sums."""
    from inception_eventstore_spark.operators.profile import (
        trimmed_stats,
    )

    ev = _t(spark, sf_dir, "events")
    return trimmed_stats(ev).orderBy("event_type")


_TRIMMED_ORACLE = """
WITH base AS (SELECT event_type AS grp,
    CAST(round(value * 100) AS BIGINT) AS c, event_id AS tb
  FROM events WHERE value IS NOT NULL),
rk AS (SELECT grp, c,
    row_number() OVER (PARTITION BY grp ORDER BY c, tb) AS r,
    count(*) OVER (PARTITION BY grp) AS n
  FROM base),
kept AS (SELECT grp, c, n FROM rk
  WHERE r > (n * 50000) // 1000000
    AND r <= n - (n * 50000) // 1000000),
m AS (SELECT grp, CAST(max(n) AS BIGINT) AS n,
    CAST(count(*) AS BIGINT) AS n_trimmed,
    CAST(sum(c) AS BIGINT) AS s1,
    CAST(sum(c * c) AS BIGINT) AS s2
  FROM kept GROUP BY grp)
SELECT grp AS event_type, n, n_trimmed,
  round((CAST(s1 AS DOUBLE) / n_trimmed) / 100.0, 6) AS trimmed_mean,
  round(sqrt(greatest(CAST(s2 AS DOUBLE) / n_trimmed
      - (CAST(s1 AS DOUBLE) / n_trimmed)
        * (CAST(s1 AS DOUBLE) / n_trimmed), 0.0)) / 100.0, 6)
    AS trimmed_std
FROM m ORDER BY event_type
"""


QUERIES.update({
    "trimmed_stats": QueryDef(q_trimmed_stats, _TRIMMED_ORACLE),
})


def q_incremental_projection(spark, sf_dir):
    """Snapshot + delta projection rebuild (eventstore.
    latest_property_state_incremental): fold events before the log's
    mid-timestamp into a snapshot, fold the delta, merge — and match
    the FULL-replay oracle row-for-row. Certifies the event-sourcing
    snapshot optimization (maintenance cost ∝ delta, not log) is
    lossless, including same-instant tiebreaks inside each side."""
    from inception_eventstore_spark.operators.eventstore import (
        latest_property_state_incremental,
    )

    ev = _t(spark, sf_dir, "events")
    mid = ev.agg(
        F.timestamp_micros(
            F.floor(F.avg(F.unix_micros("ts"))).cast("bigint")
        ).alias("m")
    ).first()["m"]
    out = latest_property_state_incremental(ev, mid)
    return out.select(
        "user_id",
        "prop_key",
        "latest_value",
        F.col("n_set").cast("bigint").alias("n_set"),
        "last_set_ts",
    ).orderBy("user_id", "prop_key")


QUERIES.update({
    # the oracle IS the full-replay fold — the whole point
    "incremental_projection": QueryDef(
        q_incremental_projection, _LATEST_PROP_ORACLE
    ),
})


def q_funnel_latency(spark, sf_dir):
    """Exact conversion-latency percentiles per funnel step pair
    (funnel.funnel_latency_percentiles): signup → click → purchase,
    p50/p90 as rank-⌈p·n⌉ order statistics over integer-µs latencies
    — the time half of funnel analysis, engine-identical by
    construction."""
    from inception_eventstore_spark.operators.funnel import (
        funnel_latency_percentiles,
    )

    e = _t(spark, sf_dir, "events")
    return funnel_latency_percentiles(
        e, ["signup", "click", "purchase"]
    ).orderBy("step_idx")


_FUNNEL_LATENCY_ORACLE = """
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, s1.t AS tp, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts >= s1.t
  GROUP BY e.user_id, s1.t),
s3 AS (SELECT e.user_id, s2.t AS tp, min(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t
  GROUP BY e.user_id, s2.t),
lat AS (
  SELECT 2 AS step_idx, 'click' AS step, user_id AS u,
    epoch_us(t) - epoch_us(tp) AS l FROM s2
  UNION ALL
  SELECT 3 AS step_idx, 'purchase' AS step, user_id AS u,
    epoch_us(t) - epoch_us(tp) AS l FROM s3),
rk AS (SELECT step_idx, step, l,
    row_number() OVER (PARTITION BY step_idx ORDER BY l, u) AS r,
    count(*) OVER (PARTITION BY step_idx) AS n
  FROM lat)
SELECT CAST(step_idx AS BIGINT) AS step_idx, step,
  CAST(max(n) AS BIGINT) AS n_users,
  round(max(CASE WHEN r = (n + 1) // 2 THEN l END) / 1e6, 6) AS p50_s,
  round(max(CASE WHEN r = (9 * n + 9) // 10 THEN l END) / 1e6, 6)
    AS p90_s
FROM rk GROUP BY step_idx, step ORDER BY step_idx
"""


QUERIES.update({
    "funnel_latency": QueryDef(q_funnel_latency, _FUNNEL_LATENCY_ORACLE),
})


def q_calibration_curve(spark, sf_dir):
    """Reliability diagram of the quality model at predicting English
    (scoring.calibration_curve): per probability bucket, mean
    prediction vs empirical positive rate — the calibration audit
    that decides whether a probability threshold means what it says
    before it gates a corpus."""
    from inception_eventstore_spark.operators import scoring as SC

    docs = _t(spark, sf_dir, "documents")
    scored = SC.linear_quality_score(docs, dim=64).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return SC.calibration_curve(
        scored.withColumn("is_en", F.col("lang") == "en"),
        "quality_prob",
        "is_en",
        bins=10,
    )


_CALIBRATION_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
bk AS (SELECT doc_id, unnest(list_transform(tk, tok ->
  CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT)
  % 64)) AS bucket FROM t),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
w AS (SELECT i AS bucket,
  (CAST(('0x' || substring(md5('qw:v1:' || CAST(i AS VARCHAR)), 1, 15))
        AS BIGINT) - 576460752303423488) / 576460752303423488.0 AS w
  FROM range(0, 64) t(i)),
s AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(sum(w * cnt)
    / sum(cnt)))), 6) AS p
  FROM c JOIN w ON c.bucket = w.bucket GROUP BY doc_id),
lab AS (SELECT s.p,
    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
    least(CAST(floor(s.p * 10) AS INTEGER), 9) AS bin
  FROM s JOIN documents d ON s.doc_id = d.doc_id
  WHERE s.p IS NOT NULL),
g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS n_pos,
    round(avg(p), 6) AS mean_prob
  FROM lab GROUP BY bin)
SELECT bin, n, n_pos, mean_prob,
  CAST(CAST((n_pos * 1000000) // n AS BIGINT) AS DOUBLE) / 1e6
    AS pos_rate,
  round(mean_prob - CAST(CAST((n_pos * 1000000) // n AS BIGINT)
    AS DOUBLE) / 1e6, 6) AS gap
FROM g ORDER BY bin
"""


QUERIES.update({
    "calibration_curve": QueryDef(
        q_calibration_curve, _CALIBRATION_ORACLE
    ),
})


def q_simhash_calibration(spark, sf_dir):
    """SimHash→Jaccard calibration table (dedup.
    simhash_jaccard_calibration): for every pair within hamming 6
    (lossless 8-block banding, portable md5 signatures), the exact
    token-Jaccard distribution per distance — the table a dedup
    threshold is read off of before trusting hamming as a similarity
    proxy on a new corpus."""
    from inception_eventstore_spark.operators.dedup import (
        simhash_jaccard_calibration,
    )

    d = _t(spark, sf_dir, "documents")
    return simhash_jaccard_calibration(
        d, max_hamming=6, n_blocks=8
    ).orderBy("hamming")


def _simhash_calibration_oracle() -> str:
    sums = ", ".join(f"sum((h >> {b}) & 1) AS s{b}" for b in range(60))
    sig = " + ".join(
        f"(CASE WHEN 2 * s{b} > n THEN {1 << b} ELSE 0 END)"
        for b in range(60)
    )
    return f"""
WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS t
  FROM documents),
h AS (SELECT doc_id,
  CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM toks),
bits AS (SELECT doc_id, count(*) AS n, {sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {sig} AS sh FROM bits),
prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sh, b.sh)) <= 6),
sets AS (SELECT doc_id, list_distinct({_DUCK_TOKENS}) AS s
  FROM documents),
j AS (SELECT prs.hamming,
    round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
      / (len(sa.s) + len(sb.s)
         - len(list_intersect(sa.s, sb.s))), 6) AS jj
  FROM prs JOIN sets sa ON prs.id_a = sa.doc_id
  JOIN sets sb ON prs.id_b = sb.doc_id)
SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
  round(avg(jj), 6) AS mean_jaccard,
  min(jj) AS min_jaccard, max(jj) AS max_jaccard
FROM j GROUP BY hamming ORDER BY hamming
"""


QUERIES.update({
    "simhash_calibration": QueryDef(
        q_simhash_calibration, _simhash_calibration_oracle()
    ),
})


def q_join_cardinality(spark, sf_dir):
    """Pre-join sizing report (profile.join_cardinality): the exact
    inner-join row count and worst-key fan-out of orders ⋈ lineitem
    on orderkey, predicted from the two per-key count tables without
    executing the join — the blowup/skew diagnostic that runs before
    a 100 TB shuffle, at the cost of two key-count aggregates."""
    from inception_eventstore_spark.operators.profile import (
        join_cardinality,
    )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return join_cardinality(o, li, "o_orderkey", "l_orderkey")


_JOIN_CARD_ORACLE = """
WITH lc AS (SELECT o_orderkey AS k, count(*) AS nl FROM orders
  WHERE o_orderkey IS NOT NULL GROUP BY 1),
rc AS (SELECT l_orderkey AS k, count(*) AS nr FROM lineitem
  WHERE l_orderkey IS NOT NULL GROUP BY 1),
j AS (SELECT CAST(count(*) AS BIGINT) AS keys_common,
    CAST(coalesce(sum(nl * nr), 0) AS BIGINT) AS join_rows,
    CAST(coalesce(max(nl * nr), 0) AS BIGINT) AS max_key_product
  FROM lc JOIN rc USING (k)),
lt AS (SELECT CAST(sum(nl) AS BIGINT) AS n_left,
    CAST(count(*) AS BIGINT) AS keys_left FROM lc),
rt AS (SELECT CAST(sum(nr) AS BIGINT) AS n_right,
    CAST(count(*) AS BIGINT) AS keys_right FROM rc)
SELECT n_left, n_right, keys_left, keys_right, keys_common,
  join_rows, max_key_product
FROM lt CROSS JOIN rt CROSS JOIN j
"""


QUERIES.update({
    "join_cardinality": QueryDef(q_join_cardinality, _JOIN_CARD_ORACLE),
})


def q_pareto_frontier(spark, sf_dir):
    """Skyline of users on (event volume, best value): points = one
    row per user with n_events and floor(max(value)·2^20); frontier =
    users no other user beats on both axes (skyline.pareto_frontier —
    per-x max table + sharded strict-prefix running max + broadcast of
    the frontier-x set; never an O(n²) dominance join). Both axes are
    exact integers, so dominance is bit-identical cross-engine: count
    is integral and floor() of the identically-computed double
    max(value)·2^20 matches DuckDB (selection then one multiply — no
    rounding-order jitter)."""
    from inception_eventstore_spark.operators.skyline import (
        pareto_frontier,
    )

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    pts = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.floor(F.max("value") * F.lit(1048576.0))
        .cast("bigint")
        .alias("vmax_micro"),
    )
    return pareto_frontier(pts, "n_events", "vmax_micro")


_PARETO_ORACLE = """
WITH pts AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
    CAST(floor(max(value) * 1048576.0) AS BIGINT) AS vmax_micro
  FROM events WHERE value IS NOT NULL GROUP BY user_id)
SELECT user_id, n_events, vmax_micro FROM pts q
WHERE NOT EXISTS (SELECT 1 FROM pts p
  WHERE (p.n_events > q.n_events AND p.vmax_micro >= q.vmax_micro)
     OR (p.n_events >= q.n_events AND p.vmax_micro > q.vmax_micro))
"""


QUERIES.update({
    "pareto_frontier": QueryDef(q_pareto_frontier, _PARETO_ORACLE),
})


def q_decayed_topk(spark, sf_dir):
    """Hottest 5 event types by exponentially-decayed count (half-life
    one week, timeseries.decayed_counts): per-event weights are the
    integer 2^(30-min(age_weeks,30)), so the decayed score is an exact
    BIGINT sum — associative partial aggregation, bit-identical to the
    sequential DuckDB replay, no floating decay anywhere. Reference
    time = corpus max event date (broadcast scalar, no wall clock)."""
    from inception_eventstore_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    out = TS.decayed_counts(
        ev, key_col="event_type", halflife_days=7, bits=30
    )
    return out.orderBy(
        F.col("decayed_units").desc(), "event_type"
    ).limit(5)


_DECAYED_TOPK_ORACLE = """
WITH ref AS (SELECT max(CAST(ts AS DATE)) AS r FROM events),
w AS (
  SELECT event_type,
    (1::BIGINT << CAST(30 - least(
        floor(datediff('day', CAST(ts AS DATE), r) / 7.0), 30) AS INT)
    ) AS wt,
    datediff('day', CAST(ts AS DATE), r) AS age_d
  FROM events CROSS JOIN ref)
SELECT event_type, CAST(sum(wt) AS BIGINT) AS decayed_units,
  CAST(count(*) AS BIGINT) AS n_total,
  CAST(min(age_d) AS BIGINT) AS newest_age_d
FROM w GROUP BY event_type
ORDER BY decayed_units DESC, event_type LIMIT 5
"""


QUERIES.update({
    "decayed_topk": QueryDef(q_decayed_topk, _DECAYED_TOPK_ORACLE),
})


def q_attribution(spark, sf_dir):
    """Multi-touch attribution of purchases across the four touch
    channels, 7-day lookback (funnel.attribution_credit): first/last
    touch counts + exact integer-ppm linear credit (each conversion
    splits 1,000,000 micro-credits, remainder to the first touch — no
    floating 1/n anywhere, so channel totals are associative BIGINT
    sums). The pair join is per-user with the window predicate in the
    join; per-conversion stats come from one bounded-group agg."""
    from inception_eventstore_spark.operators import funnel as FU

    ev = _t(spark, sf_dir, "events")
    return FU.attribution_credit(
        ev, conversion_type="purchase", lookback_days=7
    )


_ATTRIBUTION_ORACLE = """
WITH conv AS (
  SELECT user_id AS u, ts AS cts, event_id AS cid FROM events
  WHERE event_type = 'purchase'),
touch AS (
  SELECT user_id AS u, event_type AS channel, ts AS tts,
    event_id AS tid
  FROM events WHERE event_type <> 'purchase'),
pairs AS (
  SELECT channel, tts, tid, cid
  FROM touch JOIN conv USING (u)
  WHERE tts < cts AND tts >= cts - to_days(7)),
pc AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n,
    min({'t': tts, 'i': tid}) AS f, max({'t': tts, 'i': tid}) AS l
  FROM pairs GROUP BY cid),
credited AS (
  SELECT channel,
    (tid = f.i) AS is_first, (tid = l.i) AS is_last,
    (1000000 // n) + CASE WHEN tid = f.i THEN 1000000 % n ELSE 0 END
      AS ppm
  FROM pairs JOIN pc USING (cid))
SELECT channel,
  CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT)
    AS first_touch,
  CAST(sum(CASE WHEN is_last THEN 1 ELSE 0 END) AS BIGINT)
    AS last_touch,
  CAST(sum(ppm) AS BIGINT) AS linear_credit_ppm,
  CAST(count(*) AS BIGINT) AS n_touches
FROM credited GROUP BY channel
"""


QUERIES.update({
    "attribution_credit": QueryDef(q_attribution, _ATTRIBUTION_ORACLE),
})


def q_km_survival(spark, sf_dir):
    """Kaplan-Meier time-to-purchase from first signup, right-censored
    at the user's last event (funnel.km_survival): per event day the
    at-risk count, event count and the product-limit survival estimate
    as the EXACT integer recurrence S_i = (S_{i-1}·(n_i−d_i)) div n_i
    in parts-per-billion — a product of rationals replayed identically
    by the DuckDB recursive CTE, no libm, no decimal-boundary rounding.
    Heavy lifting (per-user firsts/lasts, per-day counts) is
    distributed; only the bounded day axis crosses to the driver."""
    from inception_eventstore_spark.operators import funnel as FU

    ev = _t(spark, sf_dir, "events")
    return FU.km_survival(ev, start_type="signup", event_type="purchase")


_KM_ORACLE = """
WITH starts AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
lasts AS (SELECT user_id, max(ts) AS tmax FROM events GROUP BY user_id),
fe AS (
  SELECT e.user_id, min(e.ts) AS te
  FROM events e JOIN starts s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.t0
  GROUP BY e.user_id),
per_user AS (
  SELECT CASE WHEN fe.te IS NOT NULL
      THEN datediff('day', CAST(s.t0 AS DATE), CAST(fe.te AS DATE))
      ELSE datediff('day', CAST(s.t0 AS DATE), CAST(l.tmax AS DATE))
    END AS d,
    CASE WHEN fe.te IS NOT NULL THEN 1 ELSE 0 END AS obs
  FROM starts s JOIN lasts l ON s.user_id = l.user_id
  LEFT JOIN fe ON s.user_id = fe.user_id),
per_day AS (
  SELECT d, CAST(sum(obs) AS BIGINT) AS de,
    CAST(sum(1 - obs) AS BIGINT) AS ce
  FROM per_user GROUP BY d),
risk AS (
  SELECT d, de, ce,
    (SELECT count(*) FROM per_user)
      - coalesce(sum(de + ce) OVER (ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS n_risk
  FROM per_day),
ev_days AS (
  SELECT d, de, n_risk,
    row_number() OVER (ORDER BY d) AS rn
  FROM risk WHERE de > 0),
km AS (
  SELECT rn, d, de, n_risk,
    CAST(1000000000 AS BIGINT) AS s
  FROM ev_days WHERE rn = 1
  UNION ALL
  SELECT e.rn, e.d, e.de, e.n_risk,
    (km.s * (km.n_risk - km.de)) // km.n_risk AS s
  FROM km JOIN ev_days e ON e.rn = km.rn + 1)
SELECT d AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
  de AS n_events,
  CAST((s * (n_risk - de)) // n_risk AS BIGINT) AS survival_ppb
FROM km
"""


QUERIES.update({
    "km_survival": QueryDef(q_km_survival, "WITH RECURSIVE " + _KM_ORACLE.lstrip().removeprefix("WITH ")),
})


def q_mmr_diverse(spark, sf_dir):
    """MMR diverse top-5 (λ = 0.7) for 4 query vectors over a 20-deep
    exact candidate pool (similarity.mmr_diverse_topk): the
    redundancy-penalized retrieval ranking. Pool stage is the one-scan
    multi_query_topk Arrow kernel; the greedy runs on integer
    micro-unit cosines (floor(cos·10⁶)) so the DuckDB replay — the
    same greedy unrolled as five chained CTE stages — is
    bit-identical."""
    from inception_eventstore_spark.operators.similarity import (
        mmr_diverse_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qrows = (
        emb.where(F.col("vec_id") < 4)
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in qrows
    ]
    corpus = emb.where(F.col("vec_id") >= 4)
    return mmr_diverse_topk(corpus, queries, k=5, pool=20)


def _mmr_oracle(nq=4, k=5, pool=20, lam_num=7, lam_den=10):
    """The mmr_diverse_topk greedy unrolled as k chained CTE stages:
    stage j computes every remaining candidate's integer MMR score
    against the j-1 picks carried as columns, then arg-maxes via a
    struct min — pure BIGINT arithmetic after the floor(cos·1e6)
    quantization, so it replays the numpy greedy exactly."""
    mu = lam_den - lam_num
    ctes = [f"""q AS (SELECT vec_id AS qid,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < {nq}),
c AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id >= {nq}),
d AS (SELECT q.qid, c.vec_id,
    sqrt(greatest(list_inner_product(cv, cv)
      - 2 * list_inner_product(cv, qv)
      + list_inner_product(qv, qv), 0)) AS dist
  FROM q CROSS JOIN c),
pool AS (SELECT qid, vec_id FROM (
    SELECT qid, vec_id, row_number() OVER (
      PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM d)
  WHERE rn <= {pool}),
rels AS (SELECT p.qid, p.vec_id,
    CAST(floor(list_cosine_similarity(q.qv, c.cv) * 1000000)
      AS BIGINT) AS rel
  FROM pool p JOIN q ON p.qid = q.qid JOIN c ON p.vec_id = c.vec_id),
ps AS (SELECT a.qid, a.vec_id AS va, b.vec_id AS vb,
    CAST(floor(list_cosine_similarity(ca.cv, cb.cv) * 1000000)
      AS BIGINT) AS s
  FROM pool a JOIN pool b ON a.qid = b.qid AND a.vec_id <> b.vec_id
  JOIN c ca ON a.vec_id = ca.vec_id
  JOIN c cb ON b.vec_id = cb.vec_id),
pk1 AS (SELECT qid, m.b AS v1, -m.a AS sc1 FROM (
    SELECT qid, min({{'a': -({lam_num} * rel), 'b': vec_id}}) AS m
    FROM rels GROUP BY qid) GROUP BY ALL)"""]
    for j in range(2, k + 1):
        prev = j - 1
        simjoins = "\n  ".join(
            f"JOIN ps s{i} ON s{i}.qid = r.qid AND s{i}.va = r.vec_id "
            f"AND s{i}.vb = p.v{i}"
            for i in range(1, j)
        )
        maxsim = (
            f"greatest({', '.join(f's{i}.s' for i in range(1, j))})"
            if prev > 1
            else "s1.s"
        )
        notin = ", ".join(f"p.v{i}" for i in range(1, j))
        carried = ", ".join(
            f"p.v{i}, p.sc{i}" for i in range(1, j)
        )
        ctes.append(f"""cand{j} AS (
  SELECT r.qid, r.vec_id,
    {lam_num} * r.rel - {mu} * {maxsim} AS score
  FROM rels r JOIN pk{prev} p ON r.qid = p.qid
  {simjoins}
  WHERE r.vec_id NOT IN ({notin})),
pk{j} AS (SELECT p.qid, {carried}, x.m.b AS v{j}, -x.m.a AS sc{j}
  FROM pk{prev} p JOIN (
    SELECT qid, min({{'a': -score, 'b': vec_id}}) AS m
    FROM cand{j} GROUP BY qid) x ON p.qid = x.qid)""")
    branches = "\nUNION ALL\n".join(
        f"SELECT qid AS query_id, CAST({j} AS BIGINT) AS sel_rank, "
        f"v{j} AS vec_id, sc{j} AS mmr_score_e7 FROM pk{k}"
        for j in range(1, k + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + branches


QUERIES.update({
    "mmr_diverse_topk": QueryDef(q_mmr_diverse, _mmr_oracle()),
})


def q_graph_kcore(spark, sf_dir):
    """2-core of the exact 3-NN embedding graph (graph.kcore):
    synchronous peeling to the fixpoint (round cap 30 on BOTH
    engines, so even a non-converged cap is the same deterministic
    function). Output = surviving nodes with their degree inside the
    core-induced subgraph. Oracle = iteration-stamped recursive CTE
    replaying the identical synchronous rounds."""
    from inception_eventstore_spark.operators import graph as G

    return G.kcore(
        _knn_edges(spark, sf_dir), k=2, max_rounds=30
    ).orderBy("node")


_KCORE_ORACLE = f"""
WITH RECURSIVE {_KNN_EDGE_CTE.strip()},
surv(it, node) AS (
  SELECT 0, node FROM (SELECT DISTINCT node FROM nb)
  UNION ALL
  SELECT s.it + 1, s.node
  FROM surv s
  WHERE s.it < 30 AND s.node IN (
    SELECT nb2.node FROM nb nb2
    JOIN surv s2 ON s2.node = nb2.nbr AND s2.it = s.it
    GROUP BY nb2.node HAVING count(*) >= 2))
SELECT f.node, CAST(count(*) AS BIGINT) AS core_degree
FROM surv f
JOIN nb ON nb.node = f.node
JOIN surv s2 ON s2.node = nb.nbr AND s2.it = 30
WHERE f.it = 30
GROUP BY f.node
ORDER BY f.node
"""


QUERIES.update({
    "graph_kcore": QueryDef(q_graph_kcore, _KCORE_ORACLE),
})


def q_benford(spark, sf_dir):
    """Benford first-digit audit of order totals
    (profile.benford_audit): observed counts + ppm share vs the
    injected-literal Benford expectation. Leading digits come from
    integer-cents arithmetic (floor(x·100+0.5), digit = c div
    10^(len−1)) — no double formatting, no log10, engine-exact."""
    from inception_eventstore_spark.operators.profile import (
        benford_audit,
    )

    o = _t(spark, sf_dir, "orders")
    return benford_audit(o, "o_totalprice")


def _benford_oracle() -> str:
    import math

    lits = ", ".join(
        f"({d}, {int(math.floor(math.log10(1.0 + 1.0 / d) * 1e6))})"
        for d in range(1, 10)
    )
    return f"""
WITH c AS (
  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
d AS (
  SELECT c // CAST(pow(10, length(CAST(c AS VARCHAR)) - 1) AS BIGINT)
    AS digit
  FROM c WHERE c > 0),
obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS observed
  FROM d GROUP BY digit),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
ref(digit, benford_ppm) AS (VALUES {lits})
SELECT CAST(ref.digit AS BIGINT) AS digit,
  CAST(coalesce(observed, 0) AS BIGINT) AS observed,
  CAST(coalesce(observed, 0) * 1000000 // greatest(n, 1) AS BIGINT)
    AS obs_ppm,
  CAST(benford_ppm AS BIGINT) AS benford_ppm
FROM ref LEFT JOIN obs ON ref.digit = obs.digit CROSS JOIN tot
"""


QUERIES.update({
    "benford_audit": QueryDef(q_benford, _benford_oracle()),
})


def q_cusum(spark, sf_dir):
    """Two-sided CUSUM level-shift monitor over daily event counts per
    type (timeseries.cusum_changepoints): target = exact lower-median
    daily count, slack = 1·MAD, threshold = 5·MAD — all integers, so
    the sequential max(0, ·) recurrence replays bit-for-bit in the
    recursive-CTE oracle. Zero-filled global day grid; distributed
    per-(type, day) counting, bounded-axis driver recurrence."""
    from inception_eventstore_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    return TS.cusum_changepoints(ev, h_mult=5, slack_mult=1)


_CUSUM_ORACLE = """
WITH RECURSIVE bounds AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events),
days AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
    AS day
  FROM bounds),
types AS (SELECT DISTINCT event_type FROM events),
cnts AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
  FROM events GROUP BY 1, 2),
x AS (
  SELECT t.event_type, d.day, CAST(coalesce(c.x, 0) AS BIGINT) AS x,
    row_number() OVER (PARTITION BY t.event_type ORDER BY d.day)
      AS rn
  FROM types t CROSS JOIN days d
  LEFT JOIN cnts c
    ON c.event_type = t.event_type AND c.day = d.day),
n AS (SELECT event_type, count(*) AS n FROM x GROUP BY 1),
med AS (
  SELECT q.event_type, q.x AS m FROM (
    SELECT event_type, x, row_number() OVER (
      PARTITION BY event_type ORDER BY x, day) AS r FROM x) q
  JOIN n USING (event_type) WHERE q.r = (n.n + 1) // 2),
mad AS (
  SELECT q.event_type, q.ad AS mad FROM (
    SELECT x.event_type, abs(x.x - med.m) AS ad,
      row_number() OVER (PARTITION BY x.event_type
        ORDER BY abs(x.x - med.m), x.day) AS r
    FROM x JOIN med USING (event_type)) q
  JOIN n USING (event_type) WHERE q.r = (n.n + 1) // 2),
p AS (
  SELECT x.event_type, x.day, x.x, x.rn, med.m, mad.mad
  FROM x JOIN med USING (event_type) JOIN mad USING (event_type)),
walk(event_type, rn, day, x, sp, sn) AS (
  SELECT event_type, rn, day, x,
    greatest(0, x - m - mad), greatest(0, m - x - mad)
  FROM p WHERE rn = 1
  UNION ALL
  SELECT p.event_type, p.rn, p.day, p.x,
    greatest(0, w.sp + (p.x - p.m - p.mad)),
    greatest(0, w.sn + (p.m - p.x - p.mad))
  FROM walk w JOIN p
    ON p.event_type = w.event_type AND p.rn = w.rn + 1)
SELECT w.event_type, w.day, w.x,
  CAST(w.sp AS BIGINT) AS cusum_pos,
  CAST(w.sn AS BIGINT) AS cusum_neg,
  CAST(CASE WHEN w.sp > 5 * p.mad OR w.sn > 5 * p.mad
    THEN 1 ELSE 0 END AS BIGINT) AS flag
FROM walk w JOIN p ON p.event_type = w.event_type AND p.rn = w.rn
"""


QUERIES.update({
    "cusum_changepoints": QueryDef(q_cusum, _CUSUM_ORACLE),
})


def q_retrieval_ndcg(spark, sf_dir):
    """Retrieval scorecard: nDCG@10 of the BM25 ranking per query
    (retrieval.retrieval_ndcg), graded relevance = distinct query
    terms present (integer, engine-exact), rank discounts injected as
    python literals — the eval loop a retrieval pipeline runs after
    every index change. Ideal DCG fills k slots from the bounded
    (query, grade) count table — never ranks documents."""
    from inception_eventstore_spark.operators import retrieval as RT

    docs = _t(spark, sf_dir, "documents")
    qdf = local_df(
        spark,
        [
            (1, ["spark", "merge", "key"]),
            (2, ["window", "batch"]),
            (3, ["key", "batch", "merge"]),
        ],
        "query_id long, terms array<string>",
    )
    return RT.retrieval_ndcg(docs, qdf, k=10)


def _ndcg_oracle(k: int = 10) -> str:
    import math

    w = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    wpre = [0.0]
    for x in w:
        wpre.append(wpre[-1] + x)
    wt = ", ".join(f"({i}, {w[i - 1]!r})" for i in range(1, k + 1))
    wp = ", ".join(f"({j}, {wpre[j]!r})" for j in range(0, k + 1))
    return f"""
WITH kb AS (SELECT CAST(1.2 AS DOUBLE) AS k1, CAST(0.75 AS DOUBLE) AS b),
qs AS (SELECT * FROM (VALUES (1, 'spark'), (1, 'merge'), (1, 'key'),
                             (2, 'window'), (2, 'batch'),
                             (3, 'key'), (3, 'batch'), (3, 'merge'))
       AS t(query_id, token)),
toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
st AS (SELECT count(*) AS n, sum(len(tk)) AS sdl FROM toks),
ex AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS token FROM toks),
tf AS (
  SELECT doc_id, token, count(*) AS tf, any_value(dl) AS dl
  FROM ex WHERE token IN (SELECT token FROM qs)
  GROUP BY doc_id, token),
idf AS (
  SELECT token,
    ln(1.0 + ((SELECT CAST(n AS DOUBLE) FROM st)
              - count(DISTINCT doc_id) + 0.5)
             / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf GROUP BY token),
sc AS (
  SELECT query_id, doc_id,
    round(sum(idf * (tf * (kb.k1 + 1.0))
              / (tf + kb.k1 * ((1.0 - kb.b)
                 + kb.b * dl / ((SELECT CAST(sdl AS DOUBLE) FROM st)
                               / (SELECT n FROM st))))), 6) AS score
  FROM tf JOIN idf USING (token) JOIN qs USING (token), kb
  GROUP BY query_id, doc_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id) AS rank FROM sc),
dt AS (SELECT DISTINCT doc_id, token FROM
  (SELECT doc_id, unnest(tk) AS token FROM toks)),
rel AS (SELECT qs.query_id, dt.doc_id, count(*) AS rel
  FROM dt JOIN qs USING (token) GROUP BY 1, 2),
wt(rank, w) AS (VALUES {wt}),
wp(idx, wp) AS (VALUES {wp}),
dcg AS (
  SELECT r.query_id,
    sum(CAST((1::BIGINT << least(coalesce(rel.rel, 0), 62)) - 1 AS DOUBLE) * wt.w)
      AS dcg
  FROM r LEFT JOIN rel
    ON r.query_id = rel.query_id AND r.doc_id = rel.doc_id
  JOIN wt ON wt.rank = r.rank
  WHERE r.rank <= {k} GROUP BY 1),
rc AS (SELECT query_id, rel, CAST(count(*) AS BIGINT) AS c
  FROM rel GROUP BY 1, 2),
rc2 AS (SELECT query_id, rel, c,
    coalesce(sum(c) OVER (PARTITION BY query_id ORDER BY rel DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM rc),
idcg AS (
  SELECT query_id,
    sum(CAST((1::BIGINT << least(rel, 62)) - 1 AS DOUBLE) * (hi.wp - lo.wp))
      AS idcg
  FROM rc2
  JOIN wp lo ON lo.idx = least(cum, {k})
  JOIN wp hi ON hi.idx = least(cum + c, {k})
  GROUP BY 1)
SELECT dcg.query_id, round(dcg.dcg, 6) AS dcg,
  round(idcg.idcg, 6) AS idcg,
  round(dcg.dcg / idcg.idcg, 6) AS ndcg
FROM dcg JOIN idcg USING (query_id)
WHERE idcg.idcg > 0
"""


QUERIES.update({
    "retrieval_ndcg": QueryDef(q_retrieval_ndcg, _ndcg_oracle()),
})


def q_snapshot_diff(spark, sf_dir):
    """Keyed data-diff of orders vs a deterministically perturbed next
    snapshot (merge.snapshot_diff): %7 keys removed, %5 totals bumped,
    %11 statuses flipped, %13 keys re-added under new ids — the
    reconciliation report (added/removed/changed/unchanged + per-column
    drill-down) every migration runs before switching reads. One full
    outer join + one partial-aggregated metric pass."""
    from inception_eventstore_spark.operators.merge import snapshot_diff

    o = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    base = o.where(key % 7 != 0)
    mod = base.withColumn(
        "o_totalprice",
        F.when(
            key % 5 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    ).withColumn(
        "o_orderstatus",
        F.when(key % 11 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    added = o.where(key % 13 == 0).withColumn(
        "o_orderkey", key + F.lit(1000000000)
    )
    new = mod.unionByName(added)
    return snapshot_diff(o, new, ["o_orderkey"])


_SNAPSHOT_DIFF_ORACLE = """
WITH base AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
mod AS (SELECT o_orderkey, o_custkey,
    CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
      AS o_orderstatus,
    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
      ELSE o_totalprice END AS o_totalprice,
    o_orderdate, o_orderpriority
  FROM base),
neu AS (SELECT * FROM mod
  UNION ALL
  SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus,
    o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 13 = 0),
j AS (
  SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
    CAST(o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
      AND NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey)
      AS BIGINT) AS d_cust,
    CAST(o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
      AND NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
      AS BIGINT) AS d_status,
    CAST(o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
      AND NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
      AS BIGINT) AS d_price,
    CAST(o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
      AND NOT (o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate)
      AS BIGINT) AS d_date,
    CAST(o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
      AND NOT (o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
      AS BIGINT) AS d_prio
  FROM orders o FULL OUTER JOIN neu n ON o.o_orderkey = n.o_orderkey),
w AS (
  SELECT
    CAST(sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS added,
    CAST(sum(CASE WHEN nk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS removed,
    CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
      AND greatest(d_cust, d_status, d_price, d_date, d_prio) = 1
      THEN 1 ELSE 0 END) AS BIGINT) AS changed,
    CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
      AND greatest(d_cust, d_status, d_price, d_date, d_prio) = 0
      THEN 1 ELSE 0 END) AS BIGINT) AS unchanged,
    CAST(sum(d_cust) AS BIGINT) AS c_cust,
    CAST(sum(d_status) AS BIGINT) AS c_status,
    CAST(sum(d_price) AS BIGINT) AS c_price,
    CAST(sum(d_date) AS BIGINT) AS c_date,
    CAST(sum(d_prio) AS BIGINT) AS c_prio
  FROM j)
SELECT 'added' AS metric, added AS n FROM w
UNION ALL SELECT 'removed', removed FROM w
UNION ALL SELECT 'changed', changed FROM w
UNION ALL SELECT 'unchanged', unchanged FROM w
UNION ALL SELECT 'col_changed:o_custkey', c_cust FROM w
UNION ALL SELECT 'col_changed:o_orderstatus', c_status FROM w
UNION ALL SELECT 'col_changed:o_totalprice', c_price FROM w
UNION ALL SELECT 'col_changed:o_orderdate', c_date FROM w
UNION ALL SELECT 'col_changed:o_orderpriority', c_prio FROM w
"""


QUERIES.update({
    "snapshot_diff": QueryDef(q_snapshot_diff, _SNAPSHOT_DIFF_ORACLE),
})


def q_conversion_ci(spark, sf_dir):
    """Signup→purchase conversion per hash bucket (user_id % 3) with
    Wilson 95 % intervals (funnel.conversion_wilson_ci): the A/B
    readout. Bounds are one closed-form double expression of the two
    integers (n, c) and the literal z — no data-dependent float
    summation, so 6 dp rounding is engine-stable."""
    from inception_eventstore_spark.operators import funnel as FU

    ev = _t(spark, sf_dir, "events")
    return FU.conversion_wilson_ci(
        ev, start_type="signup", convert_type="purchase", n_buckets=3
    )


_CONV_CI_ORACLE = """
WITH starts AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
conv AS (
  SELECT DISTINCT s.user_id FROM starts s
  JOIN events e ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.t0),
pb AS (
  SELECT s.user_id % 3 AS bucket,
    CAST(count(*) AS BIGINT) AS n_users,
    CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
      AS BIGINT) AS n_converted
  FROM starts s LEFT JOIN conv c ON s.user_id = c.user_id
  GROUP BY 1),
w AS (
  SELECT *,
    CAST(n_users AS DOUBLE) AS n, CAST(n_converted AS DOUBLE) AS c,
    CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE) AS p,
    1.959963984540054 * 1.959963984540054 AS zz,
    1.959963984540054 AS zl
  FROM pb)
SELECT CAST(bucket AS BIGINT) AS bucket, n_users, n_converted,
  CAST(n_converted * 1000000 // n_users AS BIGINT) AS rate_ppm,
  round(((p + zz / (2.0 * n))
    - zl * sqrt((p * (1.0 - p) + zz / (4.0 * n)) / n))
    / (1.0 + zz / n), 6) AS wilson_lo,
  round(((p + zz / (2.0 * n))
    + zl * sqrt((p * (1.0 - p) + zz / (4.0 * n)) / n))
    / (1.0 + zz / n), 6) AS wilson_hi
FROM w
"""


QUERIES.update({
    "conversion_ci": QueryDef(q_conversion_ci, _CONV_CI_ORACLE),
})


def q_frequent_paths(spark, sf_dir):
    """Top-20 3-step event-type paths (funnel.frequent_paths): funnel
    discovery over per-user (ts, event_id)-ordered sequences. One
    window shuffle for all leads, partial-aggregated counts, total
    (n desc, path) order before the cut."""
    from inception_eventstore_spark.operators import funnel as FU

    ev = _t(spark, sf_dir, "events")
    return FU.frequent_paths(ev, length=3, top_n=20)


_FREQ_PATHS_ORACLE = """
WITH s AS (
  SELECT event_type AS t0,
    lead(event_type, 1) OVER w AS t1,
    lead(event_type, 2) OVER w AS t2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT t0 || '>' || t1 || '>' || t2 AS path,
  CAST(count(*) AS BIGINT) AS n
FROM s WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path LIMIT 20
"""


QUERIES.update({
    "frequent_paths": QueryDef(q_frequent_paths, _FREQ_PATHS_ORACLE),
})


def q_acf_daily(spark, sf_dir):
    """Daily-count autocorrelation per event type, lags 1..14
    (timeseries.acf_daily) — the weekly-seasonality detector. Counts
    and the zero-filled grid are exact integers; x̄ is one identical
    division; the only cross-engine surface is final-sum order under
    a 6 dp round."""
    from inception_eventstore_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    return TS.acf_daily(ev, max_lag=14)


def _acf_oracle(max_lag: int = 14) -> str:
    leads = ",\n    ".join(
        f"lead(dev, {l}) OVER w AS dl{l}"
        for l in range(1, max_lag + 1)
    )
    sums = ",\n    ".join(
        f"sum(dev * dl{l}) AS num{l}" for l in range(1, max_lag + 1)
    )
    branches = "\nUNION ALL\n".join(
        f"SELECT k AS event_type, CAST({l} AS BIGINT) AS lag, "
        f"round(num{l} / den, 6) AS acf FROM agg WHERE den > 0"
        for l in range(1, max_lag + 1)
    )
    return f"""
WITH bounds AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events),
days AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
    AS d FROM bounds),
keys AS (SELECT DISTINCT event_type AS k FROM events),
cnts AS (SELECT event_type AS k, CAST(ts AS DATE) AS d, count(*) AS x
  FROM events GROUP BY 1, 2),
grid AS (
  SELECT keys.k, days.d,
    CAST(coalesce(cnts.x, 0) AS BIGINT) AS x
  FROM keys CROSS JOIN days
  LEFT JOIN cnts ON cnts.k = keys.k AND cnts.d = days.d),
st AS (SELECT k, CAST(sum(x) AS DOUBLE) / count(*) AS m
  FROM grid GROUP BY k),
dv AS (SELECT grid.k, grid.d,
    CAST(grid.x AS DOUBLE) - st.m AS dev
  FROM grid JOIN st USING (k)),
led AS (
  SELECT k, dev,
    {leads}
  FROM dv
  WINDOW w AS (PARTITION BY k ORDER BY d)),
agg AS (
  SELECT k, sum(dev * dev) AS den,
    {sums}
  FROM led GROUP BY k)
{branches}
"""


QUERIES.update({
    "acf_daily": QueryDef(q_acf_daily, _acf_oracle()),
})


def q_gini(spark, sf_dir):
    """Revenue concentration per nation (profile.gini_concentration):
    Gini of per-customer spend, cents quantized per ORDER (exact) then
    BIGINT-summed, ranked by the two-phase shard rank — never a
    per-nation single-task window. The only float surface is the final
    division of identically-rounded doubles."""
    from inception_eventstore_spark.operators.profile import (
        gini_concentration,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    spend = o.select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("_cents"),
    ).groupBy("o_custkey").agg(
        F.sum("_cents").cast("bigint").alias("spend_cents")
    )
    j = (
        spend.join(c, spend["o_custkey"] == c["c_custkey"])
        .join(nat, c["c_nationkey"] == nat["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"), "c_custkey", "spend_cents"
        )
    )
    return gini_concentration(
        j, "spend_cents", "c_custkey", ["nation"]
    )


_GINI_ORACLE = """
WITH sp AS (
  SELECT o_custkey,
    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
      AS BIGINT) AS cents
  FROM orders GROUP BY 1),
j AS (
  SELECT n_name AS nation, c_custkey, cents
  FROM sp JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey),
r AS (
  SELECT nation, cents, row_number() OVER (
    PARTITION BY nation ORDER BY cents, c_custkey) AS rk
  FROM j),
a AS (
  SELECT nation, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(cents) AS BIGINT) AS total,
    CAST(sum(rk * cents) AS BIGINT) AS s1
  FROM r GROUP BY 1)
SELECT nation, n, total,
  round(2.0 * CAST(s1 AS DOUBLE)
    / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
FROM a WHERE total > 0
"""


QUERIES.update({
    "gini_concentration": QueryDef(q_gini, _GINI_ORACLE),
})


def q_sim_topk_filtered(spark, sf_dir):
    """Metadata-filtered vector search: exact top-10 L2 neighbors of 3
    query vectors among embeddings with label = 1 ONLY — the
    filtered-ANN shape every RAG store needs (predicate applied
    BEFORE the distance kernel, pushed to the parquet scan, so the
    kernel touches the filtered slice, not the corpus). Same one-scan
    multi_query_topk Arrow kernel as sim_multi_topk."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = (
        emb.where(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in qrows
    ]
    corpus = emb.where((F.col("vec_id") >= 3) & (F.col("label") == 1))
    return S.multi_query_topk(corpus, queries, k=10).select(
        "query_id", "rank", "vec_id", F.round("dist", 6).alias("dist")
    )


_SIM_FILTERED_ORACLE = """
WITH q AS (SELECT vec_id AS query_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < 3),
c AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id >= 3 AND label = 1),
d AS (SELECT q.query_id, c.vec_id,
    sqrt(greatest(list_inner_product(cv, cv)
      - 2 * list_inner_product(cv, qv)
      + list_inner_product(qv, qv), 0)) AS dist
  FROM q CROSS JOIN c),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY dist, vec_id) AS rank FROM d)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
  round(dist, 6) AS dist
FROM r WHERE rank <= 10
"""


QUERIES.update({
    "sim_topk_filtered": QueryDef(q_sim_topk_filtered, _SIM_FILTERED_ORACLE),
})


def q_markov_stationary(spark, sf_dir):
    """Stationary distribution + per-state entropy of the event-type
    Markov chain (funnel.markov_stationary): 20 renormalized power
    iterations from uniform — a deterministic function of the
    transition counts that the oracle replays by unrolling the same
    iterations. Distributed lag-window counts; |states|² driver
    iteration (event-TYPE vocabulary, not data)."""
    from inception_eventstore_spark.operators import funnel as FU

    ev = _t(spark, sf_dir, "events")
    return FU.markov_stationary(ev, iterations=20)


def _markov_oracle(iterations: int = 20) -> str:
    ctes = ["""t AS (
  SELECT lag(event_type) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS prev,
    event_type AS next
  FROM events),
c AS MATERIALIZED (SELECT prev, next, CAST(count(*) AS BIGINT) AS n
  FROM t WHERE prev IS NOT NULL GROUP BY 1, 2),
rt AS (SELECT prev, sum(n) AS tot FROM c GROUP BY 1),
P AS MATERIALIZED (SELECT c.prev, c.next,
    CAST(c.n AS DOUBLE) / CAST(rt.tot AS DOUBLE) AS p
  FROM c JOIN rt USING (prev)),
states AS MATERIALIZED (SELECT prev AS s FROM rt),
pi0 AS (SELECT s, 1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM states)
    AS p
  FROM states)"""]
    prev = "pi0"
    for i in range(1, iterations + 1):
        ctes.append(f"""r{i} AS MATERIALIZED (
  SELECT P.next AS s, sum({prev}.p * P.p) AS p
  FROM {prev} JOIN P ON P.prev = {prev}.s
  JOIN states st ON st.s = P.next GROUP BY 1),
pi{i} AS MATERIALIZED (
  SELECT s, p / (SELECT sum(p) FROM r{i}) AS p FROM r{i})""")
        prev = f"pi{i}"
    return (
        "WITH " + ",\n".join(ctes) + f""",
h AS (SELECT prev AS s, -sum(p * ln(p)) AS h FROM P GROUP BY 1)
SELECT st.s AS state, round(coalesce({prev}.p, 0.0), 6)
    AS stationary_p,
  round(h.h, 6) AS row_entropy_nats
FROM states st LEFT JOIN {prev} ON {prev}.s = st.s
JOIN h ON h.s = st.s
"""
    )


QUERIES.update({
    "markov_stationary": QueryDef(q_markov_stationary, _markov_oracle()),
})


def q_session_flow(spark, sf_dir):
    """Entry→exit session flow with bounce rates, 1-hour gap sessions
    (sessions.session_flow): which event types open and close
    sessions, and which entries bounce. One window pass + two
    partial-aggregated rollups, all integers."""
    from inception_eventstore_spark.operators.sessions import (
        session_flow,
    )

    ev = _t(spark, sf_dir, "events")
    return session_flow(ev, gap="1 hour")


_SESSION_FLOW_ORACLE = """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
    sum(CASE WHEN prev IS NULL
      OR ts > prev + INTERVAL 1 HOUR THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_id
  FROM (
    SELECT *, lag(ts) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events)),
ps AS (
  SELECT user_id, session_id,
    min({'t': ts, 'i': event_id, 'e': event_type}) AS f,
    max({'t': ts, 'i': event_id, 'e': event_type}) AS l,
    count(*) AS n
  FROM s GROUP BY 1, 2)
SELECT f.e AS entry_type, l.e AS exit_type,
  CAST(count(*) AS BIGINT) AS n_sessions,
  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
    AS BIGINT) AS bounce_ppm
FROM ps GROUP BY 1, 2
"""


QUERIES.update({
    "session_flow": QueryDef(q_session_flow, _SESSION_FLOW_ORACLE),
})


def q_woe_iv(spark, sf_dir):
    """Weight-of-evidence / information-value table of the quality
    model at separating English (scoring.woe_iv) — how much signal
    each score decile carries; the separation complement of
    calibration_curve on the same bin axis. All values are closed-form
    expressions of four integers per row."""
    from inception_eventstore_spark.operators import scoring as SC

    docs = _t(spark, sf_dir, "documents")
    scored = SC.linear_quality_score(docs, dim=64).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return SC.woe_iv(
        scored.withColumn("is_en", F.col("lang") == "en"),
        "quality_prob",
        "is_en",
        bins=10,
    )


_WOE_IV_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
bk AS (SELECT doc_id, unnest(list_transform(tk, tok ->
  CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT)
  % 64)) AS bucket FROM t),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
w AS (SELECT i AS bucket,
  (CAST(('0x' || substring(md5('qw:v1:' || CAST(i AS VARCHAR)), 1, 15))
        AS BIGINT) - 576460752303423488) / 576460752303423488.0 AS w
  FROM range(0, 64) t(i)),
s AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(sum(w * cnt)
    / sum(cnt)))), 6) AS p
  FROM c JOIN w ON c.bucket = w.bucket GROUP BY doc_id),
lab AS (SELECT least(CAST(floor(s.p * 10) AS INTEGER), 9) AS bin,
    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM s JOIN documents d ON s.doc_id = d.doc_id
  WHERE s.p IS NOT NULL),
g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS n_pos
  FROM lab GROUP BY bin),
tot AS (SELECT CAST(sum(y) AS BIGINT) AS pt,
    CAST(sum(1 - y) AS BIGINT) AS nt FROM lab)
SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
  CAST(n - n_pos AS BIGINT) AS n_neg,
  round(ln(((CAST(n_pos AS DOUBLE) + 0.5) / CAST(pt AS DOUBLE))
    / ((CAST(n - n_pos AS DOUBLE) + 0.5) / CAST(nt AS DOUBLE))), 6)
    AS woe,
  round((((CAST(n_pos AS DOUBLE) + 0.5) / CAST(pt AS DOUBLE))
    - ((CAST(n - n_pos AS DOUBLE) + 0.5) / CAST(nt AS DOUBLE)))
    * ln(((CAST(n_pos AS DOUBLE) + 0.5) / CAST(pt AS DOUBLE))
    / ((CAST(n - n_pos AS DOUBLE) + 0.5) / CAST(nt AS DOUBLE))), 6)
    AS iv_term
FROM g CROSS JOIN tot
WHERE pt > 0 AND nt > 0
"""


QUERIES.update({
    "woe_iv": QueryDef(q_woe_iv, _WOE_IV_ORACLE),
})


def q_did(spark, sf_dir):
    """Difference-in-differences over event values (profile.
    did_estimate): treatment = user_id % 2, time split at the midpoint
    of the observed range — the rollout-experiment readout. Values
    quantized per row to integer micro-units, so cell sums are exact
    BIGINTs and the estimate is a fixed-order expression of exact
    numbers."""
    from inception_eventstore_spark.operators.profile import (
        did_estimate,
    )

    ev = _t(spark, sf_dir, "events")
    return did_estimate(ev)


_DID_ORACLE = """
WITH b AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events),
s AS (SELECT d0 + CAST(datediff('day', d0, d1) // 2 AS INT) AS split
  FROM b),
cells AS (
  SELECT CAST(user_id % 2 = 1 AS INT) AS t,
    CAST(CAST(ts AS DATE) > (SELECT split FROM s) AS INT) AS p,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(floor(value * 1048576.0) AS BIGINT)) AS BIGINT)
      AS sq
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
m AS (SELECT t, p, n,
    CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0 AS mean
  FROM cells)
SELECT
  CAST(sum(CASE WHEN t = 0 AND p = 0 THEN n END) AS BIGINT)
    AS n_c_pre,
  CAST(sum(CASE WHEN t = 0 AND p = 1 THEN n END) AS BIGINT)
    AS n_c_post,
  CAST(sum(CASE WHEN t = 1 AND p = 0 THEN n END) AS BIGINT)
    AS n_t_pre,
  CAST(sum(CASE WHEN t = 1 AND p = 1 THEN n END) AS BIGINT)
    AS n_t_post,
  round(sum(CASE WHEN t = 0 AND p = 0 THEN mean END), 6)
    AS mean_c_pre,
  round(sum(CASE WHEN t = 0 AND p = 1 THEN mean END), 6)
    AS mean_c_post,
  round(sum(CASE WHEN t = 1 AND p = 0 THEN mean END), 6)
    AS mean_t_pre,
  round(sum(CASE WHEN t = 1 AND p = 1 THEN mean END), 6)
    AS mean_t_post,
  round((sum(CASE WHEN t = 1 AND p = 1 THEN mean END)
    - sum(CASE WHEN t = 1 AND p = 0 THEN mean END))
    - (sum(CASE WHEN t = 0 AND p = 1 THEN mean END)
    - sum(CASE WHEN t = 0 AND p = 0 THEN mean END)), 6) AS did
FROM m
"""


QUERIES.update({
    "did_estimate": QueryDef(q_did, _DID_ORACLE),
})


def q_label_noise(spark, sf_dir):
    """Confident-learning label-noise matrix for is-English vs the
    quality model (scoring.label_noise_counts): off-diagonal mass =
    suspected flipped labels. Threshold comparisons run as exact
    integer cross-products of 6-dp score micros — no float class mean
    ever materializes."""
    from inception_eventstore_spark.operators import scoring as SC

    docs = _t(spark, sf_dir, "documents")
    scored = SC.linear_quality_score(docs, dim=64).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return SC.label_noise_counts(
        scored.withColumn("is_en", F.col("lang") == "en"),
        "quality_prob",
        "is_en",
    )


_LABEL_NOISE_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
bk AS (SELECT doc_id, unnest(list_transform(tk, tok ->
  CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT)
  % 64)) AS bucket FROM t),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
w AS (SELECT i AS bucket,
  (CAST(('0x' || substring(md5('qw:v1:' || CAST(i AS VARCHAR)), 1, 15))
        AS BIGINT) - 576460752303423488) / 576460752303423488.0 AS w
  FROM range(0, 64) t(i)),
s AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(sum(w * cnt)
    / sum(cnt)))), 6) AS p
  FROM c JOIN w ON c.bucket = w.bucket GROUP BY doc_id),
lab AS (SELECT CAST(round(s.p * 1000000) AS BIGINT) AS pm,
    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM s JOIN documents d ON s.doc_id = d.doc_id
  WHERE s.p IS NOT NULL),
cls AS (SELECT y, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(pm) AS BIGINT) AS sp
  FROM lab GROUP BY y),
t1 AS (SELECT n AS n1, sp AS sp1 FROM cls WHERE y = 1),
t0 AS (SELECT n AS n0, sp AS sp0 FROM cls WHERE y = 0),
sug AS (
  SELECT y AS given,
    CASE WHEN pm * n1 > sp1 THEN 1
         WHEN (1000000 - pm) * n0 > 1000000 * n0 - sp0 THEN 0
         ELSE y END AS suggested
  FROM lab CROSS JOIN t1 CROSS JOIN t0),
cells AS (SELECT CAST(given AS BIGINT) AS given,
    CAST(suggested AS BIGINT) AS suggested,
    CAST(count(*) AS BIGINT) AS n
  FROM sug GROUP BY 1, 2),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM lab)
SELECT given, suggested, n,
  CAST(n * 1000000 // t AS BIGINT) AS share_ppm
FROM cells CROSS JOIN tot
"""


QUERIES.update({
    "label_noise": QueryDef(q_label_noise, _LABEL_NOISE_ORACLE),
})


def q_kmv_distinct(spark, sf_dir):
    """KMV / theta-sketch distinct users per event type plus the
    merged '__ALL__' row (sketches.kmv_sketch/kmv_estimate/kmv_merge):
    the k-minimum-values counterpart of hll_distinct, demonstrating
    the other mergeable distinct sketch — fixed k-row state per group,
    integer fixed-point estimator, and an exact-union merge (any hash
    among the global k smallest is necessarily inside its own group's
    sketch, so merging per-group sketches IS the global sketch). The
    sketch is checkpointed once (≤ k·|types| rows) and feeds both the
    per-group estimates and the merge."""
    from inception_eventstore_spark.operators import sketches as SK

    ev = _t(spark, sf_dir, "events")
    sk = SK.kmv_sketch(
        ev, "user_id", ["event_type"], k=64
    ).localCheckpoint(eager=False)
    per = SK.kmv_estimate(sk, ["event_type"], k=64).select(
        F.col("event_type").alias("grp"), "n_kept", "kth_hash", "kmv_est"
    )
    merged = SK.kmv_merge([sk], k=64)
    allrow = SK.kmv_estimate(merged, [], k=64).select(
        F.lit("__ALL__").alias("grp"), "n_kept", "kth_hash", "kmv_est"
    )
    return per.unionByName(allrow).orderBy("grp")


def _kmv_distinct_oracle() -> str:
    from inception_eventstore_spark.operators.sketches import kmv_oracle_sql

    inner = kmv_oracle_sql(
        "SELECT event_type, user_id FROM events",
        "user_id",
        "event_type",
        k=64,
    )
    return f"SELECT * FROM ({inner}) ORDER BY grp"


QUERIES.update({
    "kmv_distinct": QueryDef(q_kmv_distinct, _kmv_distinct_oracle()),
})


def q_bootstrap_ci(spark, sf_dir):
    """Percentile bootstrap CI for the mean order total via the
    deterministic Poisson bootstrap (sampling.poisson_bootstrap_ci,
    Chamandy 2012): each order contributes a truncated-Poisson(1)
    weight per replicate drawn from the portable md5-60 hash, so 200
    resampled means — and hence the CI — replay bit-identically in
    DuckDB. The log explodes map-side into (replicate, weight) pairs
    and partial-aggregates to exactly 200 integer rows; only those
    cross to the driver for the order statistics (km_survival
    bounded-axis pattern)."""
    from inception_eventstore_spark.operators.sampling import (
        poisson_bootstrap_ci,
    )

    orders = _t(spark, sf_dir, "orders")
    return poisson_bootstrap_ci(
        orders, "o_orderkey", "o_totalprice", b=200
    )


def _bootstrap_ci_oracle() -> str:
    from inception_eventstore_spark.operators.sampling import (
        poisson_bootstrap_oracle_sql,
    )

    return poisson_bootstrap_oracle_sql(
        "SELECT o_orderkey, o_totalprice FROM orders",
        "o_orderkey",
        "o_totalprice",
        b=200,
    )


QUERIES.update({
    "bootstrap_ci": QueryDef(q_bootstrap_ci, _bootstrap_ci_oracle()),
})


def q_cuped(spark, sf_dir):
    """CUPED variance-reduced A/B readout (profile.cuped_adjustment,
    Deng 2013): pre-period per-user activity as the covariate for the
    post-period outcome, theta pooled, diff_raw vs diff_cuped side by
    side. Per-user sums are exact integer micro-units down-shifted by
    integer div; theta/means are fixed-order double expressions of
    exact BIGINT moments."""
    from inception_eventstore_spark.operators.profile import (
        cuped_adjustment,
    )

    ev = _t(spark, sf_dir, "events")
    return cuped_adjustment(ev)


_CUPED_ORACLE = """
WITH b AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events),
s AS (SELECT d0 + CAST(datediff('day', d0, d1) // 2 AS INT) AS split
  FROM b),
pu AS (
  SELECT user_id, CAST(user_id % 2 = 1 AS INT) AS t,
    COALESCE(sum(CASE WHEN CAST(ts AS DATE) <= (SELECT split FROM s)
      THEN CAST(floor(value * 1048576.0) AS BIGINT) END), 0)
      // 1048576 AS x,
    COALESCE(sum(CASE WHEN CAST(ts AS DATE) > (SELECT split FROM s)
      THEN CAST(floor(value * 1048576.0) AS BIGINT) END), 0)
      // 1048576 AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
m AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(t) AS BIGINT) AS nt,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * x) AS BIGINT) AS sxx,
    CAST(sum(x * y) AS BIGINT) AS sxy,
    CAST(sum(CASE WHEN t = 1 THEN x ELSE 0 END) AS BIGINT) AS sxt,
    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS syt
  FROM pu)
SELECT n AS n_users, nt AS n_t, CAST(n - nt AS BIGINT) AS n_c,
  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
    / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 6) AS theta,
  round(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS mean_y_t,
  round((CAST(sy AS DOUBLE) - CAST(syt AS DOUBLE))
    / CAST(n - nt AS DOUBLE), 6) AS mean_y_c,
  round(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
    - (CAST(sy AS DOUBLE) - CAST(syt AS DOUBLE))
      / CAST(n - nt AS DOUBLE), 6) AS diff_raw,
  round((CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
      * (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)
         - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
    - ((CAST(sy AS DOUBLE) - CAST(syt AS DOUBLE))
        / CAST(n - nt AS DOUBLE)
      - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
        * ((CAST(sx AS DOUBLE) - CAST(sxt AS DOUBLE))
            / CAST(n - nt AS DOUBLE)
           - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 6)
    AS diff_cuped
FROM m
"""


def q_srm(spark, sf_dir):
    """Sample-ratio-mismatch gate (profile.srm_check): distinct users
    per 3-way assignment bucket vs uniform, chi-square from the
    integer identity (k·Σn² − n²)/n — one division of exact BIGINTs,
    no float summation."""
    from inception_eventstore_spark.operators.profile import srm_check

    ev = _t(spark, sf_dir, "events")
    return srm_check(ev, n_buckets=3)


_SRM_ORACLE = """
WITH pb AS (
  SELECT CAST(user_id % 3 AS INT) AS b,
    CAST(count(DISTINCT user_id) AS BIGINT) AS n
  FROM events GROUP BY 1),
m AS (SELECT CAST(sum(n) AS BIGINT) AS n,
    CAST(sum(n * n) AS BIGINT) AS snn,
    CAST(sum(CASE WHEN b = 0 THEN n ELSE 0 END) AS BIGINT) AS n_0,
    CAST(sum(CASE WHEN b = 1 THEN n ELSE 0 END) AS BIGINT) AS n_1,
    CAST(sum(CASE WHEN b = 2 THEN n ELSE 0 END) AS BIGINT) AS n_2
  FROM pb)
SELECT n AS n_users, n_0, n_1, n_2,
  round((3.0 * CAST(snn AS DOUBLE)
    - CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 6)
    AS chi2,
  CAST((3.0 * CAST(snn AS DOUBLE)
    - CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
    > 5.991465 AS INT) AS srm_flag
FROM m
"""


QUERIES.update({
    "cuped_estimate": QueryDef(q_cuped, _CUPED_ORACLE),
    "srm_check": QueryDef(q_srm, _SRM_ORACLE),
})


def q_ccf_leadlag(spark, sf_dir):
    """Lead-lag cross-correlation of error vs purchase daily counts at
    lags ±7 (timeseries.cross_correlation_daily) — the cross-series
    sibling of acf_daily, fully integer-moment exact (no centered
    float sums)."""
    from inception_eventstore_spark.operators.timeseries import (
        cross_correlation_daily,
    )

    ev = _t(spark, sf_dir, "events")
    return cross_correlation_daily(ev, "error", "purchase", max_lag=7)


_CCF_ORACLE = """
WITH b AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events),
days AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
  FROM b),
da AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS a
  FROM events WHERE event_type = 'error' GROUP BY 1),
db AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS bb
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
grid AS (
  SELECT days.d, COALESCE(da.a, 0) AS a, COALESCE(db.bb, 0) AS bb
  FROM days LEFT JOIN da ON days.d = da.d
  LEFT JOIN db ON days.d = db.d),
lags AS (SELECT unnest(generate_series(-7, 7)) AS lag),
pairs AS (
  SELECT l.lag, g1.a, g2.bb
  FROM grid g1 CROSS JOIN lags l
  JOIN grid g2 ON g2.d = g1.d + to_days(l.lag::INT)),
m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(bb) AS BIGINT) AS sb,
    CAST(sum(a * a) AS BIGINT) AS saa,
    CAST(sum(bb * bb) AS BIGINT) AS sbb,
    CAST(sum(a * bb) AS BIGINT) AS sab
  FROM pairs GROUP BY lag)
SELECT CAST(lag AS INT) AS lag, n_days,
  round((CAST(n_days AS DOUBLE) * CAST(sab AS DOUBLE)
    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
    / nullif(sqrt((CAST(n_days AS DOUBLE) * CAST(saa AS DOUBLE)
      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
      * (CAST(n_days AS DOUBLE) * CAST(sbb AS DOUBLE)
      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 0.0), 6) AS ccf
FROM m ORDER BY lag
"""


QUERIES.update({
    "ccf_leadlag": QueryDef(q_ccf_leadlag, _CCF_ORACLE),
})


def q_dbscan(spark, sf_dir):
    """Grid-bucketed DBSCAN over the 2-d projection of the embedding
    table (clustering.dbscan_2d, Ester 1996): eps-cell stencil join →
    exact dist² filter → core/border/noise roles → large-star/small-
    star components for the core graph. The oracle replays the same
    stencil and roles and resolves clusters by min-label propagation
    with pointer doubling (15 rounds cover diameter 2^15) in one
    recursive CTE."""
    from inception_eventstore_spark.operators.clustering import dbscan_2d

    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).alias("x"),
        F.element_at("embedding", 2).alias("y"),
    )
    return dbscan_2d(
        pts, "vec_id", "x", "y", eps=0.03, min_pts=4
    ).orderBy("vec_id")


def _dbscan_oracle(eps: float = 0.03, min_pts: int = 4) -> str:
    e = f"CAST({eps!r} AS DOUBLE)"
    return f"""
WITH RECURSIVE pts AS (
  SELECT vec_id AS id,
    CAST(embedding[1] AS DOUBLE) AS x,
    CAST(embedding[2] AS DOUBLE) AS y,
    CAST(floor(CAST(embedding[1] AS DOUBLE) / {e}) AS BIGINT) AS cx,
    CAST(floor(CAST(embedding[2] AS DOUBLE) / {e}) AS BIGINT) AS cy
  FROM embeddings),
offs AS (SELECT a.dx, b.dy FROM range(-1, 2) a(dx), range(-1, 2) b(dy)),
pairs AS (
  SELECT p1.id AS ia, p2.id AS ib
  FROM pts p1 CROSS JOIN offs o
  JOIN pts p2 ON p2.cx = p1.cx + o.dx AND p2.cy = p1.cy + o.dy
  WHERE p1.id <> p2.id
    AND (p1.x - p2.x) * (p1.x - p2.x)
      + (p1.y - p2.y) * (p1.y - p2.y) <= {e} * {e}),
nc AS (SELECT ia AS id, count(*) AS nn FROM pairs GROUP BY 1),
roles AS (SELECT p.id, COALESCE(nc.nn, 0) >= {min_pts} AS core
  FROM pts p LEFT JOIN nc ON p.id = nc.id),
cedges AS (
  SELECT ia, ib FROM pairs
  JOIN roles r1 ON r1.id = pairs.ia AND r1.core
  JOIN roles r2 ON r2.id = pairs.ib AND r2.core),
nodes AS (SELECT DISTINCT ia AS id FROM cedges),
lp AS (
  SELECT id, id AS lbl, 0 AS it FROM nodes
  UNION ALL
  SELECT r.id,
    least(r.lbl,
      coalesce((SELECT min(r2.lbl) FROM lp r2
        JOIN cedges e2 ON e2.ia = r.id AND e2.ib = r2.id), r.lbl),
      coalesce((SELECT min(r3.lbl) FROM lp r3
        WHERE r3.id = r.lbl), r.lbl)) AS lbl,
    r.it + 1
  FROM lp r WHERE r.it < 15),
fin AS (SELECT id, lbl FROM lp WHERE it = 15),
core_assign AS (
  SELECT r.id, COALESCE(f.lbl, r.id) AS cluster
  FROM roles r LEFT JOIN fin f ON f.id = r.id WHERE r.core),
borders AS (
  SELECT pr.ia AS id, min(ca.cluster) AS cluster
  FROM pairs pr
  JOIN core_assign ca ON ca.id = pr.ib
  JOIN roles r ON r.id = pr.ia AND NOT r.core
  GROUP BY 1)
SELECT p.id AS vec_id,
  CASE WHEN r.core THEN 'core'
       WHEN b.id IS NOT NULL THEN 'border'
       ELSE 'noise' END AS role,
  CAST(COALESCE(ca.cluster, b.cluster) AS BIGINT) AS cluster
FROM pts p
JOIN roles r ON r.id = p.id
LEFT JOIN core_assign ca ON ca.id = p.id
LEFT JOIN borders b ON b.id = p.id
ORDER BY vec_id
"""


QUERIES.update({
    "dbscan_clusters": QueryDef(q_dbscan, _dbscan_oracle()),
})


def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust daily trend per event type (timeseries.
    theil_sen_daily_trend): median of all pairwise day slopes over the
    zero-filled grid — the outlier-proof complement of
    regression_trend. Reported in truncating integer micro-units to
    dodge the k/128 6-dp half-boundary class; ordered by identical
    doubles with a total (i, j) tie-break."""
    from inception_eventstore_spark.operators.timeseries import (
        theil_sen_daily_trend,
    )

    ev = _t(spark, sf_dir, "events")
    return theil_sen_daily_trend(ev)


_THEIL_SEN_ORACLE = """
WITH b AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events),
days AS (
  SELECT datediff('day', (SELECT d0 FROM b), d) AS i, d
  FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
          AS d FROM b)),
keys AS (SELECT DISTINCT event_type AS k FROM events),
cnt AS (SELECT event_type AS k, CAST(ts AS DATE) AS d,
    CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
grid AS (
  SELECT keys.k, days.i, COALESCE(cnt.x, 0) AS x
  FROM keys CROSS JOIN days
  LEFT JOIN cnt ON cnt.k = keys.k AND cnt.d = days.d),
pairs AS (
  SELECT g1.k, g1.i, g2.i AS j, g1.x, g2.x AS y
  FROM grid g1 JOIN grid g2 ON g1.k = g2.k AND g2.i > g1.i),
ranked AS (
  SELECT k, CAST((y - x) * 1048576 // (j - i) AS BIGINT) AS sm,
    row_number() OVER (PARTITION BY k
      ORDER BY CAST(y - x AS DOUBLE) / CAST(j - i AS DOUBLE), i, j)
      AS r,
    count(*) OVER (PARTITION BY k) AS m
  FROM pairs)
SELECT k AS event_type, CAST(m AS BIGINT) AS n_pairs,
  sm AS sen_slope_micro
FROM ranked WHERE r = (m + 1) // 2 ORDER BY k
"""


QUERIES.update({
    "theil_sen_trend": QueryDef(q_theil_sen, _THEIL_SEN_ORACLE),
})


def q_rake_keywords(spark, sf_dir):
    """Corpus-level RAKE keyword extraction (text.rake_keywords, Rose
    2010): stopword-delimited candidate phrases, word degree/freq
    scores truncated to integer micro-units (the small-denominator
    rational half-boundary dodge), phrase score = exact BIGINT sum,
    top-20 by (score, phrase)."""
    from inception_eventstore_spark.operators.text import rake_keywords

    docs = _t(spark, sf_dir, "documents")
    return rake_keywords(docs, top_k=20)


def _rake_oracle() -> str:
    sw = ", ".join(f"'{w}'" for w in TX.STOPWORDS["en"])
    return f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
tk1 AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
    i -> {{'p': i, 'w': tk[i]}})) AS u FROM t),
tok AS (SELECT doc_id, u.p AS pos, u.w AS tok,
    list_contains([{sw}], u.w) AS delim FROM tk1),
pw AS (SELECT *, sum(CASE WHEN delim THEN 1 ELSE 0 END) OVER (
    PARTITION BY doc_id ORDER BY pos
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
  FROM tok),
words AS (SELECT doc_id, pid, pos, tok FROM pw WHERE NOT delim),
plen AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen,
    string_agg(tok, ' ' ORDER BY pos) AS phrase
  FROM words GROUP BY 1, 2 HAVING count(*) <= 4),
kw AS (SELECT w.doc_id, w.pid, w.tok, p.plen
  FROM words w JOIN plen p USING (doc_id, pid)),
ws AS (SELECT tok,
    CAST(CAST(sum(plen) AS BIGINT) * 1048576 // count(*) AS BIGINT)
      AS ws
  FROM kw GROUP BY tok),
inst AS (SELECT kw.doc_id, kw.pid, CAST(sum(ws.ws) AS BIGINT) AS score
  FROM kw JOIN ws USING (tok) GROUP BY 1, 2),
ph AS (SELECT p.phrase, CAST(min(p.plen) AS BIGINT) AS n_words,
    CAST(count(*) AS BIGINT) AS n_occurrences,
    CAST(min(i.score) AS BIGINT) AS score_micro
  FROM plen p JOIN inst i USING (doc_id, pid) GROUP BY 1)
SELECT phrase, n_words, n_occurrences, score_micro
FROM ph ORDER BY score_micro DESC, phrase LIMIT 20
"""


QUERIES.update({
    "rake_keywords": QueryDef(q_rake_keywords, _rake_oracle()),
})


def q_holt_linear(spark, sf_dir):
    """Holt linear-trend smoothing of daily event totals (timeseries.
    holt_linear_daily, alpha = beta = 1/4): level/trend state and
    one-step forecast errors in exact 2^20 micro-units — km_survival
    driver-recurrence pattern, recursive-CTE oracle with truncating
    division on both sides."""
    from inception_eventstore_spark.operators.timeseries import (
        holt_linear_daily,
    )

    ev = _t(spark, sf_dir, "events")
    return holt_linear_daily(ev).orderBy("day_index")


def _holt_oracle(an: int = 1, ad: int = 4, bn: int = 1, bd: int = 4) -> str:
    def td(a: str, d: int) -> str:
        return (f"(CASE WHEN ({a}) >= 0 THEN ({a}) // {d} "
                f"ELSE -((-({a})) // {d}) END)")

    l_new = td(f"{an} * ((SELECT x FROM days WHERE i = r.it + 1) "
               f"* 1048576) + {ad - an} * (r.l + r.tr)", ad)
    tr_new = td(f"{bn} * ({l_new} - r.l) + {bd - bn} * r.tr", bd)
    return f"""
WITH RECURSIVE b AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events),
days AS (
  SELECT datediff('day', (SELECT d0 FROM b), g.d) AS i, g.d,
    COALESCE(c.x, 0) AS x
  FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
          AS d FROM b) g
  LEFT JOIN (SELECT CAST(ts AS DATE) AS d,
      CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1) c
    ON g.d = c.d),
rec AS (
  SELECT 0 AS it,
    (SELECT x FROM days WHERE i = 0) * 1048576 AS l,
    ((SELECT x FROM days WHERE i = 1)
      - (SELECT x FROM days WHERE i = 0)) * 1048576 AS tr,
    CAST(NULL AS BIGINT) AS err
  UNION ALL
  SELECT r.it + 1,
    {l_new},
    {tr_new},
    (SELECT x FROM days WHERE i = r.it + 1) * 1048576
      - (r.l + r.tr)
  FROM rec r WHERE r.it + 1 <= (SELECT max(i) FROM days))
SELECT CAST(r.it AS BIGINT) AS day_index, d.d AS day,
  CAST(d.x AS BIGINT) AS n_events, CAST(r.l AS BIGINT) AS level_micro,
  CAST(r.tr AS BIGINT) AS trend_micro,
  CAST(r.err AS BIGINT) AS onestep_err_micro
FROM rec r JOIN days d ON d.i = r.it
WHERE r.it >= 1
ORDER BY day_index
"""


QUERIES.update({
    "holt_linear": QueryDef(q_holt_linear, _holt_oracle()),
})


def q_item_item_cf(spark, sf_dir):
    """Item-item cosine collaborative filtering over order baskets
    (basket.item_item_topk, Sarwar 2001): top-5 neighbors per part by
    squared cosine in integer micro-units — the normalized complement
    of basket_lift on the same capped pair counts."""
    from inception_eventstore_spark.operators.basket import item_item_topk

    li = _t(spark, sf_dir, "lineitem")
    return item_item_topk(
        li,
        basket_col="l_orderkey",
        item_col="l_partkey",
        k=5,
        min_pair_count=2,
    ).orderBy("item_a", "rank")


_ITEM_ITEM_ORACLE = """
WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
  FROM lineitem),
sz AS (SELECT bk FROM b GROUP BY bk HAVING count(*) <= 1000),
bb AS (SELECT b.bk, b.it FROM b JOIN sz USING (bk)),
ic AS (SELECT it, CAST(count(*) AS BIGINT) AS c FROM bb GROUP BY it),
p AS (
  SELECT a.it AS item_a, b2.it AS item_b,
    CAST(count(*) AS BIGINT) AS pc
  FROM bb a JOIN bb b2 ON a.bk = b2.bk AND a.it < b2.it
  GROUP BY 1, 2 HAVING count(*) >= 2),
pb AS (
  SELECT item_a, item_b, pc FROM p
  UNION ALL
  SELECT item_b, item_a, pc FROM p),
j AS (
  SELECT t.item_a, t.item_b, t.pc, ca.c AS n_a, cb.c AS n_b,
    CAST(t.pc * t.pc * 1048576 // (ca.c * cb.c) AS BIGINT)
      AS cos2_micro
  FROM pb t
  JOIN ic ca ON t.item_a = ca.it
  JOIN ic cb ON t.item_b = cb.it),
r AS (
  SELECT *, row_number() OVER (PARTITION BY item_a
      ORDER BY cos2_micro DESC, pc DESC, item_b) AS rank
  FROM j)
SELECT item_a, item_b, pc AS pair_count, n_a, n_b, cos2_micro,
  CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5 ORDER BY item_a, rank
"""


QUERIES.update({
    "item_item_cf": QueryDef(q_item_item_cf, _ITEM_ITEM_ORACLE),
})


def q_isotonic_calibration(spark, sf_dir):
    """Isotonic (PAVA) recalibration of the quality model's is-English
    probability (scoring.isotonic_calibration, Zadrozny 2002) on the
    calibration_curve bin axis — minimax closed form over the bounded
    bin table, integer micro-unit quantization before the max/min."""
    from inception_eventstore_spark.operators import scoring as SC

    docs = _t(spark, sf_dir, "documents")
    scored = SC.linear_quality_score(docs, dim=64).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return SC.isotonic_calibration(
        scored.withColumn("is_en", F.col("lang") == "en"),
        "quality_prob",
        "is_en",
        bins=10,
    )


_ISOTONIC_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
bk AS (SELECT doc_id, unnest(list_transform(tk, tok ->
  CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT)
  % 64)) AS bucket FROM t),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
w AS (SELECT i AS bucket,
  (CAST(('0x' || substring(md5('qw:v1:' || CAST(i AS VARCHAR)), 1, 15))
        AS BIGINT) - 576460752303423488) / 576460752303423488.0 AS w
  FROM range(0, 64) t(i)),
s AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(sum(w * cnt)
    / sum(cnt)))), 6) AS p
  FROM c JOIN w ON c.bucket = w.bucket GROUP BY doc_id),
lab AS (SELECT least(CAST(floor(s.p * 10) AS INTEGER), 9) AS bin,
    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM s JOIN documents d ON s.doc_id = d.doc_id
  WHERE s.p IS NOT NULL),
g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS n_pos
  FROM lab GROUP BY bin),
jk AS (
  SELECT j.bin AS jj, k.bin AS kk,
    CAST(CAST(sum(m.n_pos) AS BIGINT) * 1048576
      // CAST(sum(m.n) AS BIGINT) AS BIGINT) AS avg_micro
  FROM g j JOIN g k ON j.bin <= k.bin
  JOIN g m ON m.bin BETWEEN j.bin AND k.bin
  GROUP BY 1, 2),
fit AS (
  SELECT i.bin, max(inner_min) AS iso_micro
  FROM (
    SELECT i.bin, jk.jj, min(jk.avg_micro) AS inner_min
    FROM g i JOIN jk ON jk.jj <= i.bin AND jk.kk >= i.bin
    GROUP BY 1, 2) i
  GROUP BY 1)
SELECT CAST(g.bin AS INT) AS bin, g.n, g.n_pos,
  CAST(g.n_pos * 1048576 // g.n AS BIGINT) AS raw_micro,
  CAST(fit.iso_micro AS BIGINT) AS iso_micro
FROM g JOIN fit ON g.bin = fit.bin
ORDER BY bin
"""


QUERIES.update({
    "isotonic_calibration": QueryDef(
        q_isotonic_calibration, _ISOTONIC_ORACLE
    ),
})


def q_hll_sliding(spark, sf_dir):
    """Trailing-7-day distinct users per day from merged daily HLL
    registers (sketches.hll_sliding_distinct) — the sketch twin of
    sliding_active_users: one register rollup over the log, every
    window a ≤7-way register-MAX merge. Exact BIGINT register
    certificate per day hash-matches the SQL twin."""
    from inception_eventstore_spark.operators import sketches as SK

    ev = _t(spark, sf_dir, "events")
    return SK.hll_sliding_distinct(ev, window_days=7)


def _hll_sliding_oracle() -> str:
    from inception_eventstore_spark.operators.sketches import (
        hll_sliding_oracle_sql,
    )

    return hll_sliding_oracle_sql(window_days=7)


QUERIES.update({
    "hll_sliding_distinct": QueryDef(q_hll_sliding, _hll_sliding_oracle()),
})


def q_quantile_normalize(spark, sf_dir):
    """Quantile normalization of quality-score micros across sources
    (scoring.quantile_normalize, Bolstad 2003): per-source rank maps
    to the global value at ceil(r·N/n_g) — identical post-map
    distributions, scorer drift removed. Both ranks two-phase; exact
    integer target ranks."""
    from inception_eventstore_spark.operators import scoring as SC

    docs = _t(spark, sf_dir, "documents")
    scored = SC.linear_quality_score(docs, dim=64).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    pm = scored.select(
        "doc_id",
        "source",
        F.round(F.col("quality_prob") * 1e6)
        .cast("bigint")
        .alias("score_pm"),
    )
    return SC.quantile_normalize(pm, "score_pm", "source", "doc_id")


_QNORM_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
bk AS (SELECT doc_id, unnest(list_transform(tk, tok ->
  CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT)
  % 64)) AS bucket FROM t),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
w AS (SELECT i AS bucket,
  (CAST(('0x' || substring(md5('qw:v1:' || CAST(i AS VARCHAR)), 1, 15))
        AS BIGINT) - 576460752303423488) / 576460752303423488.0 AS w
  FROM range(0, 64) t(i)),
s AS (SELECT doc_id, CAST(round(round(1.0 / (1.0 + exp(-(sum(w * cnt)
    / sum(cnt)))), 6) * 1000000) AS BIGINT) AS pm
  FROM c JOIN w ON c.bucket = w.bucket GROUP BY doc_id),
base AS (SELECT s.doc_id, d.source, s.pm
  FROM s JOIN documents d ON s.doc_id = d.doc_id
  WHERE s.pm IS NOT NULL),
ig AS (SELECT doc_id, source, pm,
    row_number() OVER (PARTITION BY source ORDER BY pm, doc_id) AS r,
    count(*) OVER (PARTITION BY source) AS ng
  FROM base),
gl AS (SELECT pm AS gv,
    row_number() OVER (ORDER BY pm, doc_id) AS t,
    count(*) OVER () AS nt
  FROM base)
SELECT ig.doc_id, ig.source, ig.pm AS score_pm,
  CAST(ig.r AS BIGINT) AS group_rank,
  CAST(ig.ng AS BIGINT) AS group_n,
  gl.gv AS score_pm_qnorm
FROM ig JOIN gl ON gl.t = (ig.r * gl.nt + ig.ng - 1) // ig.ng
ORDER BY ig.doc_id
"""


QUERIES.update({
    "quantile_normalize": QueryDef(q_quantile_normalize, _QNORM_ORACLE),
})


def q_mad_outliers(spark, sf_dir):
    """Modified-z robust outlier days per event type (timeseries.
    mad_outlier_days, Iglewicz-Hoaglin): exact lower-median/MAD over
    the zero-filled day grid, pure-integer 6745·dev > 25000·MAD test
    (z > 2.5 — the synthetic Poisson-ish counts never reach the 3.5
    default, which would make the gate vacuous) — the distributed
    point complement of cusum_changepoints."""
    from inception_eventstore_spark.operators.timeseries import (
        mad_outlier_days,
    )

    ev = _t(spark, sf_dir, "events")
    return mad_outlier_days(ev, z_den_thousandths=25000)


_MAD_OUTLIER_ORACLE = """
WITH b AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events),
days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
    AS d FROM b),
keys AS (SELECT DISTINCT event_type AS k FROM events),
cnt AS (SELECT event_type AS k, CAST(ts AS DATE) AS d,
    CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
grid AS (
  SELECT keys.k, days.d, COALESCE(cnt.x, 0) AS x
  FROM keys CROSS JOIN days
  LEFT JOIN cnt ON cnt.k = keys.k AND cnt.d = days.d),
med AS (
  SELECT k, x AS med FROM (
    SELECT k, x,
      row_number() OVER (PARTITION BY k ORDER BY x, d) AS r,
      count(*) OVER (PARTITION BY k) AS n
    FROM grid)
  WHERE r = (n + 1) // 2),
dev AS (SELECT g.k, g.d, g.x, med.med, abs(g.x - med.med) AS dv
  FROM grid g JOIN med ON g.k = med.k),
mad AS (
  SELECT k, dv AS mad FROM (
    SELECT k, dv,
      row_number() OVER (PARTITION BY k ORDER BY dv, d) AS r,
      count(*) OVER (PARTITION BY k) AS n
    FROM dev)
  WHERE r = (n + 1) // 2)
SELECT dev.k AS event_type, dev.d AS day, dev.x, dev.med, mad.mad
FROM dev JOIN mad ON dev.k = mad.k
WHERE dev.dv * 6745 > mad.mad * 25000
ORDER BY event_type, day
"""


QUERIES.update({
    "mad_outlier_days": QueryDef(q_mad_outliers, _MAD_OUTLIER_ORACLE),
})


def q_ess_report(spark, sf_dir):
    """Effective-sample-size diagnostics of quality-score-ppm weights
    per language (importance.ess_report, Kong 1992): ESS = (Σw)²/Σw²
    from exact BIGINT sums — the pre-flight check for any weighted
    training mixture."""
    from inception_eventstore_spark.operators import scoring as SC
    from inception_eventstore_spark.operators.importance import ess_report

    docs = _t(spark, sf_dir, "documents")
    scored = SC.linear_quality_score(docs, dim=64).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    pm = scored.select(
        "lang",
        F.round(F.col("quality_prob") * 1e6)
        .cast("bigint")
        .alias("w_pm"),
    )
    return ess_report(pm, "w_pm", ["lang"]).orderBy("lang")


_ESS_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
bk AS (SELECT doc_id, unnest(list_transform(tk, tok ->
  CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT)
  % 64)) AS bucket FROM t),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
w AS (SELECT i AS bucket,
  (CAST(('0x' || substring(md5('qw:v1:' || CAST(i AS VARCHAR)), 1, 15))
        AS BIGINT) - 576460752303423488) / 576460752303423488.0 AS w
  FROM range(0, 64) t(i)),
s AS (SELECT doc_id, CAST(round(round(1.0 / (1.0 + exp(-(sum(w * cnt)
    / sum(cnt)))), 6) * 1000000) AS BIGINT) AS pm
  FROM c JOIN w ON c.bucket = w.bucket GROUP BY doc_id),
base AS (SELECT d.lang, s.pm AS w
  FROM s JOIN documents d ON s.doc_id = d.doc_id
  WHERE s.pm IS NOT NULL AND s.pm > 0),
m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(w) AS BIGINT) AS sw,
    CAST(sum(w * w) AS BIGINT) AS sww,
    CAST(max(w) AS BIGINT) AS wmax
  FROM base GROUP BY lang)
SELECT lang, n, sw, wmax,
  round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
    / CAST(sww AS DOUBLE), 6) AS ess,
  round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
    / CAST(sww AS DOUBLE) / CAST(n AS DOUBLE), 6) AS ess_ratio,
  round(CAST(wmax AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS max_share
FROM m ORDER BY lang
"""


QUERIES.update({
    "ess_report": QueryDef(q_ess_report, _ESS_ORACLE),
})


def q_source_js(spark, sf_dir):
    """Pairwise source-similarity matrix: Jensen-Shannon divergence
    between every two sources' add-½-smoothed token distributions
    (infotheory.source_token_js, Lin 1991) — the corpus-mixture
    designer's merge map. Probabilities are exact-integer ratios; the
    Σ term order jitter sits inside the 6-dp round."""
    from inception_eventstore_spark.operators.infotheory import (
        source_token_js,
    )

    docs = _t(spark, sf_dir, "documents")
    return source_token_js(docs, "text", "source")


_SOURCE_JS_ORACLE = f"""
WITH t AS (SELECT source, {_DUCK_TOKENS} AS tk FROM documents),
tc AS (SELECT source AS s, unnest(tk) AS tok FROM t),
cnt AS (SELECT s, tok, CAST(count(*) AS BIGINT) AS c
  FROM tc GROUP BY 1, 2),
vocab AS (SELECT DISTINCT tok FROM cnt),
nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vocab),
tot AS (SELECT s, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY s),
grid AS (
  SELECT tot.s, vocab.tok,
    (CAST(COALESCE(cnt.c, 0) AS DOUBLE) + 0.5)
      / (CAST(tot.tot AS DOUBLE) + 0.5 * (SELECT n FROM nv)) AS p
  FROM tot CROSS JOIN vocab
  LEFT JOIN cnt ON cnt.s = tot.s AND cnt.tok = vocab.tok),
pairs AS (
  SELECT a.s AS src_a, b.s AS src_b, a.p, b.p AS q
  FROM grid a JOIN grid b ON a.tok = b.tok AND a.s < b.s)
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_tokens,
  round(sum((p * ln(p / ((p + q) / 2))
    + q * ln(q / ((p + q) / 2))) / 2), 6) AS js
FROM pairs GROUP BY 1, 2 ORDER BY 1, 2
"""


QUERIES.update({
    "source_similarity_js": QueryDef(q_source_js, _SOURCE_JS_ORACLE),
})


def q_ratio_ci(spark, sf_dir):
    """Per-arm revenue-per-event ratio with delta-method CI
    (profile.ratio_metric_ci, Deng 2018) — the user-clustered ratio
    CI the A/B family needs beyond Wilson (counts) and CUPED (means).
    Exact per-user integer moments; fixed-order double combination."""
    from inception_eventstore_spark.operators.profile import (
        ratio_metric_ci,
    )

    ev = _t(spark, sf_dir, "events")
    return ratio_metric_ci(ev)


_RATIO_CI_ORACLE = """
WITH pu AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS b,
    CAST(sum(CAST(floor(value * 1048576.0) AS BIGINT)) AS BIGINT)
      // 1048576 AS x,
    CAST(count(*) AS BIGINT) AS n
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
m AS (SELECT b, CAST(count(*) AS BIGINT) AS u,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(n) AS BIGINT) AS sn,
    CAST(sum(x * x) AS BIGINT) AS sxx,
    CAST(sum(n * n) AS BIGINT) AS snn,
    CAST(sum(x * n) AS BIGINT) AS sxn
  FROM pu GROUP BY b),
e AS (SELECT b, u, sx, sn,
    CAST(u AS DOUBLE) AS ud,
    CAST(sx AS DOUBLE) / CAST(u AS DOUBLE) AS xbar,
    CAST(sn AS DOUBLE) / CAST(u AS DOUBLE) AS nbar,
    CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE) AS r,
    CAST(sxx AS DOUBLE) AS sxxd, CAST(snn AS DOUBLE) AS snnd,
    CAST(sxn AS DOUBLE) AS sxnd
  FROM m),
v AS (SELECT b, u, sx, sn, r,
    sqrt(greatest((
      ((sxxd - ud * xbar * xbar) / (ud - 1.0))
      - 2.0 * r * ((sxnd - ud * xbar * nbar) / (ud - 1.0))
      + r * r * ((snnd - ud * nbar * nbar) / (ud - 1.0))
    ) / (ud * nbar * nbar), 0.0)) AS se
  FROM e)
SELECT CAST(b AS INT) AS bucket, u AS n_users, sx AS sum_units,
  sn AS sum_events, round(r, 6) AS ratio, round(se, 6) AS se,
  round(r - 1.959963984540054 * se, 6) AS ci_lo,
  round(r + 1.959963984540054 * se, 6) AS ci_hi
FROM v ORDER BY bucket
"""


QUERIES.update({
    "ratio_metric_ci": QueryDef(q_ratio_ci, _RATIO_CI_ORACLE),
})


def q_threshold_sweep(spark, sf_dir):
    """Operating-point table of the quality model at 9 thresholds
    (scoring.threshold_sweep): tp/fp/fn + precision/recall/F1 as
    exact integer ppm — the tabular complement of quality_auc. One
    corpus scan feeds every threshold via conditional sums."""
    from inception_eventstore_spark.operators import scoring as SC

    docs = _t(spark, sf_dir, "documents")
    scored = SC.linear_quality_score(docs, dim=64).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return SC.threshold_sweep(
        scored.withColumn("is_en", F.col("lang") == "en"),
        "quality_prob",
        "is_en",
    )


_THRESHOLD_SWEEP_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
bk AS (SELECT doc_id, unnest(list_transform(tk, tok ->
  CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT)
  % 64)) AS bucket FROM t),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
w AS (SELECT i AS bucket,
  (CAST(('0x' || substring(md5('qw:v1:' || CAST(i AS VARCHAR)), 1, 15))
        AS BIGINT) - 576460752303423488) / 576460752303423488.0 AS w
  FROM range(0, 64) t(i)),
s AS (SELECT doc_id, CAST(round(round(1.0 / (1.0 + exp(-(sum(w * cnt)
    / sum(cnt)))), 6) * 1000000) AS BIGINT) AS pm
  FROM c JOIN w ON c.bucket = w.bucket GROUP BY doc_id),
lab AS (SELECT s.pm, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM s JOIN documents d ON s.doc_id = d.doc_id
  WHERE s.pm IS NOT NULL),
th AS (SELECT CAST(k * 100000 AS BIGINT) AS threshold_ppm
  FROM range(1, 10) r(k)),
cells AS (
  SELECT th.threshold_ppm,
    CAST(sum(CASE WHEN pm > threshold_ppm AND y = 1
      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN pm > threshold_ppm AND y = 0
      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN pm <= threshold_ppm AND y = 1
      THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM th CROSS JOIN lab GROUP BY 1)
SELECT threshold_ppm, tp, fp, fn,
  CAST(CASE WHEN tp + fp > 0
    THEN tp * 1000000 // (tp + fp) END AS BIGINT) AS precision_ppm,
  CAST(CASE WHEN tp + fn > 0
    THEN tp * 1000000 // (tp + fn) END AS BIGINT) AS recall_ppm,
  CAST(CASE WHEN 2 * tp + fp + fn > 0
    THEN 2 * tp * 1000000 // (2 * tp + fp + fn) END AS BIGINT)
    AS f1_ppm
FROM cells ORDER BY threshold_ppm
"""


QUERIES.update({
    "threshold_sweep": QueryDef(q_threshold_sweep, _THRESHOLD_SWEEP_ORACLE),
})


def q_dispersion(spark, sf_dir):
    """Index of dispersion (variance/mean) of daily counts per event
    type (timeseries.dispersion_report) — Poisson-vs-bursty triage on
    the calendar axis; exact BIGINT moments, one fixed-order double
    combination."""
    from inception_eventstore_spark.operators.timeseries import (
        dispersion_report,
    )

    ev = _t(spark, sf_dir, "events")
    return dispersion_report(ev)


_DISPERSION_ORACLE = """
WITH b AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events),
days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
    AS d FROM b),
keys AS (SELECT DISTINCT event_type AS k FROM events),
cnt AS (SELECT event_type AS k, CAST(ts AS DATE) AS d,
    CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
grid AS (
  SELECT keys.k, COALESCE(cnt.x, 0) AS x
  FROM keys CROSS JOIN days
  LEFT JOIN cnt ON cnt.k = keys.k AND cnt.d = days.d),
m AS (SELECT k, CAST(count(*) AS BIGINT) AS n_days,
    CAST(sum(x) AS BIGINT) AS sx,
    CAST(sum(x * x) AS BIGINT) AS sxx
  FROM grid GROUP BY k)
SELECT k AS event_type, n_days, sx, sxx,
  round(CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE), 6)
    AS mean_per_day,
  round(((CAST(sxx AS DOUBLE) - CAST(n_days AS DOUBLE)
      * (CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))
      * (CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)))
    / (CAST(n_days AS DOUBLE) - 1.0))
    / nullif(CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE), 0.0), 6)
    AS vmr
FROM m ORDER BY event_type
"""


QUERIES.update({
    "dispersion_report": QueryDef(q_dispersion, _DISPERSION_ORACLE),
})


def q_lsh_band_plan(spark, sf_dir):
    """MinHash banding planner grounded on the corpus's own sampled
    similarity histogram (dedup.sampled_jaccard_pairs →
    dedup.lsh_band_plan): every (bands, rows) split of a 64-hash
    budget priced by expected false-positive pair volume vs expected
    missed true pairs at threshold 0.8 — the table read before
    committing a dedup banding config. The r=1 row makes the planner's
    point: even near-zero-similarity mass floods verification when
    bands are single-row."""
    from inception_eventstore_spark.operators.dedup import (
        lsh_band_plan,
        sampled_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = sampled_jaccard_pairs(d, fraction=0.3, n=3)
    return lsh_band_plan(pairs, budget=64, threshold=0.8)


_LSH_PLAN_ORACLE = f"""
WITH sample AS (
  SELECT doc_id, text FROM documents
  WHERE CAST(('0x' || substr(md5('plan:' || CAST(doc_id AS VARCHAR)),
    1, 15)) AS BIGINT) % 1000000 < 300000),
toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM sample),
sets AS (
  SELECT doc_id,
    list_distinct([array_to_string(list_slice(tk, i,
      least(i + 2, len(tk))), ' ')
      for i in generate_series(1, greatest(len(tk) - 2, 1))]) AS grams
  FROM toks WHERE len(tk) > 0),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) AS inter,
    CAST(len(a.grams) AS DOUBLE) AS sa,
    CAST(len(b.grams) AS DOUBLE) AS sb
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id),
binned AS (
  SELECT least(CAST(floor((inter / (sa + sb - inter)) * 64)
    AS INTEGER), 63) AS bin
  FROM pairs),
hist AS (SELECT bin, CAST(count(*) AS BIGINT) AS n
  FROM binned GROUP BY bin),
splits AS (SELECT * FROM (VALUES (64, 1), (32, 2), (16, 4), (8, 8),
  (4, 16), (2, 32), (1, 64)) s(bands, rows_per_band)),
terms AS (
  SELECT s.bands, s.rows_per_band, h.bin, h.n,
    1.0 - power(1.0 - power((CAST(h.bin AS DOUBLE) + 0.5) / 64.0,
      CAST(s.rows_per_band AS DOUBLE)), CAST(s.bands AS DOUBLE)) AS p
  FROM hist h CROSS JOIN splits s)
SELECT CAST(bands AS BIGINT) AS bands,
  CAST(rows_per_band AS BIGINT) AS rows_per_band,
  CAST(sum(CASE WHEN bin < 51 THEN n ELSE 0 END) AS BIGINT)
    AS n_below,
  CAST(sum(CASE WHEN bin >= 51 THEN n ELSE 0 END) AS BIGINT)
    AS n_above,
  round(sum(CASE WHEN bin < 51
    THEN CAST(n AS DOUBLE) * p ELSE 0.0 END), 6) AS exp_fp_pairs,
  round(sum(CASE WHEN bin >= 51
    THEN CAST(n AS DOUBLE) * (1.0 - p) ELSE 0.0 END), 6)
    AS exp_fn_pairs
FROM terms GROUP BY 1, 2 ORDER BY rows_per_band
"""


QUERIES.update({
    "lsh_band_plan": QueryDef(q_lsh_band_plan, _LSH_PLAN_ORACLE),
})


# ----------------------------------------------------------------------
# Round-7 additions
# ----------------------------------------------------------------------


def q_multimodal_mp4_meta(spark, sf_dir):
    """MP4 catalog audit WITHOUT a codec (multimodal.mp4_metadata):
    duration / track layout / codec fourccs / video dimensions parsed
    from the ISO-BMFF moov box tree of every video/mp4 payload — the
    r6 verdict's most-common-container gap closed at the catalog-audit
    level (pixel decode still raises, honestly: the stream needs
    ffmpeg). Value-oracled against literal expectations computed
    driver-side by the same pure-python box walk over the same fixture
    payloads — certifying the Arrow kernel plumbing end-to-end, the
    multimodal_real_decode pattern."""
    from inception_eventstore_spark.operators import multimodal as MM

    assets = (
        MM.synthetic_assets(spark, n=256)
        .where(F.col("mime") == "video/mp4")
        .coalesce(2)
    )
    return MM.mp4_metadata(assets).orderBy("asset_id")


def _mp4_meta_oracle(n: int = 256) -> str:
    from inception_eventstore_spark.operators.multimodal import (
        parse_mp4_metadata,
        synthetic_asset_rows,
    )

    values = []
    for row in synthetic_asset_rows(n):
        if row[2] != "video/mp4":
            continue
        m = parse_mp4_metadata(bytes(row[6]))
        audio = f"'{m['audio_codec']}'" if m["audio_codec"] else "NULL"
        values.append(
            f"({row[0]}, '{m['major_brand']}', {m['duration_ms']}, "
            f"{m['n_tracks']}, '{m['video_codec']}', {m['width']}, "
            f"{m['height']}, {audio})"
        )
    return (
        "SELECT CAST(c0 AS BIGINT) AS asset_id, c1 AS major_brand, "
        "CAST(c2 AS BIGINT) AS duration_ms, "
        "CAST(c3 AS BIGINT) AS n_tracks, c4 AS video_codec, "
        "CAST(c5 AS BIGINT) AS width, CAST(c6 AS BIGINT) AS height, "
        "CAST(c7 AS VARCHAR) AS audio_codec "
        f"FROM (VALUES {', '.join(values)}) "
        "t(c0, c1, c2, c3, c4, c5, c6, c7) ORDER BY c0"
    )


QUERIES.update({
    "multimodal_mp4_meta": QueryDef(
        q_multimodal_mp4_meta, _mp4_meta_oracle()
    ),
})


def q_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotonic-trend test per event type
    (timeseries.mann_kendall_daily) — the hypothesis-test companion of
    theil_sen_trend over the SAME zero-filled day-grid pairs: exact
    integer S statistic and tie-corrected variance numerator, one
    fixed-order double z. No window anywhere — two aggregations over
    the bounded pair join."""
    from inception_eventstore_spark.operators.timeseries import (
        mann_kendall_daily,
    )

    ev = _t(spark, sf_dir, "events")
    return mann_kendall_daily(ev)


_MANN_KENDALL_ORACLE = """
WITH b AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events),
days AS (
  SELECT datediff('day', (SELECT d0 FROM b), d) AS i
  FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
          AS d FROM b)),
keys AS (SELECT DISTINCT event_type AS k FROM events),
cnt AS (SELECT event_type AS k,
    datediff('day', (SELECT d0 FROM b), CAST(ts AS DATE)) AS i,
    CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
grid AS (
  SELECT keys.k, days.i, COALESCE(cnt.x, 0) AS x
  FROM keys CROSS JOIN days
  LEFT JOIN cnt ON cnt.k = keys.k AND cnt.i = days.i),
s AS (
  SELECT g1.k,
    CAST(sum(CASE WHEN g2.x > g1.x THEN 1
                  WHEN g2.x < g1.x THEN -1 ELSE 0 END) AS BIGINT)
      AS s_stat
  FROM grid g1 JOIN grid g2 ON g1.k = g2.k AND g2.i > g1.i
  GROUP BY 1),
ties AS (
  SELECT k, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum,
    CAST(sum(t) AS BIGINT) AS n_days
  FROM (SELECT k, x, CAST(count(*) AS BIGINT) AS t
        FROM grid GROUP BY k, x)
  GROUP BY 1),
j AS (
  SELECT s.k, ties.n_days, s.s_stat,
    CAST(ties.n_days * (ties.n_days - 1) * (2 * ties.n_days + 5)
      - ties.tie_sum AS BIGINT) AS var_num18
  FROM s JOIN ties ON s.k = ties.k)
SELECT k AS event_type, n_days, s_stat, var_num18,
  round(CASE WHEN s_stat > 0
          THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var_num18 AS DOUBLE) / 18.0)
        WHEN s_stat < 0
          THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var_num18 AS DOUBLE) / 18.0)
        ELSE 0.0 END, 6) + 0.0 AS z_mk
FROM j ORDER BY k
"""


QUERIES.update({
    "mann_kendall": QueryDef(q_mann_kendall, _MANN_KENDALL_ORACLE),
})


def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum between click and purchase value
    distributions (profile.mann_whitney_u) — nonparametric A/B readout
    with midrank tie handling. Exact BIGINT U (×2 units) and tie term;
    the global midrank running count goes through the two-phase
    sharded_running_sums, never a single-partition window."""
    from inception_eventstore_spark.operators.profile import (
        mann_whitney_u,
    )

    ev = _t(spark, sf_dir, "events")
    return mann_whitney_u(ev, "click", "purchase")


_MANN_WHITNEY_ORACLE = """
WITH v AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
per AS (
  SELECT v,
    CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM v GROUP BY v),
r AS (
  SELECT na, nb, na + nb AS nt,
    CAST(sum(na + nb) OVER (ORDER BY v
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ntc
  FROM per),
agg AS (
  SELECT
    CAST(sum(na * (2 * (ntc - nt) + nt + 1)) AS BIGINT) AS ra_x2,
    CAST(sum(na) AS BIGINT) AS n_a,
    CAST(sum(nb) AS BIGINT) AS n_b,
    CAST(sum(nt * nt * nt - nt) AS BIGINT) AS tie_sum
  FROM r)
SELECT n_a, n_b,
  CAST(ra_x2 - n_a * (n_a + 1) AS BIGINT) AS u_a_x2, tie_sum,
  round((CAST(ra_x2 - n_a * (n_a + 1) AS DOUBLE)
         - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
    / (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
        * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
           - CAST(tie_sum AS DOUBLE)
             / (CAST(n_a + n_b AS DOUBLE)
                * (CAST(n_a + n_b AS DOUBLE) - 1.0))))), 6) + 0.0
    AS z_u
FROM agg
"""


QUERIES.update({
    "mann_whitney_u": QueryDef(q_mann_whitney, _MANN_WHITNEY_ORACLE),
})


def q_phrase_search(spark, sf_dir):
    """Exact consecutive-phrase search (retrieval.phrase_search) for
    "table key" — positional-postings conjunction via the anchor-vote
    trick (pos − slot), one explode + one aggregation, never a
    positional self-join; postings pre-filtered to the phrase tokens
    via a broadcast slot map before any shuffle."""
    from inception_eventstore_spark.operators.retrieval import (
        phrase_search,
    )

    d = _t(spark, sf_dir, "documents")
    return phrase_search(d, ["table", "key"]).orderBy("doc_id")


_PHRASE_SEARCH_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
ex AS (SELECT doc_id, unnest(tk) AS token,
    generate_subscripts(tk, 1) - 1 AS pos FROM toks),
ph(token, slot) AS (VALUES ('table', 0), ('key', 1)),
anchors AS (
  SELECT ex.doc_id, ex.pos - ph.slot AS a, ph.slot
  FROM ex JOIN ph USING (token)),
m AS (SELECT doc_id, a FROM anchors
  GROUP BY doc_id, a HAVING count(DISTINCT slot) = 2)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM m GROUP BY doc_id ORDER BY doc_id
"""


QUERIES.update({
    "phrase_search": QueryDef(q_phrase_search, _PHRASE_SEARCH_ORACLE),
})


def q_dp_noisy_counts(spark, sf_dir):
    """Per-event-type counts released through the ε=0.5 discrete-
    Laplace (geometric) mechanism (pii.dp_noisy_counts) — sensitivity-1
    calibration, ±24 truncation, inverse-CDF over literal 2^20-scaled
    thresholds. The demonstration draw is a deterministic md5 lane of
    (release, group), so the oracle replays the entire release;
    production swaps the lane for a CSPRNG seed (documented)."""
    from inception_eventstore_spark.operators.pii import dp_noisy_counts

    ev = _t(spark, sf_dir, "events")
    return dp_noisy_counts(ev).orderBy("grp")


def _dp_noisy_oracle(epsilon: float = 0.5, bound: int = 24) -> str:
    from inception_eventstore_spark.operators.pii import (
        discrete_laplace_thresholds,
    )

    th = discrete_laplace_thresholds(epsilon, bound)
    ladder = " ".join(
        f"WHEN u < {t} THEN {i - bound}" for i, t in enumerate(th)
    )
    return f"""
WITH c AS (SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1),
u AS (SELECT grp, n,
    CAST(concat('0x', substr(md5(concat('dp:release-1:', grp)), 1, 15))
      AS BIGINT) % 1048576 AS u
  FROM c),
z AS (SELECT grp, n, CASE {ladder} ELSE {bound} END AS noise FROM u)
SELECT grp, CAST(noise AS BIGINT) AS noise,
  CAST(n + noise AS BIGINT) AS noisy_count
FROM z ORDER BY grp
"""


QUERIES.update({
    "dp_noisy_counts": QueryDef(q_dp_noisy_counts, _dp_noisy_oracle()),
})


def q_propensity_strata(spark, sf_dir):
    """Propensity-stratified treated-vs-control purchase-value gaps
    (profile.propensity_strata): pinned integer propensity index,
    equal-rank decile strata via the two-phase shard rank, exact
    integer state end-to-end, per-stratum fixed-order double diff."""
    from inception_eventstore_spark.operators.profile import (
        propensity_strata,
    )

    ev = _t(spark, sf_dir, "events")
    return propensity_strata(ev)


_PROPENSITY_ORACLE = """
WITH per AS (
  SELECT user_id AS u, CAST(user_id % 2 AS INT) AS t,
    CAST(count(*) AS BIGINT) AS n_ev,
    CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      AS BIGINT) AS n_click,
    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      THEN CAST(floor(value * 1048576.0) AS BIGINT) END), 0)
      AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
sc AS (SELECT u, t, y,
    CAST(37 * n_ev + 101 * n_days + 53 * n_click AS BIGINT) AS s
  FROM per),
r AS (SELECT t, y,
    row_number() OVER (ORDER BY s, u) AS rk,
    count(*) OVER () AS n
  FROM sc),
st AS (SELECT (rk - 1) * 10 // n AS stratum, t, y FROM r),
g AS (SELECT stratum,
    CAST(sum(t) AS BIGINT) AS n_treated,
    CAST(sum(1 - t) AS BIGINT) AS n_control,
    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS syt,
    CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS syc
  FROM st GROUP BY 1)
SELECT CAST(stratum AS BIGINT) AS stratum, n_treated, n_control,
  CASE WHEN n_treated > 0 AND n_control > 0 THEN
    round((CAST(syt AS DOUBLE) / n_treated
           - CAST(syc AS DOUBLE) / n_control) / 1048576.0, 6) + 0.0
  END AS diff_y
FROM g ORDER BY stratum
"""


QUERIES.update({
    "propensity_strata": QueryDef(
        q_propensity_strata, _PROPENSITY_ORACLE
    ),
})


def q_eb_shrunk_rates(spark, sf_dir):
    """Empirical-Bayes beta-binomial shrinkage of per-user purchase
    rates (scoring.eb_shrunk_rates): method-of-moments prior over
    integer-quantized raw rates (div(x·2^20, n) — exact BIGINT
    moments), shrunk = (x+α)/(n+α+β) as a fixed-order double. The
    oracle recomputes α, β with the IDENTICAL operation order, so the
    driver-side fit replays in SQL."""
    from inception_eventstore_spark.operators.scoring import (
        eb_shrunk_rates,
    )

    ev = _t(spark, sf_dir, "events")
    return eb_shrunk_rates(ev).select(
        "user_id", "n", "x", "raw_rate", "shrunk_rate",
        F.col("prior_used").cast("int").alias("prior_used"),
    ).orderBy("user_id")


_EB_SHRUNK_ORACLE = """
WITH per AS (
  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS x
  FROM events GROUP BY 1),
pq AS (SELECT k, n, x, CAST(x * 1048576 // n AS BIGINT) AS rq FROM per),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
    CAST(coalesce(sum(rq), 0) AS BIGINT) AS s1,
    CAST(coalesce(sum(rq * rq), 0) AS BIGINT) AS s2
  FROM pq WHERE n >= 5),
pr AS (
  SELECT m,
    (CAST(s1 AS DOUBLE) / m) / 1048576.0 AS mu,
    (CAST(s2 AS DOUBLE) / m
     - (CAST(s1 AS DOUBLE) / m) * (CAST(s1 AS DOUBLE) / m))
      / (1048576.0 * 1048576.0) * (CAST(m AS DOUBLE) / (m - 1.0)) AS v
  FROM fit),
ab AS (
  SELECT CASE WHEN m >= 2 AND mu > 0.0 AND mu < 1.0 AND v > 0.0
              AND mu * (1.0 - mu) / v - 1.0 > 0.0
         THEN mu * (mu * (1.0 - mu) / v - 1.0) ELSE 0.0 END AS alpha,
         CASE WHEN m >= 2 AND mu > 0.0 AND mu < 1.0 AND v > 0.0
              AND mu * (1.0 - mu) / v - 1.0 > 0.0
         THEN (1.0 - mu) * (mu * (1.0 - mu) / v - 1.0)
         ELSE 0.0 END AS beta_
  FROM pr)
SELECT pq.k AS user_id, pq.n, pq.x,
  round(CAST(rq AS DOUBLE) / 1048576.0, 6) + 0.0 AS raw_rate,
  round((CAST(x AS DOUBLE) + ab.alpha)
        / (CAST(n AS DOUBLE) + ab.alpha + ab.beta_), 6) + 0.0
    AS shrunk_rate,
  CAST(CASE WHEN ab.alpha > 0.0 OR ab.beta_ > 0.0
       THEN 1 ELSE 0 END AS INT) AS prior_used
FROM pq, ab ORDER BY pq.k
"""


QUERIES.update({
    "eb_shrunk_rates": QueryDef(q_eb_shrunk_rates, _EB_SHRUNK_ORACLE),
})


def q_logrank_test(spark, sf_dir):
    """Log-rank two-arm time-to-purchase comparison (funnel.
    logrank_test) over km_survival's exact construction — integer O/E/V
    accumulation on the bounded day axis (km driver pattern), one
    fixed-order double z; the oracle replays the prefix arithmetic with
    window sums + HUGEINT // products."""
    from inception_eventstore_spark.operators import funnel as FU

    ev = _t(spark, sf_dir, "events")
    return FU.logrank_test(ev, start_type="signup",
                           event_type="purchase")


_LOGRANK_ORACLE = """
WITH starts AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
lasts AS (SELECT user_id, max(ts) AS tmax FROM events GROUP BY user_id),
fe AS (
  SELECT e.user_id, min(e.ts) AS te
  FROM events e JOIN starts s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.t0
  GROUP BY e.user_id),
per_user AS (
  SELECT CAST(s.user_id % 2 AS INT) AS arm,
    CASE WHEN fe.te IS NOT NULL
      THEN datediff('day', CAST(s.t0 AS DATE), CAST(fe.te AS DATE))
      ELSE datediff('day', CAST(s.t0 AS DATE), CAST(l.tmax AS DATE))
    END AS d,
    CASE WHEN fe.te IS NOT NULL THEN 1 ELSE 0 END AS obs
  FROM starts s JOIN lasts l ON s.user_id = l.user_id
  LEFT JOIN fe ON s.user_id = fe.user_id),
per_day AS (
  SELECT d,
    CAST(sum(CASE WHEN arm = 1 THEN obs ELSE 0 END) AS BIGINT) AS d1,
    CAST(sum(CASE WHEN arm = 1 THEN 1 - obs ELSE 0 END) AS BIGINT) AS c1,
    CAST(sum(CASE WHEN arm = 0 THEN obs ELSE 0 END) AS BIGINT) AS d0,
    CAST(sum(CASE WHEN arm = 0 THEN 1 - obs ELSE 0 END) AS BIGINT) AS c0
  FROM per_user GROUP BY d),
tot AS (
  SELECT CAST(coalesce(sum(d1 + c1), 0) AS BIGINT) AS n1_total,
    CAST(coalesce(sum(d0 + c0), 0) AS BIGINT) AS n0_total
  FROM per_day),
risk AS (
  SELECT d, d1, d0,
    (SELECT n1_total FROM tot)
      - coalesce(sum(d1 + c1) OVER (ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
    (SELECT n0_total FROM tot)
      - coalesce(sum(d0 + c0) OVER (ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n0
  FROM per_day),
terms AS (
  SELECT d1, d0, n1, n0, n1 + n0 AS nj, d1 + d0 AS dj
  FROM risk WHERE d1 + d0 > 0 AND n1 + n0 >= 2),
acc AS (
  SELECT CAST(coalesce(sum(d1), 0) AS BIGINT) AS o1,
    CAST(coalesce(sum((dj * n1 * 1048576) // nj), 0) AS BIGINT)
      AS e1_micro,
    CAST(coalesce(sum((dj * n1 * n0 * (nj - dj) * 1048576)
      // (nj * nj * (nj - 1))), 0) AS BIGINT) AS v_micro
  FROM terms)
SELECT tot.n1_total AS n_arm1, tot.n0_total AS n_arm0,
  acc.o1, acc.e1_micro, acc.v_micro,
  round((CAST(acc.o1 AS DOUBLE) - CAST(acc.e1_micro AS DOUBLE) / 1048576.0)
    / sqrt(CAST(acc.v_micro AS DOUBLE) / 1048576.0), 6) + 0.0
    AS z_logrank
FROM tot, acc
"""


QUERIES.update({
    "logrank_test": QueryDef(q_logrank_test, _LOGRANK_ORACLE),
})


def q_brier_decomposition(spark, sf_dir):
    """Murphy decomposition of the quality model's Brier score at
    predicting English (scoring.brier_decomposition): exact integer
    squared-error and deviation moments (per-row floor(p·2^20)
    quantization, truncating-div bin deviations), five fixed-order
    double ratios — calibration (REL) vs discrimination (RES) vs
    irreducible base rate (UNC), plus the within-bin residual."""
    from inception_eventstore_spark.operators import scoring as SC

    docs = _t(spark, sf_dir, "documents")
    scored = SC.linear_quality_score(docs, dim=64).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return SC.brier_decomposition(
        scored.withColumn("is_en", (F.col("lang") == "en").cast("int")),
        "quality_prob",
        "is_en",
        bins=10,
    )


_BRIER_ORACLE = f"""
WITH t AS (SELECT doc_id, {{toks}} AS tk FROM documents),
bk AS (SELECT doc_id, unnest(list_transform(tk, tok ->
  CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT)
  % 64)) AS bucket FROM t),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
w AS (SELECT i AS bucket,
  (CAST(('0x' || substring(md5('qw:v1:' || CAST(i AS VARCHAR)), 1, 15))
        AS BIGINT) - 576460752303423488) / 576460752303423488.0 AS w
  FROM range(0, 64) t(i)),
s AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(sum(w * cnt)
    / sum(cnt)))), 6) AS p
  FROM c JOIN w ON c.bucket = w.bucket GROUP BY doc_id),
rows_ AS (SELECT
    least(CAST(floor(s.p * 10) AS INTEGER), 9) AS b,
    CAST(floor(s.p * 1048576.0) AS BIGINT) AS pq,
    CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM s JOIN documents d ON s.doc_id = d.doc_id
  WHERE s.p IS NOT NULL),
per_bin AS (SELECT b, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS pos,
    CAST(sum(pq) AS BIGINT) AS spq,
    CAST(sum(((pq - 1048576 * y) * (pq - 1048576 * y)) // 16384)
         AS BIGINT) AS se
  FROM rows_ GROUP BY b),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
    CAST(sum(pos) AS BIGINT) AS pos,
    CAST(sum(se) AS BIGINT) AS se_q,
    CAST(sum(n * ((((spq - 1048576 * pos) // n)
                   * ((spq - 1048576 * pos) // n)) // 16384))
         AS BIGINT) AS rel_q
  FROM per_bin),
res AS (SELECT CAST(sum(pb.n
      * (((((pb.pos * 1048576) // pb.n)
           - ((tot.pos * 1048576) // tot.n))
          * (((pb.pos * 1048576) // pb.n)
             - ((tot.pos * 1048576) // tot.n))) // 16384))
      AS BIGINT) AS res_q
  FROM per_bin pb, tot)
SELECT tot.n, tot.pos,
  round(CAST(se_q AS DOUBLE)
    / (CAST(tot.n AS DOUBLE) * 67108864.0), 6) + 0.0 AS brier,
  round(CAST(rel_q AS DOUBLE)
    / (CAST(tot.n AS DOUBLE) * 67108864.0), 6) + 0.0
    AS reliability,
  round(CAST(res.res_q AS DOUBLE)
    / (CAST(tot.n AS DOUBLE) * 67108864.0), 6) + 0.0
    AS resolution,
  round((CAST(tot.pos AS DOUBLE) / tot.n)
    * (1.0 - CAST(tot.pos AS DOUBLE) / tot.n), 6) + 0.0
    AS uncertainty,
  round(CAST(se_q AS DOUBLE) / (CAST(tot.n AS DOUBLE) * 67108864.0)
    - (CAST(rel_q AS DOUBLE) / (CAST(tot.n AS DOUBLE) * 67108864.0)
       - CAST(res.res_q AS DOUBLE)
         / (CAST(tot.n AS DOUBLE) * 67108864.0)
       + (CAST(tot.pos AS DOUBLE) / tot.n)
         * (1.0 - CAST(tot.pos AS DOUBLE) / tot.n)), 6) + 0.0
    AS residual
FROM tot, res
"""


QUERIES.update({
    "brier_decomposition": QueryDef(
        q_brier_decomposition, _BRIER_ORACLE.format(toks=_DUCK_TOKENS)
    ),
})


# ----------------------------------------------------------------------
# Round-8 additions
# ----------------------------------------------------------------------


def q_multimodal_mp4_frames(spark, sf_dir):
    """MJPEG-in-MP4 frame extraction (multimodal.sample_frames_mp4):
    sample-table byte slicing — stts/stsc/stsz/stco|co64 parsed, each
    frame sliced straight out of mdat, NO pixel decode (VERDICT r7
    missing #2: the AVI-path equivalent for the most common
    container). Oracled STRONGER than the AVI twin: the VALUES oracle
    replays the same pure-python extraction driver-side and pins the
    md5 of every frame's BYTES, so a hash match proves offsets, sizes,
    ragged-final-chunk stsc expansion and co64 offsets all land on the
    exact JPEG byte ranges — not just the schedule."""
    from inception_eventstore_spark.operators import multimodal as MM

    assets = MM.synthetic_mp4_assets(spark, n=48)
    return MM.sample_frames_mp4(assets, every_ms=250).select(
        "asset_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("offset_ms").cast("bigint").alias("offset_ms"),
        "mime",
        F.md5(F.col("payload")).alias("frame_md5"),
    )


def _mp4_frames_oracle(n: int = 48, every_ms: int = 250) -> str:
    import hashlib

    from inception_eventstore_spark.operators.multimodal import (
        extract_mp4_frames,
        synthetic_mp4_asset_rows,
    )

    values = []
    for row in synthetic_mp4_asset_rows(n):
        jpegs, fps = extract_mp4_frames(bytes(row[6]))
        duration_ms = len(jpegs) / fps * 1000.0
        t = 0.0
        while t < duration_ms:
            i = int(t * fps / 1000.0)
            if i >= len(jpegs):
                break
            md5 = hashlib.md5(jpegs[i]).hexdigest()
            values.append(f"({row[0]}, {i}, {int(t)}, '{md5}')")
            t += every_ms
    return (
        "SELECT CAST(c0 AS BIGINT) AS asset_id, "
        "CAST(c1 AS BIGINT) AS frame_idx, "
        "CAST(c2 AS BIGINT) AS offset_ms, "
        "'image/jpeg' AS mime, c3 AS frame_md5 "
        f"FROM (VALUES {', '.join(values)}) t(c0, c1, c2, c3)"
    )


QUERIES.update({
    "multimodal_mp4_frames": QueryDef(
        q_multimodal_mp4_frames, _mp4_frames_oracle()
    ),
})


# ----------------------------------------------------------------------
# r8: six new analytics operators (chi-square, Kruskal-Wallis,
# Spearman, IPW ATE, seasonal decomposition, permutation test)
# ----------------------------------------------------------------------


def q_chi_square(spark, sf_dir):
    """Chi-square independence of event_type × weekday
    (profile.chi_square_independence) — bounded R×C grid, per-cell
    contributions floored to 2^20 micro-units and summed as BIGINTs
    (quantize-before-combine), Cramér's V alongside."""
    from inception_eventstore_spark.operators.profile import (
        chi_square_independence,
    )

    return chi_square_independence(_t(spark, sf_dir, "events"))


_CHI_SQUARE_ORACLE = """
WITH cells AS (
  SELECT event_type AS r,
    CAST(((datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) % 7) + 7) % 7
      AS BIGINT) AS c,
    CAST(count(*) AS BIGINT) AS o
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2),
grid AS (
  SELECT rr.r, cc.c, COALESCE(cells.o, 0) AS o
  FROM (SELECT DISTINCT r FROM cells) rr
  CROSS JOIN (SELECT DISTINCT c FROM cells) cc
  LEFT JOIN cells ON cells.r = rr.r AND cells.c = cc.c),
rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM grid GROUP BY 1),
ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM grid GROUP BY 1),
tot AS (SELECT CAST(sum(rt) AS BIGINT) AS n FROM rt),
per AS (
  SELECT n,
    CAST(floor(
      CAST(o * n - rt * ct AS DOUBLE) * CAST(o * n - rt * ct AS DOUBLE)
      / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
      * 1048576.0) AS BIGINT) AS cu,
    g.r, g.c
  FROM grid g
  JOIN rt ON rt.r = g.r
  JOIN ct ON ct.c = g.c
  CROSS JOIN tot),
agg AS (
  SELECT max(n) AS n,
    CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
    CAST(count(DISTINCT c) AS BIGINT) AS n_cols,
    CAST(sum(cu) AS BIGINT) AS su
  FROM per)
SELECT n, n_rows, n_cols,
  CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
  round(CAST(su AS DOUBLE) / 1048576.0, 6) + 0.0 AS chi2,
  CASE WHEN (n_rows - 1) * (n_cols - 1) > 0 THEN
    round(sqrt(CAST(su AS DOUBLE) / 1048576.0
      / (CAST(n AS DOUBLE)
         * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE))), 6) + 0.0
  END AS cramers_v
FROM agg
"""


def q_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H across ALL event types' value distributions
    (profile.kruskal_wallis) — midranks ×2 via sharded_running_sums,
    tie term in base-2^31 lanes recombined driver-side, per-group
    R²/n quantized to micro-units before the bounded-axis sum."""
    from inception_eventstore_spark.operators.profile import (
        kruskal_wallis,
    )

    return kruskal_wallis(_t(spark, sf_dir, "events"))


_KRUSKAL_ORACLE = """
WITH v AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL),
cells AS (
  SELECT v, g, CAST(count(*) AS BIGINT) AS ng FROM v GROUP BY 1, 2),
per AS (SELECT v, CAST(sum(ng) AS BIGINT) AS nt FROM cells GROUP BY 1),
r AS (
  SELECT v, nt,
    CAST(sum(nt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      AS BIGINT) AS ntc
  FROM per),
mid AS (SELECT v, 2 * (ntc - nt) + nt + 1 AS mx2, nt FROM r),
ties AS (
  SELECT CAST(sum(nt * nt * nt - nt) AS BIGINT) AS tie_sum FROM mid),
tot AS (SELECT CAST(sum(nt) AS BIGINT) AS n FROM per),
grp AS (
  SELECT g, CAST(sum(ng) AS BIGINT) AS n_g,
    CAST(sum(ng * mx2) AS BIGINT) AS rs
  FROM cells JOIN mid ON cells.v = mid.v GROUP BY 1),
su AS (
  SELECT CAST(sum(CAST(floor(
      CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE)
      / (4.0 * CAST(n_g AS DOUBLE)) * 1048576.0) AS BIGINT))
    AS BIGINT) AS s_u
  FROM grp),
h AS (
  SELECT n, tie_sum,
    round(
      (12.0 * (CAST(s_u AS DOUBLE) / 1048576.0)
         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
       - 3.0 * (CAST(n AS DOUBLE) + 1.0))
      / (1.0 - CAST(tie_sum AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(n AS DOUBLE))), 6) + 0.0 AS h_tied
  FROM su, tot, ties)
SELECT CAST(g AS VARCHAR) AS grp, n_g, rs AS rank_sum_x2,
  n, tie_sum, h_tied
FROM grp, h ORDER BY grp
"""


def q_spearman_corr(spark, sf_dir):
    """Spearman rank correlation between per-user event count and
    total value (profile.spearman_user_corr) — tie-corrected
    Pearson-on-midranks; cross-moments in base-2^31 lanes recombined
    driver-side in exact python ints."""
    from inception_eventstore_spark.operators.profile import (
        spearman_user_corr,
    )

    return spearman_user_corr(_t(spark, sf_dir, "events"))


_SPEARMAN_ORACLE = """
WITH per AS (
  SELECT user_id AS u, CAST(count(*) AS BIGINT) AS x,
    CAST(sum(CAST(floor(value * 1048576.0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1),
ax AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS nt FROM per GROUP BY 1),
rx AS (
  SELECT v,
    2 * (CAST(sum(nt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      AS BIGINT) - nt) + nt + 1 AS m
  FROM ax),
ay AS (SELECT y AS v, CAST(count(*) AS BIGINT) AS nt FROM per GROUP BY 1),
ry AS (
  SELECT v,
    2 * (CAST(sum(nt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      AS BIGINT) - nt) + nt + 1 AS m
  FROM ay),
j AS (
  SELECT rx.m AS mx, ry.m AS my
  FROM per JOIN rx ON per.x = rx.v JOIN ry ON per.y = ry.v),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(mx * mx) AS BIGINT) AS sxx,
    CAST(sum(my * my) AS BIGINT) AS syy,
    CAST(sum(mx * my) AS BIGINT) AS sxy
  FROM j)
-- BIGINT bound (oracle-side only): sxy/sxx/syy are Σ of midrank-x2
-- products ≤ n·(2n)² = 4n³, and the final n·sxy products reach
-- ~8n⁴, which exceeds BIGINT near n ≈ 1.3M distinct users. DuckDB
-- silently widens these to HUGEINT (the outer CASTs keep the SELECT
-- BIGINT/DOUBLE), so the oracle is exact but the documented
-- gate-scale bound is n ≲ 1.3M; the Spark side is lane-decomposed
-- (base-2^31) and has no such limit.
SELECT n, sxx, syy, sxy,
  round(CAST(n * sxy - (n * (n + 1)) * (n * (n + 1)) AS DOUBLE)
    / sqrt(CAST(n * sxx - (n * (n + 1)) * (n * (n + 1)) AS DOUBLE)
           * CAST(n * syy - (n * (n + 1)) * (n * (n + 1)) AS DOUBLE)),
    6) + 0.0 AS rho
FROM s
"""


def q_ipw_ate(spark, sf_dir):
    """Stratified / Hájek-IPW average treatment effect over the
    pinned propensity strata (profile.ipw_ate) — the one-number
    rollup of propensity_strata, per-stratum contributions floored to
    micro-units before the bounded-axis sum; naive diff alongside."""
    from inception_eventstore_spark.operators.profile import ipw_ate

    return ipw_ate(_t(spark, sf_dir, "events"))


_IPW_ATE_ORACLE = """
WITH per AS (
  SELECT user_id AS u, CAST(user_id % 2 AS INT) AS t,
    CAST(count(*) AS BIGINT) AS n_ev,
    CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      AS BIGINT) AS n_click,
    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      THEN CAST(floor(value * 1048576.0) AS BIGINT) END), 0)
      AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
sc AS (SELECT u, t, y,
    CAST(37 * n_ev + 101 * n_days + 53 * n_click AS BIGINT) AS s
  FROM per),
r AS (SELECT t, y,
    row_number() OVER (ORDER BY s, u) AS rk,
    count(*) OVER () AS n
  FROM sc),
st AS (SELECT (rk - 1) * 10 // n AS stratum, t, y, n FROM r),
g AS (SELECT stratum,
    CAST(max(n) AS BIGINT) AS nu,
    CAST(count(*) AS BIGINT) AS ns,
    CAST(sum(t) AS BIGINT) AS nt,
    CAST(sum(1 - t) AS BIGINT) AS nc,
    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS syt,
    CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS syc
  FROM st GROUP BY 1),
agg AS (
  SELECT max(nu) AS n_users,
    CAST(sum(nt) AS BIGINT) AS n_treated,
    CAST(sum(nc) AS BIGINT) AS n_control,
    CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS n_strata_used,
    CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN 0 ELSE 1 END)
      AS BIGINT) AS n_strata_dropped,
    CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN
      CAST(floor(CAST(ns AS DOUBLE)
        * (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
           - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE))
        / CAST(nu AS DOUBLE)) AS BIGINT) ELSE 0 END)
      AS BIGINT) AS au,
    CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN syt ELSE 0 END)
      AS BIGINT) AS syt_ok,
    CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN syc ELSE 0 END)
      AS BIGINT) AS syc_ok,
    CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN nt ELSE 0 END)
      AS BIGINT) AS nt_ok,
    CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN nc ELSE 0 END)
      AS BIGINT) AS nc_ok
  FROM g)
SELECT n_users, n_treated, n_control, n_strata_used, n_strata_dropped,
  round(CAST(au AS DOUBLE) / 1048576.0, 6) + 0.0 AS ate,
  CASE WHEN nt_ok > 0 AND nc_ok > 0 THEN
    round((CAST(syt_ok AS DOUBLE) / CAST(nt_ok AS DOUBLE)
           - CAST(syc_ok AS DOUBLE) / CAST(nc_ok AS DOUBLE))
      / 1048576.0, 6) + 0.0
  END AS naive_diff
FROM agg
"""


def q_seasonal_decompose(spark, sf_dir):
    """Additive weekly decomposition of the daily event count
    (timeseries.seasonal_decompose_daily) — PURE INTEGER: centered
    7-day moving average via an offset-explode equi-join (never a
    window), truncating integer division identical in both engines,
    n·2^20 = trend + seasonal + residual exactly per day."""
    from inception_eventstore_spark.operators.timeseries import (
        seasonal_decompose_daily,
    )

    return seasonal_decompose_daily(_t(spark, sf_dir, "events"))


_SEASONAL_ORACLE = """
WITH cnts AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
b AS (SELECT min(d) AS d0, max(d) AS d1 FROM cnts),
grid AS (
  SELECT g.d, COALESCE(cnts.x, 0) AS x,
    CAST(((datediff('day', DATE '1970-01-05', g.d) % 7) + 7) % 7 AS BIGINT) AS ph,
    CAST(datediff('day', DATE '1970-01-01', g.d) AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
          AS d FROM b) g
  LEFT JOIN cnts ON cnts.d = g.d),
contrib AS (
  SELECT i + off AS i, x FROM grid CROSS JOIN range(-3, 4) o(off)),
win AS (SELECT i, CAST(sum(x) AS BIGINT) AS wsum FROM contrib GROUP BY 1),
lims AS (SELECT min(i) AS lo, max(i) AS hi FROM grid),
tr AS (
  SELECT grid.d, grid.i, grid.ph, grid.x,
    CAST(wsum * 1048576 AS BIGINT) // 7 AS tu
  FROM grid JOIN win ON win.i = grid.i, lims
  WHERE grid.i >= lims.lo + 3 AND grid.i <= lims.hi - 3),
seas AS (
  SELECT ph,
    CAST(sum(x * 1048576 - tu) AS BIGINT)
      // CAST(count(*) AS BIGINT) AS su
  FROM tr GROUP BY 1)
SELECT tr.d AS day, tr.x AS n_events, CAST(tu AS BIGINT) AS trend_u,
  CAST(su AS BIGINT) AS seasonal_u,
  CAST(tr.x * 1048576 - tu - su AS BIGINT) AS resid_u
FROM tr JOIN seas ON tr.ph = seas.ph ORDER BY day
"""


def q_permutation_pvalue(spark, sf_dir):
    """Two-sample permutation test (Bernoulli re-allocation form) for
    click vs purchase mean value (sampling.permutation_pvalue) —
    b=199 deterministic md5-lane relabelings, exact integer replicate
    sums, add-one p-value; fully in-plan (no driver loop)."""
    from inception_eventstore_spark.operators.sampling import (
        permutation_pvalue,
    )

    return permutation_pvalue(_t(spark, sf_dir, "events"))


_PERMUTATION_ORACLE = """
WITH src AS (
  SELECT CAST(event_id AS VARCHAR) AS k,
    CAST(floor(value * 1048576.0) AS BIGINT) AS v,
    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
obs AS (
  SELECT CAST(sum(a) AS BIGINT) AS na,
    CAST(sum(1 - a) AS BIGINT) AS nb,
    CAST(sum(a * v) AS BIGINT) AS sva,
    CAST(sum((1 - a) * v) AS BIGINT) AS svb,
    CAST(CAST(sum(a) AS BIGINT) * 1048576 AS BIGINT)
      // (CAST(sum(a) AS BIGINT) + CAST(sum(1 - a) AS BIGINT))
      AS thresh
  FROM src),
blocks AS (
  SELECT r.blk, k, v,
    CAST(concat('0x', substr(md5(concat('perm:v1:',
      CAST(r.blk AS VARCHAR), ':', k)), 1, 15)) AS BIGINT) AS h
  FROM src CROSS JOIN range(0, 67) r(blk)),
reps AS (
  SELECT blk * 3 + lane AS rep, v,
    CASE lane WHEN 0 THEN h % 1048576
              WHEN 1 THEN (h // 1048576) % 1048576
              ELSE h // 1099511627776 END AS u
  FROM blocks CROSS JOIN range(0, 3) l(lane)
  WHERE blk * 3 + lane < 199),
lab AS (
  SELECT rep, v,
    CASE WHEN u < (SELECT thresh FROM obs) THEN 1 ELSE 0 END AS pa
  FROM reps),
ragg AS (
  SELECT rep, CAST(sum(pa) AS BIGINT) AS ra,
    CAST(count(*) AS BIGINT) AS rn,
    CAST(sum(pa * v) AS BIGINT) AS rva,
    CAST(sum((1 - pa) * v) AS BIGINT) AS rvb
  FROM lab GROUP BY 1),
sc AS (
  SELECT CASE WHEN ra > 0 AND rn > ra AND
      abs(CAST(rva AS DOUBLE) / CAST(ra AS DOUBLE)
          - CAST(rvb AS DOUBLE)
            / (CAST(rn AS DOUBLE) - CAST(ra AS DOUBLE)))
      >= abs(CAST(sva AS DOUBLE) / CAST(na AS DOUBLE)
             - CAST(svb AS DOUBLE) / CAST(nb AS DOUBLE))
    THEN 1 ELSE 0 END AS ex
  FROM ragg, obs),
fin AS (SELECT CAST(sum(ex) AS BIGINT) AS n_extreme FROM sc)
SELECT na AS n_a, nb AS n_b, CAST(199 AS BIGINT) AS b,
  round((CAST(sva AS DOUBLE) / CAST(na AS DOUBLE)
         - CAST(svb AS DOUBLE) / CAST(nb AS DOUBLE)) / 1048576.0, 6)
    + 0.0 AS t_obs,
  n_extreme,
  round(CAST(n_extreme + 1 AS DOUBLE) / 200.0, 6) + 0.0 AS p_value
FROM obs, fin
"""


QUERIES.update({
    "chi_square_independence": QueryDef(q_chi_square, _CHI_SQUARE_ORACLE),
    "kruskal_wallis": QueryDef(q_kruskal_wallis, _KRUSKAL_ORACLE),
    "spearman_corr": QueryDef(q_spearman_corr, _SPEARMAN_ORACLE),
    "ipw_ate": QueryDef(q_ipw_ate, _IPW_ATE_ORACLE),
    "seasonal_decompose": QueryDef(
        q_seasonal_decompose, _SEASONAL_ORACLE
    ),
    "permutation_pvalue": QueryDef(
        q_permutation_pvalue, _PERMUTATION_ORACLE
    ),
})


# ----------------------------------------------------------------------
# r8 batch 2: v-optimal histogram (DP, km driver pattern with an
# unrolled-CTE SQL twin) and the Cochran-Armitage trend test
# ----------------------------------------------------------------------


def q_v_optimal_histogram(spark, sf_dir):
    """k=8 v-optimal histogram over event values (VLDB'98 DP on the
    bounded 32-bin pre-aggregation — histogram.v_optimal_histogram):
    integer 2^20-scaled SSE costs so every DP comparison is exact;
    the oracle replays the DP with 7 unrolled MATERIALIZED CTE steps
    and HUGEINT arithmetic, making the identical argmin choices."""
    from inception_eventstore_spark.operators.histogram import (
        v_optimal_histogram,
    )

    ev = _t(spark, sf_dir, "events")
    return v_optimal_histogram(ev, "value", n_bins=32, k=8)


def _vopt_dp_steps(k: int = 8) -> str:
    """d2..dk: one DP step per segment count — identical structure,
    generated so the oracle and operator can't drift on step count."""
    steps = []
    for t in range(2, k + 1):
        steps.append(f"""
d{t} AS MATERIALIZED (
  SELECT j, cost, m FROM (
    SELECT sc.j, d{t - 1}.cost + sc.cu AS cost, d{t - 1}.j AS m,
      row_number() OVER (PARTITION BY sc.j
        ORDER BY d{t - 1}.cost + sc.cu, d{t - 1}.j) AS rn
    FROM d{t - 1} JOIN cost sc ON sc.i = d{t - 1}.j + 1) x
  WHERE rn = 1)""")
    return ",".join(steps)


_VOPT_ORACLE = f"""
WITH src AS (
  SELECT CAST(floor(value * 256.0) AS BIGINT) AS x FROM events
  WHERE value IS NOT NULL),
mm AS (SELECT min(x) AS lo, max(x) AS hi FROM src),
bx AS (
  SELECT CASE WHEN hi = lo THEN 0
    ELSE least(31, (x - lo) * 32 // (hi - lo + 1)) END AS b, x
  FROM src, mm),
ag AS (
  SELECT b, CAST(count(*) AS BIGINT) AS c, CAST(sum(x) AS BIGINT) AS s,
    CAST(sum(x * x) AS BIGINT) AS ss
  FROM bx GROUP BY 1),
grid AS (
  SELECT r.range AS b, COALESCE(ag.c, 0) AS c, COALESCE(ag.s, 0) AS s,
    COALESCE(ag.ss, 0) AS ss
  FROM range(0, 32) r LEFT JOIN ag ON ag.b = r.range),
seg AS (
  SELECT i.range AS i, j.range AS j,
    CAST(sum(g.c) AS BIGINT) AS c, CAST(sum(g.s) AS BIGINT) AS s,
    CAST(sum(g.ss) AS BIGINT) AS ss
  FROM range(0, 32) i JOIN range(0, 32) j ON j.range >= i.range
  JOIN grid g ON g.b BETWEEN i.range AND j.range
  GROUP BY 1, 2),
cost AS (
  SELECT i, j,
    CASE WHEN c = 0 THEN CAST(0 AS HUGEINT)
      ELSE CAST(ss AS HUGEINT) * 1048576
           - (CAST(s AS HUGEINT) * s * 1048576) // c END AS cu
  FROM seg),
d1 AS MATERIALIZED (
  SELECT j, cu AS cost, -1 AS m FROM cost WHERE i = 0),
{_vopt_dp_steps()},
b8 AS (SELECT m AS m7 FROM d8 WHERE j = 31),
b7 AS (SELECT b8.m7, d7.m AS m6 FROM b8 JOIN d7 ON d7.j = b8.m7),
b6 AS (SELECT b7.m7, b7.m6, d6.m AS m5
       FROM b7 JOIN d6 ON d6.j = b7.m6),
b5 AS (SELECT b6.*, d5.m AS m4 FROM b6 JOIN d5 ON d5.j = b6.m5),
b4 AS (SELECT b5.*, d4.m AS m3 FROM b5 JOIN d4 ON d4.j = b5.m4),
b3 AS (SELECT b4.*, d3.m AS m2 FROM b4 JOIN d3 ON d3.j = b4.m3),
b2 AS (SELECT b3.*, d2.m AS m1 FROM b3 JOIN d2 ON d2.j = b3.m2),
bounds AS MATERIALIZED (
  SELECT 0 AS seg, 0 AS lo, m1 AS hi FROM b2
  UNION ALL SELECT 1, m1 + 1, m2 FROM b2
  UNION ALL SELECT 2, m2 + 1, m3 FROM b2
  UNION ALL SELECT 3, m3 + 1, m4 FROM b2
  UNION ALL SELECT 4, m4 + 1, m5 FROM b2
  UNION ALL SELECT 5, m5 + 1, m6 FROM b2
  UNION ALL SELECT 6, m6 + 1, m7 FROM b2
  UNION ALL SELECT 7, m7 + 1, 31 FROM b2),
segagg AS (
  SELECT bo.seg, bo.lo, bo.hi,
    CAST(sum(g.c) AS BIGINT) AS c, CAST(sum(g.s) AS BIGINT) AS s,
    CAST(sum(g.ss) AS BIGINT) AS ss
  FROM bounds bo JOIN grid g ON g.b BETWEEN bo.lo AND bo.hi
  GROUP BY 1, 2, 3)
SELECT CAST(seg AS BIGINT) AS seg, CAST(lo AS BIGINT) AS lo_bucket,
  CAST(hi AS BIGINT) AS hi_bucket, c AS n_rows, s AS sum_q,
  CAST((CASE WHEN c = 0 THEN CAST(0 AS HUGEINT)
    ELSE CAST(ss AS HUGEINT) * 1048576
         - (CAST(s AS HUGEINT) * s * 1048576) // c END) // 1048576
    AS BIGINT) AS sse_q
FROM segagg ORDER BY seg
"""


def q_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage dose-response trend: conversion (any
    purchase) vs active-day dose capped at 5
    (profile.cochran_armitage) — exact integer trend numerator on the
    bounded dose axis, python-int driver fold, one fixed-order z."""
    from inception_eventstore_spark.operators.profile import (
        cochran_armitage,
    )

    return cochran_armitage(_t(spark, sf_dir, "events"))


_COCHRAN_ORACLE = """
WITH per AS (
  SELECT user_id AS u,
    least(CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT), 5) AS w,
    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS r
  FROM events GROUP BY 1),
dose AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_i,
    CAST(sum(r) AS BIGINT) AS r_i
  FROM per GROUP BY 1),
agg AS (
  SELECT CAST(sum(n_i) AS BIGINT) AS n,
    CAST(sum(r_i) AS BIGINT) AS r,
    sum(w * r_i) AS swr, sum(w * n_i) AS swn,
    sum(w * w * n_i) AS sw2n
  FROM dose)
SELECT n AS n_users, r AS n_resp,
  CAST(n * swr - r * swn AS BIGINT) AS trend_num,
  CASE WHEN r * (n - r) * (n * sw2n - swn * swn) > 0 THEN
    round(CAST(n * swr - r * swn AS DOUBLE)
      / sqrt(CAST(r * (n - r) * (n * sw2n - swn * swn) AS DOUBLE)
             / CAST(n AS DOUBLE)), 6) + 0.0
  END AS z_ca
FROM agg
"""


QUERIES.update({
    "v_optimal_histogram": QueryDef(
        q_v_optimal_histogram, _VOPT_ORACLE
    ),
    "cochran_armitage": QueryDef(q_cochran_armitage, _COCHRAN_ORACLE),
})


# ----------------------------------------------------------------------
# r8 batch 3: Dirichlet query-likelihood retrieval + Haar wavelet
# energy screen
# ----------------------------------------------------------------------


def q_ql_dirichlet(spark, sf_dir):
    """Dirichlet-smoothed query likelihood top-10 for the bm25 query
    terms (retrieval.ql_dirichlet_topk) — the LM-retrieval twin:
    absent terms still contribute their smoothed penalty, so every
    doc participates; postings narrowed to the query terms before any
    shuffle; 6-dp rounding before the deterministic (score, doc_id)
    cut."""
    from inception_eventstore_spark.operators.retrieval import (
        ql_dirichlet_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    return ql_dirichlet_topk(
        docs, ["spark", "merge", "window"], k=10, mu=2000.0
    )


_QL_DIRICHLET_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
st AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS sdl FROM toks),
ex AS (SELECT doc_id, unnest(tk) AS token FROM toks),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM ex
  WHERE token IN ('merge', 'spark', 'window') GROUP BY 1, 2),
cf AS (
  SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM tf
  GROUP BY 1 HAVING sum(tf) > 0),
dls AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks),
grid AS (
  SELECT dls.doc_id, dls.dl, cf.token, cf.cf FROM dls CROSS JOIN cf),
j AS (
  SELECT g.doc_id, g.dl, g.cf, COALESCE(tf.tf, 0) AS tf
  FROM grid g
  LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.token = g.token),
s AS (
  SELECT doc_id,
    ln((CAST(tf AS DOUBLE)
        + 2000.0 * CAST(cf AS DOUBLE)
          / CAST((SELECT sdl FROM st) AS DOUBLE))
       / (CAST(dl AS DOUBLE) + 2000.0)) AS lp
  FROM j)
SELECT doc_id, round(sum(lp), 6) AS score
FROM s GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 10
"""


def q_haar_energy(spark, sf_dir):
    """Haar wavelet detail energies of daily traffic over the first
    32 days (timeseries.haar_energy_daily) — PURE INTEGER pyramid
    (unnormalized s = a+b / d = a−b), exact BIGINT energies per
    scale, zero-padded fixed dyadic grid."""
    from inception_eventstore_spark.operators.timeseries import (
        haar_energy_daily,
    )

    return haar_energy_daily(_t(spark, sf_dir, "events"), levels=5)


_HAAR_ORACLE = """
WITH cnts AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
b AS (SELECT min(d) AS d0 FROM cnts),
grid AS (
  SELECT r.range AS i, COALESCE(c.x, 0) AS x
  FROM range(0, 32) r LEFT JOIN (
    SELECT datediff('day', (SELECT d0 FROM b), d) AS i, x FROM cnts) c
  ON c.i = r.range),
l1 AS (
  SELECT i // 2 AS p,
    CAST(sum(CASE WHEN i % 2 = 0 THEN x ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN i % 2 = 1 THEN x ELSE 0 END) AS BIGINT) AS b
  FROM grid GROUP BY 1),
l2 AS (
  SELECT p // 2 AS p,
    CAST(sum(CASE WHEN p % 2 = 0 THEN a + b ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN p % 2 = 1 THEN a + b ELSE 0 END) AS BIGINT) AS b
  FROM l1 GROUP BY 1),
l3 AS (
  SELECT p // 2 AS p,
    CAST(sum(CASE WHEN p % 2 = 0 THEN a + b ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN p % 2 = 1 THEN a + b ELSE 0 END) AS BIGINT) AS b
  FROM l2 GROUP BY 1),
l4 AS (
  SELECT p // 2 AS p,
    CAST(sum(CASE WHEN p % 2 = 0 THEN a + b ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN p % 2 = 1 THEN a + b ELSE 0 END) AS BIGINT) AS b
  FROM l3 GROUP BY 1),
l5 AS (
  SELECT p // 2 AS p,
    CAST(sum(CASE WHEN p % 2 = 0 THEN a + b ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN p % 2 = 1 THEN a + b ELSE 0 END) AS BIGINT) AS b
  FROM l4 GROUP BY 1)
SELECT CAST(0 AS BIGINT) AS level, CAST(32 AS BIGINT) AS n_coeffs,
  CAST(sum(x * x) AS BIGINT) AS energy FROM grid
UNION ALL SELECT 1, 16, CAST(sum((a - b) * (a - b)) AS BIGINT) FROM l1
UNION ALL SELECT 2, 8, CAST(sum((a - b) * (a - b)) AS BIGINT) FROM l2
UNION ALL SELECT 3, 4, CAST(sum((a - b) * (a - b)) AS BIGINT) FROM l3
UNION ALL SELECT 4, 2, CAST(sum((a - b) * (a - b)) AS BIGINT) FROM l4
UNION ALL SELECT 5, 1, CAST(sum((a - b) * (a - b)) AS BIGINT) FROM l5
ORDER BY level
"""


QUERIES.update({
    "retrieval_ql_dirichlet": QueryDef(
        q_ql_dirichlet, _QL_DIRICHLET_ORACLE
    ),
    "haar_energy_daily": QueryDef(q_haar_energy, _HAAR_ORACLE),
})


# ----------------------------------------------------------------------
# r8 batch 4: least-squares changepoints (shared v-optimal DP) and
# end-to-end entity-resolution clusters
# ----------------------------------------------------------------------


def q_changepoints_lsq(spark, sf_dir):
    """k=4 least-squares regime segmentation of daily traffic
    (timeseries.changepoints_lsq) — v_optimal_segmentation on the
    zero-filled day axis; integer SSE costs, identical DP/tie-breaks
    to v_optimal_histogram, oracle replays via unrolled CTEs over the
    dynamic day span."""
    from inception_eventstore_spark.operators.timeseries import (
        changepoints_lsq,
    )

    return changepoints_lsq(_t(spark, sf_dir, "events"), k=4)


_CHANGEPOINT_ORACLE = f"""
WITH cnts AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
b AS (SELECT min(d) AS d0, max(d) AS d1 FROM cnts),
grid AS (
  SELECT datediff('day', (SELECT d0 FROM b), g.d) AS i,
    COALESCE(c.x, 0) AS x
  FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
          AS d FROM b) g
  LEFT JOIN cnts c ON c.d = g.d),
lastj AS (SELECT max(i) AS ji FROM grid),
seg AS (
  SELECT i.i AS i, j.i AS j,
    CAST(count(*) AS BIGINT) AS c, CAST(sum(g.x) AS BIGINT) AS s,
    CAST(sum(g.x * g.x) AS BIGINT) AS ss
  FROM (SELECT i FROM grid) i JOIN (SELECT i FROM grid) j
    ON j.i >= i.i
  JOIN grid g ON g.i BETWEEN i.i AND j.i
  GROUP BY 1, 2),
cost AS (
  SELECT i, j,
    CASE WHEN c = 0 THEN CAST(0 AS HUGEINT)
      ELSE CAST(ss AS HUGEINT) * 1048576
           - (CAST(s AS HUGEINT) * s * 1048576) // c END AS cu
  FROM seg),
d1 AS MATERIALIZED (
  SELECT j, cu AS cost, -1 AS m FROM cost WHERE i = 0),
{_vopt_dp_steps(4)},
b4 AS (SELECT m AS m3 FROM d4 WHERE j = (SELECT ji FROM lastj)),
b3 AS (SELECT b4.m3, d3.m AS m2 FROM b4 JOIN d3 ON d3.j = b4.m3),
b2 AS (SELECT b3.*, d2.m AS m1 FROM b3 JOIN d2 ON d2.j = b3.m2),
bounds AS MATERIALIZED (
  SELECT 0 AS seg, 0 AS lo, m1 AS hi FROM b2
  UNION ALL SELECT 1, m1 + 1, m2 FROM b2
  UNION ALL SELECT 2, m2 + 1, m3 FROM b2
  UNION ALL SELECT 3, m3 + 1, (SELECT ji FROM lastj) FROM b2)
SELECT CAST(bo.seg AS BIGINT) AS seg, CAST(bo.lo AS BIGINT) AS lo_day,
  CAST(bo.hi AS BIGINT) AS hi_day,
  CAST(count(*) AS BIGINT) AS n_days,
  CAST(sum(g.x) AS BIGINT) AS total,
  CAST((CASE WHEN count(*) = 0 THEN CAST(0 AS HUGEINT)
    ELSE CAST(sum(g.x * g.x) AS HUGEINT) * 1048576
         - (CAST(sum(g.x) AS HUGEINT) * sum(g.x) * 1048576)
           // count(*) END) // 1048576 AS BIGINT) AS sse_q
FROM bounds bo JOIN grid g ON g.i BETWEEN bo.lo AND bo.hi
GROUP BY 1, 2, 3 ORDER BY seg
"""


def q_entity_clusters(spark, sf_dir):
    """End-to-end entity resolution (linkage.entity_clusters):
    customer names vs deterministically-corrupted variants —
    deletion-neighborhood fuzzy join feeds large/small-star connected
    components; every node labeled, isolates self. The oracle is the
    brute-force levenshtein cross join closed by a recursive CTE."""
    from inception_eventstore_spark.operators.linkage import (
        entity_clusters,
    )

    cust = _t(spark, sf_dir, "customer")
    left = cust.select(
        F.col("c_custkey").alias("lid"), F.col("c_name").alias("lname")
    )
    pos = (F.col("c_custkey") % 15 + 2).cast("int")
    right = cust.select(
        F.col("c_custkey").alias("rid"),
        F.concat(
            F.col("c_name").substr(F.lit(1), pos - 1),
            F.col("c_name").substr(pos + 1, F.length("c_name")),
        ).alias("rname"),
    )
    return entity_clusters(
        left, right, "lname", "rname", "lid", "rid",
        right_id_offset=10_000_000,
    )


_ENTITY_CLUSTERS_ORACLE = """
WITH RECURSIVE
L AS (SELECT c_custkey AS lid, c_name AS lname FROM customer),
R AS (SELECT c_custkey + 10000000 AS rid,
  substr(c_name, 1, CAST(c_custkey % 15 + 2 AS INT) - 1)
  || substr(c_name, CAST(c_custkey % 15 + 2 AS INT) + 1, len(c_name))
  AS rname FROM customer),
pr AS (
  SELECT lid AS u, rid AS v FROM L, R
  WHERE levenshtein(lname, rname) <= 1),
und AS (SELECT u, v FROM pr UNION SELECT v AS u, u AS v FROM pr),
reach AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, n.v FROM reach r JOIN und n ON r.v = n.u
  WHERE n.v <> r.u),
comp AS (
  SELECT u AS node, least(u, min(v)) AS component
  FROM reach GROUP BY u),
nodes AS (SELECT lid AS node FROM L UNION SELECT rid AS node FROM R)
SELECT CAST(n.node AS BIGINT) AS node,
  CAST(COALESCE(c.component, n.node) AS BIGINT) AS component
FROM nodes n LEFT JOIN comp c ON c.node = n.node
ORDER BY node
"""


QUERIES.update({
    "changepoints_lsq": QueryDef(
        q_changepoints_lsq, _CHANGEPOINT_ORACLE
    ),
    "entity_clusters": QueryDef(
        q_entity_clusters, _ENTITY_CLUSTERS_ORACLE
    ),
})


# ----------------------------------------------------------------------
# r8 batch 5: curation gates — boilerplate share and blocklist density
# ----------------------------------------------------------------------


def q_boilerplate_fraction(spark, sf_dir):
    """Per-doc boilerplate share over the planted corpus (every doc
    gains the global newsletter line + a doc_id%7 group footer —
    the q_dedup_lines fixture): corpus-common lines (df >= 10)
    counted per doc, share as exact integer ppm
    (curation.boilerplate_fraction)."""
    from inception_eventstore_spark.operators.curation import (
        boilerplate_fraction,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("subscribe to our newsletter for updates"),
            F.concat(
                F.lit("group footer number "),
                (F.col("doc_id") % 7).cast("string"),
            ),
        ).alias("text"),
    )
    return boilerplate_fraction(planted, min_df=10).orderBy("doc_id")


_BOILERPLATE_ORACLE = """
WITH planted AS (
  SELECT doc_id,
    text || chr(10) || 'subscribe to our newsletter for updates'
    || chr(10) || 'group footer number ' || CAST(doc_id % 7 AS VARCHAR)
    AS text
  FROM documents),
lines AS (
  SELECT doc_id, trim(l) AS ln FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS l
    FROM planted)
  WHERE trim(l) <> ''),
dfp AS (
  SELECT ln, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM lines GROUP BY 1),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
    CAST(sum(CASE WHEN df >= 10 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_boiler
  FROM lines JOIN dfp ON lines.ln = dfp.ln GROUP BY 1)
SELECT doc_id, n_lines, n_boiler,
  CAST(n_boiler * 1000000 // n_lines AS BIGINT) AS boiler_ppm
FROM per ORDER BY doc_id
"""


def q_blocklist_hits(spark, sf_dir):
    """Blocklist token density per document
    (curation.blocklist_hits): exact-term matches on the shared
    tokenizer against a 3-word blocklist, rate as exact integer ppm
    — the unsafe-vocabulary gate, scanned once map-side."""
    from inception_eventstore_spark.operators.curation import (
        blocklist_hits,
    )

    d = _t(spark, sf_dir, "documents")
    return blocklist_hits(d, ["dup", "slow", "stale"]).orderBy("doc_id")


_BLOCKLIST_ORACLE = f"""
WITH ex AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS t FROM documents),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
    CAST(sum(CASE WHEN t IN ('dup', 'slow', 'stale') THEN 1 ELSE 0
      END) AS BIGINT) AS n_hits
  FROM ex GROUP BY 1)
SELECT doc_id, n_tokens, n_hits,
  CAST(n_hits * 1000000 // n_tokens AS BIGINT) AS hit_ppm
FROM per ORDER BY doc_id
"""


QUERIES.update({
    "boilerplate_fraction": QueryDef(
        q_boilerplate_fraction, _BOILERPLATE_ORACLE
    ),
    "blocklist_hits": QueryDef(q_blocklist_hits, _BLOCKLIST_ORACLE),
})


# ----------------------------------------------------------------------
# r8 batch 6: Holt-Winters seasonal smoothing + Simpson's-paradox audit
# ----------------------------------------------------------------------


def q_holt_winters(spark, sf_dir):
    """Holt-Winters additive triple smoothing of daily totals
    (timeseries.holt_winters_daily, alpha = beta = gamma = 1/4,
    weekly period): km driver pattern, exact 2^20 micro-unit state,
    truncating divisions; the oracle's recursive CTE carries the
    7-slot seasonal state as rotating columns."""
    from inception_eventstore_spark.operators.timeseries import (
        holt_winters_daily,
    )

    ev = _t(spark, sf_dir, "events")
    return holt_winters_daily(ev).orderBy("day_index")


def _holt_winters_oracle(
    an: int = 1, ad: int = 4, bn: int = 1, bd: int = 4,
    gn: int = 1, gd: int = 4, p: int = 7,
) -> str:
    def td(a: str, d: int) -> str:
        return (f"(CASE WHEN ({a}) >= 0 THEN ({a}) // {d} "
                f"ELSE -((-({a})) // {d}) END)")

    l0 = f"(((SELECT sum(x) FROM days WHERE i < {p}) * 1048576) // {p})"
    xq = "((SELECT x FROM days WHERE i = r.it + 1) * 1048576)"
    s_used = (
        f"(CASE (r.it + 1) % {p} "
        + " ".join(f"WHEN {k} THEN r.s{k}" for k in range(p))
        + " END)"
    )
    l_new = td(
        f"{an} * ({xq} - {s_used}) + {ad - an} * (r.l + r.tr)", ad
    )
    b_new = td(f"{bn} * ({l_new} - r.l) + {bd - bn} * r.tr", bd)
    s_new = td(f"{gn} * ({xq} - {l_new}) + {gd - gn} * {s_used}", gd)
    init_s = ", ".join(
        f"((SELECT x FROM days WHERE i = {k}) * 1048576 - {l0}) AS s{k}"
        for k in range(p)
    )
    step_s = ", ".join(
        f"CASE WHEN (r.it + 1) % {p} = {k} THEN {s_new} ELSE r.s{k} END"
        f" AS s{k}"
        for k in range(p)
    )
    return f"""
WITH RECURSIVE b AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events WHERE ts IS NOT NULL),
days AS (
  SELECT datediff('day', (SELECT d0 FROM b), g.d) AS i, g.d,
    COALESCE(c.x, 0) AS x
  FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
          AS d FROM b) g
  LEFT JOIN (SELECT CAST(ts AS DATE) AS d,
      CAST(count(*) AS BIGINT) AS x FROM events
      WHERE ts IS NOT NULL GROUP BY 1) c
    ON g.d = c.d),
rec AS (
  SELECT {p - 1} AS it, {l0} AS l, CAST(0 AS BIGINT) AS tr,
    {init_s},
    CAST(NULL AS BIGINT) AS s_used, CAST(NULL AS BIGINT) AS err
  UNION ALL
  SELECT r.it + 1,
    {l_new},
    {b_new},
    {step_s},
    {s_used},
    {xq} - (r.l + r.tr + {s_used})
  FROM rec r WHERE r.it + 1 <= (SELECT max(i) FROM days))
SELECT CAST(r.it AS BIGINT) AS day_index, d.d AS day,
  CAST(d.x AS BIGINT) AS n_events, CAST(r.l AS BIGINT) AS level_micro,
  CAST(r.tr AS BIGINT) AS trend_micro,
  CAST(r.s_used AS BIGINT) AS seasonal_micro,
  CAST(r.err AS BIGINT) AS onestep_err_micro
FROM rec r JOIN days d ON d.i = r.it
WHERE r.it >= {p}
ORDER BY day_index
"""


def q_simpsons_check(spark, sf_dir):
    """Simpson's-paradox audit of the click-vs-purchase value gap
    across weekday strata (profile.simpsons_check): exact-integer
    sign tests on floored micro-unit gaps — reversal flags never ride
    a float comparison."""
    from inception_eventstore_spark.operators.profile import (
        simpsons_check,
    )

    return simpsons_check(_t(spark, sf_dir, "events"))


_SIMPSONS_ORACLE = """
WITH v AS (
  SELECT CAST(((datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) % 7) + 7) % 7
      AS BIGINT) AS st,
    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
    CAST(floor(value * 1048576.0) AS BIGINT) AS v
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
g AS (
  SELECT st, CAST(sum(a) AS BIGINT) AS n_a,
    CAST(sum(1 - a) AS BIGINT) AS n_b,
    CAST(sum(a * v) AS BIGINT) AS sva,
    CAST(sum((1 - a) * v) AS BIGINT) AS svb
  FROM v GROUP BY 1),
agg AS (
  SELECT CAST(floor(
      CAST(sum(sva) AS DOUBLE) / CAST(sum(n_a) AS DOUBLE)
      - CAST(sum(svb) AS DOUBLE) / CAST(sum(n_b) AS DOUBLE))
    AS BIGINT) AS agg_gap_u
  FROM g),
per AS (
  SELECT st, n_a, n_b,
    CASE WHEN n_a > 0 AND n_b > 0 THEN
      CAST(floor(CAST(sva AS DOUBLE) / CAST(n_a AS DOUBLE)
                 - CAST(svb AS DOUBLE) / CAST(n_b AS DOUBLE))
        AS BIGINT)
    END AS gap_u,
    (SELECT agg_gap_u FROM agg) AS agg_gap_u
  FROM g),
j AS (
  SELECT st, n_a, n_b, gap_u, agg_gap_u,
    CASE WHEN gap_u IS NOT NULL AND agg_gap_u <> 0
      AND ((gap_u > 0 AND agg_gap_u < 0)
           OR (gap_u < 0 AND agg_gap_u > 0))
    THEN 1 ELSE 0 END AS rev
  FROM per)
SELECT st AS stratum, n_a, n_b, gap_u, agg_gap_u,
  CAST(rev AS BIGINT) AS reversed,
  (SELECT CAST(sum(rev) AS BIGINT) FROM j) AS n_reversed
FROM j ORDER BY stratum
"""


QUERIES.update({
    "holt_winters": QueryDef(q_holt_winters, _holt_winters_oracle()),
    "simpsons_check": QueryDef(q_simpsons_check, _SIMPSONS_ORACLE),
})


# ---------------------------------------------------------------------------
# r9 registrations
# ---------------------------------------------------------------------------


def q_anova_oneway(spark, sf_dir):
    """One-way ANOVA F across event types (profile.anova_oneway) —
    exact-integer group moments (Σq² in base-2^31 lanes ≡ the
    oracle's HUGEINT sums), per-group S²/n floored to 2^20 micro-units
    over the bounded group axis, F one fixed-order double ratio."""
    from inception_eventstore_spark.operators.profile import anova_oneway

    return anova_oneway(_t(spark, sf_dir, "events"))


_ANOVA_ORACLE = """
WITH v AS (
  SELECT event_type AS g, CAST(floor(value * 1048576.0) AS BIGINT) AS q
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
grp AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_g,
    CAST(sum(q) AS BIGINT) AS s_g,
    sum(q * q) AS q2_g
  FROM v GROUP BY 1),
agg AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n,
    CAST(count(*) AS BIGINT) AS k,
    CAST(sum(s_g) AS BIGINT) AS s,
    sum(q2_g) AS q2,
    sum(CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
        / CAST(n_g AS DOUBLE) * 1048576.0) AS HUGEINT)) AS a_u
  FROM grp)
SELECT n AS n_rows, k AS k_groups,
  CASE WHEN k >= 2 AND n > k AND (q2 * 1048576 - a_u) > 0 THEN
    round((CAST(a_u - CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             / CAST(n AS DOUBLE) * 1048576.0) AS HUGEINT) AS DOUBLE)
           / CAST(k - 1 AS DOUBLE))
          / (CAST(q2 * 1048576 - a_u AS DOUBLE)
             / CAST(n - k AS DOUBLE)), 6) + 0.0
  END AS f_stat
FROM agg
"""


def q_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t between click and purchase values
    (profile.welch_ttest): same exact-integer moment machinery as
    ANOVA; t and the Welch-Satterthwaite df are one fixed-order double
    tree of six exact integers, mirrored token-for-token."""
    from inception_eventstore_spark.operators.profile import welch_ttest

    return welch_ttest(_t(spark, sf_dir, "events"))


_WELCH_ORACLE = """
WITH v AS (
  SELECT event_type AS g, CAST(floor(value * 1048576.0) AS BIGINT) AS q
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
agg AS (
  SELECT
    CAST(count(*) FILTER (g = 'click') AS BIGINT) AS na,
    CAST(count(*) FILTER (g = 'purchase') AS BIGINT) AS nb,
    CAST(coalesce(sum(q) FILTER (g = 'click'), 0) AS BIGINT) AS sa,
    CAST(coalesce(sum(q) FILTER (g = 'purchase'), 0) AS BIGINT) AS sb,
    coalesce(sum(q * q) FILTER (g = 'click'), 0) AS qa,
    coalesce(sum(q * q) FILTER (g = 'purchase'), 0) AS qb
  FROM v),
m AS (
  SELECT na, nb,
    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
    (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
       / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS va,
    (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
       / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vb
  FROM agg WHERE na >= 2 AND nb >= 2),
s AS (
  SELECT na, nb, ma, mb,
    va / CAST(na AS DOUBLE) AS sea,
    vb / CAST(nb AS DOUBLE) AS seb
  FROM m)
SELECT
  coalesce((SELECT na FROM s), (SELECT na FROM agg)) AS n_a,
  coalesce((SELECT nb FROM s), (SELECT nb FROM agg)) AS n_b,
  (SELECT CASE WHEN sea + seb > 0 THEN
     round((ma - mb) / sqrt(sea + seb), 6) + 0.0 END FROM s) AS t_welch,
  (SELECT CASE WHEN sea + seb > 0 THEN
     round(((sea + seb) * (sea + seb))
       / (sea * sea / CAST(na - 1 AS DOUBLE)
          + seb * seb / CAST(nb - 1 AS DOUBLE)), 6) + 0.0
   END FROM s) AS df_welch
"""


def q_mcnemar_test(spark, sf_dir):
    """McNemar's paired test: clicked-ever vs purchased-ever per user
    (profile.mcnemar_paired) — pure integers, the statistic reported
    in exact 2^20 micro-units via integer division; no double, no
    rounding anywhere."""
    from inception_eventstore_spark.operators.profile import (
        mcnemar_paired,
    )

    return mcnemar_paired(_t(spark, sf_dir, "events"))


_MCNEMAR_ORACLE = """
WITH per AS (
  SELECT user_id,
    CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      AS BIGINT) AS a,
    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS b
  FROM events GROUP BY user_id),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS bd,
    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS cd
  FROM per)
SELECT n AS n_users, bd AS b_disc, cd AS c_disc,
  CASE WHEN bd + cd > 0 THEN
    CAST((bd - cd) * (bd - cd) * 1048576 // (bd + cd) AS BIGINT)
  END AS chi2_u
FROM agg
"""


def q_kendall_tau_daily(spark, sf_dir):
    """Kendall τ-b between daily volume and daily distinct users
    (profile.kendall_tau_daily): the bounded day axis crosses to the
    driver (km pattern) for exact all-pairs concordance counting;
    tau reported as floor-ppm of a bit-identical double — no round()
    half-boundary."""
    from inception_eventstore_spark.operators.profile import (
        kendall_tau_daily,
    )

    return kendall_tau_daily(_t(spark, sf_dir, "events"))


_KENDALL_ORACLE = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x,
    CAST(count(DISTINCT user_id) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
pr AS (
  SELECT d1.x AS x1, d1.y AS y1, d2.x AS x2, d2.y AS y2
  FROM d d1 JOIN d d2 ON d1.day < d2.day),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
    CAST(coalesce(sum(CASE WHEN x1 <> x2 AND y1 <> y2
      AND (x1 - x2) * (y1 - y2) > 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS nc,
    CAST(coalesce(sum(CASE WHEN x1 <> x2 AND y1 <> y2
      AND (x1 - x2) * (y1 - y2) < 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS nd
  FROM pr),
tx AS (SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0) AS BIGINT)
    AS tie_x FROM (SELECT count(*) AS t FROM d GROUP BY x)),
ty AS (SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0) AS BIGINT)
    AS tie_y FROM (SELECT count(*) AS t FROM d GROUP BY y))
SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_days,
  n0 AS n_pairs, nc AS concordant, nd AS discordant,
  tie_x, tie_y,
  CASE WHEN n0 - tie_x > 0 AND n0 - tie_y > 0 THEN
    CAST(floor(CAST(nc - nd AS DOUBLE) * 1000000.0
      / sqrt(CAST(n0 - tie_x AS DOUBLE) * CAST(n0 - tie_y AS DOUBLE)))
      AS BIGINT)
  END AS tau_ppm
FROM agg, tx, ty
"""


QUERIES.update({
    "anova_oneway": QueryDef(q_anova_oneway, _ANOVA_ORACLE),
    "welch_ttest": QueryDef(q_welch_ttest, _WELCH_ORACLE),
    "mcnemar_test": QueryDef(q_mcnemar_test, _MCNEMAR_ORACLE),
    "kendall_tau_daily": QueryDef(q_kendall_tau_daily, _KENDALL_ORACLE),
})


def q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard, signup→purchase, right-censored
    at the last event (funnel.nelson_aalen_hazard) — the additive twin
    of km_survival on identical definitions; the estimate is the exact
    integer recurrence H_i = H_{i-1} + div(d_i·10^9, n_i) in ppb,
    replayed by the oracle as a windowed sum of the identical integer
    terms (the increments are independent, unlike KM's product)."""
    from inception_eventstore_spark.operators import funnel as FU

    return FU.nelson_aalen_hazard(
        _t(spark, sf_dir, "events"),
        start_type="signup", event_type="purchase",
    )


_NELSON_AALEN_ORACLE = """
WITH starts AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
lasts AS (SELECT user_id, max(ts) AS tmax FROM events GROUP BY user_id),
fe AS (
  SELECT e.user_id, min(e.ts) AS te
  FROM events e JOIN starts s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.t0
  GROUP BY e.user_id),
per_user AS (
  SELECT CASE WHEN fe.te IS NOT NULL
      THEN datediff('day', CAST(s.t0 AS DATE), CAST(fe.te AS DATE))
      ELSE datediff('day', CAST(s.t0 AS DATE), CAST(l.tmax AS DATE))
    END AS d,
    CASE WHEN fe.te IS NOT NULL THEN 1 ELSE 0 END AS obs
  FROM starts s JOIN lasts l ON s.user_id = l.user_id
  LEFT JOIN fe ON s.user_id = fe.user_id),
per_day AS (
  SELECT d, CAST(sum(obs) AS BIGINT) AS de,
    CAST(sum(1 - obs) AS BIGINT) AS ce
  FROM per_user GROUP BY d),
risk AS (
  SELECT d, de, ce,
    (SELECT count(*) FROM per_user)
      - coalesce(sum(de + ce) OVER (ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS n_risk
  FROM per_day)
SELECT d AS t_days, CAST(n_risk AS BIGINT) AS n_risk, de AS n_events,
  CAST(sum(CAST(de AS HUGEINT) * 1000000000 // n_risk)
    OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
    AS hazard_ppb
FROM risk WHERE de > 0
"""


def q_forecast_accuracy(spark, sf_dir):
    """MASE + sMAPE scorecard of the seasonal-naive baseline on daily
    event counts (timeseries.forecast_accuracy): day-offset self-joins
    of the bounded rollup (no ordered window), both metrics exact
    integers (ppm / per-day-quantized micro-units)."""
    from inception_eventstore_spark.operators.timeseries import (
        forecast_accuracy,
    )

    return forecast_accuracy(_t(spark, sf_dir, "events"))


_FORECAST_ACC_ORACLE = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
e7 AS (SELECT a.x AS x, b.x AS f FROM d a JOIN d b ON a.day = b.day + 7),
e1 AS (SELECT a.x AS x, b.x AS p FROM d a JOIN d b ON a.day = b.day + 1),
a7 AS (
  SELECT CAST(count(*) AS BIGINT) AS n7,
    CAST(coalesce(sum(abs(x - f)), 0) AS BIGINT) AS s7,
    CAST(coalesce(sum(CASE WHEN x + f > 0
      THEN 2 * abs(x - f) * 1048576 // (x + f) ELSE 0 END), 0)
      AS BIGINT) AS su
  FROM e7),
a1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n1,
    CAST(coalesce(sum(abs(x - p)), 0) AS BIGINT) AS s1
  FROM e1),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
SELECT n_days, n7 AS n_eval, n1 AS n_naive,
  CASE WHEN n7 > 0 AND s1 > 0 THEN
    CAST(s7 * n1 * 1000000 // (s1 * n7) AS BIGINT) END AS mase_ppm,
  CASE WHEN n7 > 0 THEN CAST(su // n7 AS BIGINT) END AS smape_mean_u
FROM nd, a7, a1
"""


def q_ql_jelinek_mercer(spark, sf_dir):
    """Jelinek-Mercer-smoothed query likelihood top-10 for the bm25
    query terms (retrieval.ql_jelinek_mercer_topk) — the third family
    member next to BM25 and Dirichlet: constant-λ interpolation, the
    long-query smoothing choice; same postings-narrowing scale shape
    and ln-of-rational 6-dp determinism."""
    from inception_eventstore_spark.operators.retrieval import (
        ql_jelinek_mercer_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    return ql_jelinek_mercer_topk(
        docs, ["spark", "merge", "window"], k=10, lam=0.1
    )


_QL_JM_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
st AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS sdl FROM toks),
ex AS (SELECT doc_id, unnest(tk) AS token FROM toks),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM ex
  WHERE token IN ('merge', 'spark', 'window') GROUP BY 1, 2),
cf AS (
  SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM tf
  GROUP BY 1 HAVING sum(tf) > 0),
dls AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks),
grid AS (
  SELECT dls.doc_id, dls.dl, cf.token, cf.cf FROM dls CROSS JOIN cf),
j AS (
  SELECT g.doc_id, g.dl, g.cf, COALESCE(tf.tf, 0) AS tf
  FROM grid g
  LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.token = g.token),
s AS (
  SELECT doc_id,
    ln((CASE WHEN dl > 0 THEN
          0.9 * CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE)
        ELSE 0.0 END)
       + 0.1 * CAST(cf AS DOUBLE)
         / CAST((SELECT sdl FROM st) AS DOUBLE)) AS lp
  FROM j)
SELECT doc_id, round(sum(lp), 6) AS score
FROM s GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 10
"""


def q_target_encoding(spark, sf_dir):
    """Out-of-fold target encoding of event_type by value
    (sampling.target_encode_kfold over grouped_kfold's content-keyed
    user folds): the bounded (category, fold) encoding table in exact
    2^20 micro-units — no doubles, no leakage."""
    from inception_eventstore_spark.operators.sampling import (
        target_encode_kfold,
    )

    return target_encode_kfold(
        _t(spark, sf_dir, "events"), "event_type", "value",
        k=5, group_col="user_id",
    )


_TARGET_ENC_ORACLE = """
WITH folded AS (
  SELECT event_type AS cat, value,
    CAST(('0x' || substring(md5('kfold-v1:'
      || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS fold
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
cells AS (
  SELECT cat, CAST(fold AS BIGINT) AS fold,
    CAST(count(*) AS BIGINT) AS n_in,
    CAST(sum(CAST(floor(value * 1048576.0) AS BIGINT)) AS BIGINT)
      AS s_in
  FROM folded GROUP BY 1, 2),
tot AS (
  SELECT cat, CAST(sum(n_in) AS BIGINT) AS n_tot,
    CAST(sum(s_in) AS BIGINT) AS s_tot
  FROM cells GROUP BY 1)
SELECT c.cat, c.fold, c.n_in,
  CAST(t.n_tot - c.n_in AS BIGINT) AS n_out,
  CASE WHEN t.n_tot > c.n_in THEN
    CAST((t.s_tot - c.s_in) // (t.n_tot - c.n_in) AS BIGINT)
  END AS enc_u
FROM cells c JOIN tot t USING (cat)
"""


def q_hits_custsupp(spark, sf_dir):
    """4-iteration HITS over the directed customer→supplier purchase
    graph (graph.hits_scores): hubs = buyers that reach strong
    suppliers, authorities = suppliers bought by strong buyers. The
    deterministic dmax-normalized integer recurrence is replayed by
    the oracle's unrolled materialized CTE steps."""
    from inception_eventstore_spark.operators import graph as G

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    edges = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return G.hits_scores(edges, iterations=4)


def _hits_oracle() -> str:
    head = """
WITH e AS MATERIALIZED (
  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
deg AS (SELECT node, count(*) AS d FROM (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e) GROUP BY 1),
dm AS (SELECT CAST(max(d) AS BIGINT) AS dmax FROM deg),
h0 AS (SELECT node, CAST(1073741824 AS BIGINT) AS h FROM nodes)"""
    step = """,
a{it} AS MATERIALIZED (
  SELECT nodes.node, CAST(coalesce(s.a, 0) AS BIGINT) AS a
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node,
      CAST(sum(h) // (SELECT dmax FROM dm) AS BIGINT) AS a
    FROM e JOIN h{prev} ON e.src = h{prev}.node GROUP BY e.dst) s
  USING (node)),
h{it} AS MATERIALIZED (
  SELECT nodes.node, CAST(coalesce(s.h, 0) AS BIGINT) AS h
  FROM nodes LEFT JOIN (
    SELECT e.src AS node,
      CAST(sum(a) // (SELECT dmax FROM dm) AS BIGINT) AS h
    FROM e JOIN a{it} ON e.dst = a{it}.node GROUP BY e.src) s
  USING (node))"""
    body = head + "".join(
        step.format(it=i, prev=i - 1) for i in (1, 2, 3, 4)
    )
    return body + (
        "\nSELECT h4.node, CAST(h4.h AS BIGINT) AS hub_u,"
        " CAST(a4.a AS BIGINT) AS auth_u\n"
        "FROM h4 JOIN a4 USING (node)"
    )


QUERIES.update({
    "nelson_aalen": QueryDef(q_nelson_aalen, _NELSON_AALEN_ORACLE),
    "forecast_accuracy": QueryDef(
        q_forecast_accuracy, _FORECAST_ACC_ORACLE
    ),
    "retrieval_ql_jm": QueryDef(q_ql_jelinek_mercer, _QL_JM_ORACLE),
    "target_encoding": QueryDef(q_target_encoding, _TARGET_ENC_ORACLE),
    "hits_custsupp": QueryDef(q_hits_custsupp, _hits_oracle()),
})


def q_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe robust variance-equality test across event types
    (profile.brown_forsythe): ANOVA on |q − group-low-median| with the
    median from a two-phase shard rank; shared exact-integer moment
    machinery and fixed-order F."""
    from inception_eventstore_spark.operators.profile import (
        brown_forsythe,
    )

    return brown_forsythe(_t(spark, sf_dir, "events"))


_BROWN_FORSYTHE_ORACLE = """
WITH v AS (
  SELECT event_type AS g,
    CAST(floor(value * 1048576.0) AS BIGINT) AS q, event_id AS id
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
rk AS (
  SELECT g, q,
    row_number() OVER (PARTITION BY g ORDER BY q, id) AS r,
    count(*) OVER (PARTITION BY g) AS ng
  FROM v),
med AS (SELECT g, q AS med FROM rk WHERE r = (ng + 1) // 2),
d AS (SELECT v.g, abs(v.q - med.med) AS q FROM v JOIN med USING (g)),
grp AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_g,
    CAST(sum(q) AS BIGINT) AS s_g,
    sum(q * q) AS q2_g
  FROM d GROUP BY 1),
agg AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n,
    CAST(count(*) AS BIGINT) AS k,
    CAST(sum(s_g) AS BIGINT) AS s,
    sum(q2_g) AS q2,
    sum(CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
        / CAST(n_g AS DOUBLE) * 1048576.0) AS HUGEINT)) AS a_u
  FROM grp)
SELECT n AS n_rows, k AS k_groups,
  CASE WHEN k >= 2 AND n > k AND (q2 * 1048576 - a_u) > 0 THEN
    round((CAST(a_u - CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             / CAST(n AS DOUBLE) * 1048576.0) AS HUGEINT) AS DOUBLE)
           / CAST(k - 1 AS DOUBLE))
          / (CAST(q2 * 1048576 - a_u AS DOUBLE)
             / CAST(n - k AS DOUBLE)), 6) + 0.0
  END AS f_bf
FROM agg
"""


def q_ece_calibration(spark, sf_dir):
    """Expected calibration error of the quality model at predicting
    English (scoring.ece_report over calibration_curve's bins): the
    one-number rollup — per-bin gaps re-quantized to integer ppm, the
    weighted sum and final division exact BIGINT arithmetic."""
    from inception_eventstore_spark.operators import scoring as SC

    docs = _t(spark, sf_dir, "documents")
    scored = SC.linear_quality_score(docs, dim=64).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return SC.ece_report(
        scored.withColumn("is_en", F.col("lang") == "en"),
        "quality_prob",
        "is_en",
        bins=10,
    )


_ECE_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
bk AS (SELECT doc_id, unnest(list_transform(tk, tok ->
  CAST(('0x' || substring(md5('bow-v1:' || tok), 1, 15)) AS BIGINT)
  % 64)) AS bucket FROM t),
c AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
w AS (SELECT i AS bucket,
  (CAST(('0x' || substring(md5('qw:v1:' || CAST(i AS VARCHAR)), 1, 15))
        AS BIGINT) - 576460752303423488) / 576460752303423488.0 AS w
  FROM range(0, 64) t(i)),
s AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(sum(w * cnt)
    / sum(cnt)))), 6) AS p
  FROM c JOIN w ON c.bucket = w.bucket GROUP BY doc_id),
lab AS (SELECT s.p,
    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
    least(CAST(floor(s.p * 10) AS INTEGER), 9) AS bin
  FROM s JOIN documents d ON s.doc_id = d.doc_id
  WHERE s.p IS NOT NULL),
g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS n_pos,
    round(avg(p), 6) AS mean_prob
  FROM lab GROUP BY bin),
gp AS (SELECT n,
    CAST(round(abs(round(mean_prob
      - CAST(CAST((n_pos * 1000000) // n AS BIGINT) AS DOUBLE) / 1e6,
      6)) * 1000000.0) AS BIGINT) AS gap_ppm
  FROM g)
SELECT CAST(sum(n) AS BIGINT) AS n,
  CAST(count(*) AS BIGINT) AS n_bins_occupied,
  CAST(sum(n * gap_ppm) // sum(n) AS BIGINT) AS ece_ppm
FROM gp
"""


def q_borda_fusion(spark, sf_dir):
    """Borda-count fusion of the same lexical (BM25) and semantic
    (exact top-k) rankings rrf_fusion combines
    (retrieval.borda_fuse): linear positional points, pure integer
    end-to-end — the social-choice combiner beside RRF's hyperbolic
    weighting."""
    from inception_eventstore_spark.operators import retrieval as RT
    from inception_eventstore_spark.operators import similarity as S

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qdf = local_df(
        spark,
        [
            (1, ["spark", "merge"]),
            (2, ["window", "key"]),
            (3, ["batch"]),
        ],
        "query_id long, terms array<string>",
    )
    lexical = RT.bm25_multi_topk(docs, qdf, k=10).select(
        "query_id", F.col("doc_id").alias("item_id"), "rank"
    )
    qrows = (
        emb.where(F.col("vec_id").isin(1, 2, 3))
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [
        (r["vec_id"], [float(x) for x in r["embedding"]]) for r in qrows
    ]
    semantic = S.multi_query_topk(
        emb.where(F.col("vec_id") >= 5), queries, k=10
    ).select("query_id", F.col("vec_id").alias("item_id"), "rank")
    return (
        RT.borda_fuse([lexical, semantic], list_size=10, top_n=10)
        .orderBy("query_id", "fused_rank")
    )


def _borda_fusion_oracle() -> str:
    """The rrf_fusion oracle with the combiner swapped: same lexical +
    semantic ranked lists (byte-identical CTE prefix, asserted), Borda
    points 10 − rank + 1 instead of reciprocal ppb."""
    base = _rrf_fusion_oracle()
    old_f = """f AS (SELECT query_id, item_id,
    CAST(sum(1000000000 // (60 + rank)) AS BIGINT) AS rrf_ppb,
    CAST(count(*) AS BIGINT) AS n_lists
  FROM u GROUP BY query_id, item_id)
SELECT query_id, item_id, rrf_ppb, n_lists,
  CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY rrf_ppb DESC, item_id) AS BIGINT) AS fused_rank
FROM f"""
    new_f = """f AS (SELECT query_id, item_id,
    CAST(sum(10 - rank + 1) AS BIGINT) AS borda_points,
    CAST(count(*) AS BIGINT) AS n_lists
  FROM u GROUP BY query_id, item_id)
SELECT query_id, item_id, borda_points, n_lists,
  CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY borda_points DESC, item_id) AS BIGINT) AS fused_rank
FROM f"""
    assert old_f in base, "rrf oracle combiner block moved"
    return base.replace(old_f, new_f)


def q_multimodal_bmp(spark, sf_dir):
    """BMP (24-bit BI_RGB DIB) ingest audit (multimodal.bmp_catalog):
    every payload REALLY decoded — header walk, padded odd-width
    scanlines, bottom-up AND top-down row order — and fingerprinted
    by the md5 of the exact RGB pixel block; one Arrow mapInPandas
    kernel over the binary column."""
    from inception_eventstore_spark.operators import multimodal as MM

    assets = local_df(
        spark,
        [(i, bytearray(p)) for i, p in MM.synthetic_bmp_asset_rows(64)],
        "asset_id long, payload binary",
    )
    return MM.bmp_catalog(assets).orderBy("asset_id")


def _bmp_oracle() -> str:
    import hashlib

    from inception_eventstore_spark.operators.multimodal import (
        decode_bmp,
        synthetic_bmp_asset_rows,
    )

    values = []
    for aid, payload in synthetic_bmp_asset_rows(64):
        px = decode_bmp(payload)
        values.append(
            f"({aid}, {px.shape[1]}, {px.shape[0]}, "
            f"'{hashlib.md5(px.tobytes()).hexdigest()}')"
        )
    return (
        "SELECT CAST(c0 AS BIGINT) AS asset_id, "
        "CAST(c1 AS BIGINT) AS width, CAST(c2 AS BIGINT) AS height, "
        "c3 AS pixel_md5 "
        f"FROM (VALUES {', '.join(values)}) t(c0, c1, c2, c3) "
        "ORDER BY asset_id"
    )


QUERIES.update({
    "brown_forsythe": QueryDef(q_brown_forsythe, _BROWN_FORSYTHE_ORACLE),
    "ece_calibration": QueryDef(q_ece_calibration, _ECE_ORACLE),
    "borda_fusion": QueryDef(q_borda_fusion, _borda_fusion_oracle()),
    "multimodal_bmp": QueryDef(q_multimodal_bmp, _bmp_oracle()),
})


def q_cohens_d(spark, sf_dir):
    """Cohen's d + Hedges' g between click and purchase values
    (profile.cohens_d_effect) — the effect-size companion of
    welch_ttest on the same exact-integer moment machinery."""
    from inception_eventstore_spark.operators.profile import (
        cohens_d_effect,
    )

    return cohens_d_effect(_t(spark, sf_dir, "events"))


_COHENS_D_ORACLE = """
WITH v AS (
  SELECT event_type AS g, CAST(floor(value * 1048576.0) AS BIGINT) AS q
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
agg AS (
  SELECT
    CAST(count(*) FILTER (g = 'click') AS BIGINT) AS na,
    CAST(count(*) FILTER (g = 'purchase') AS BIGINT) AS nb,
    CAST(coalesce(sum(q) FILTER (g = 'click'), 0) AS BIGINT) AS sa,
    CAST(coalesce(sum(q) FILTER (g = 'purchase'), 0) AS BIGINT) AS sb,
    coalesce(sum(q * q) FILTER (g = 'click'), 0) AS qa,
    coalesce(sum(q * q) FILTER (g = 'purchase'), 0) AS qb
  FROM v),
m AS (
  SELECT na, nb,
    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
    (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
       / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS va,
    (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
       / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vb
  FROM agg WHERE na >= 2 AND nb >= 2),
s AS (
  SELECT na, nb, ma, mb,
    (CAST(na - 1 AS DOUBLE) * va + CAST(nb - 1 AS DOUBLE) * vb)
      / CAST(na + nb - 2 AS DOUBLE) AS sp2
  FROM m)
SELECT
  coalesce((SELECT na FROM s), (SELECT na FROM agg)) AS n_a,
  coalesce((SELECT nb FROM s), (SELECT nb FROM agg)) AS n_b,
  (SELECT CASE WHEN sp2 > 0 THEN
     round((ma - mb) / sqrt(sp2), 6) + 0.0 END FROM s) AS cohens_d,
  (SELECT CASE WHEN sp2 > 0 THEN
     round(((ma - mb) / sqrt(sp2))
       * (1.0 - 3.0 / (4.0 * CAST(na + nb AS DOUBLE) - 9.0)), 6)
     + 0.0 END FROM s) AS hedges_g
"""


def q_rank_overlap_rbo(spark, sf_dir):
    """Rank-biased overlap between the BM25 and Dirichlet-QL top-10
    for the same query (retrieval.rank_overlap_rbo): exact integer
    ppm — each depth's term is div(ov·9^(d-1)·10^6, d·10^d); the two
    bounded lists fold driver-side."""
    from inception_eventstore_spark.operators.retrieval import (
        rank_overlap_rbo,
    )

    return rank_overlap_rbo(
        _t(spark, sf_dir, "documents"),
        ["spark", "merge", "window"], k=10, mu=2000.0,
    )


def _rbo_oracle() -> str:
    pows = ", ".join(
        f"({d}, {9 ** (d - 1) * 10**6}, {d * 10**d})"
        for d in range(1, 11)
    )
    return f"""
WITH kk AS (SELECT CAST(1.2 AS DOUBLE) AS k1, CAST(0.75 AS DOUBLE) AS b),
toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
st AS (SELECT count(*) AS n, sum(len(tk)) AS sdl FROM toks),
ex AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS token FROM toks),
tf AS (
  SELECT doc_id, token, count(*) AS tf, any_value(dl) AS dl
  FROM ex WHERE token IN ('merge', 'spark', 'window')
  GROUP BY doc_id, token),
idf AS (
  SELECT token,
    ln(1.0 + ((SELECT CAST(n AS DOUBLE) FROM st) - count(DISTINCT doc_id) + 0.5)
             / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf GROUP BY token),
bm_sc AS (
  SELECT doc_id,
    round(sum(idf * (tf * (kk.k1 + 1.0))
              / (tf + kk.k1 * ((1.0 - kk.b)
                 + kk.b * dl / ((SELECT CAST(sdl AS DOUBLE) FROM st)
                               / (SELECT n FROM st))))), 6) AS score
  FROM tf JOIN idf USING (token), kk GROUP BY doc_id),
bm AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY score DESC, doc_id) AS r
  FROM bm_sc QUALIFY r <= 10),
cf AS (
  SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM tf
  GROUP BY 1 HAVING sum(tf) > 0),
dls AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks),
grid AS (
  SELECT dls.doc_id, dls.dl, cf.token, cf.cf FROM dls CROSS JOIN cf),
jj AS (
  SELECT g.doc_id, g.dl, g.cf, COALESCE(tf.tf, 0) AS tf
  FROM grid g
  LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.token = g.token),
ql_sc AS (
  SELECT doc_id, round(sum(
    ln((CAST(tf AS DOUBLE)
        + 2000.0 * CAST(cf AS DOUBLE)
          / CAST((SELECT sdl FROM st) AS DOUBLE))
       / (CAST(dl AS DOUBLE) + 2000.0))), 6) AS score
  FROM jj GROUP BY doc_id),
ql AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY score DESC, doc_id) AS r
  FROM ql_sc QUALIFY r <= 10),
pr AS (
  SELECT bm.r AS ra, ql.r AS rb FROM bm JOIN ql USING (doc_id)),
pows AS (SELECT * FROM (VALUES {pows}) t(d, w9, w10)),
ov AS (
  SELECT p.d, p.w9, p.w10,
    CAST(coalesce(sum(CASE WHEN pr.ra <= p.d AND pr.rb <= p.d
      THEN 1 ELSE 0 END), 0) AS BIGINT) AS ov
  FROM pows p LEFT JOIN pr ON TRUE
  GROUP BY p.d, p.w9, p.w10)
SELECT CAST(10 AS BIGINT) AS k,
  (SELECT CAST(count(*) AS BIGINT) FROM pr) AS overlap_k,
  CAST(sum(ov * w9 // w10) AS BIGINT) AS rbo_ppm
FROM ov
"""


QUERIES.update({
    "cohens_d": QueryDef(q_cohens_d, _COHENS_D_ORACLE),
    "rank_overlap_rbo": QueryDef(q_rank_overlap_rbo, _rbo_oracle()),
})


# ----------------------------------------------------------------------
# Round-10 additions
# ----------------------------------------------------------------------


def q_ann_recall_audit(spark, sf_dir):
    """Recall@10 audit of every approximate probe strategy (lsh /
    pinned-quantizer ivf / sq8 asymmetric) against exact brute force
    on a 2-query deterministic sample (similarity.ann_recall_audit) —
    the go/no-go gate before trusting an index at scale. The oracle
    replays ALL FOUR searches and the recall arithmetic in SQL, so the
    measured recall itself is the value under oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = (
        emb.where(F.col("vec_id").isin(0, 33)).orderBy("vec_id").collect()
    )
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in qrows
    ]
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id").between(1, 16))
        .orderBy("vec_id")
        .collect()
    ]
    return S.ann_recall_audit(
        emb.where(F.col("vec_id") != 0),
        queries,
        k=10,
        n_planes=6,
        seed=7,
        probe_radius=2,
        centroids=cents,
        n_probe=3,
    )


def _ann_recall_audit_oracle(
    n_planes: int = 6, dim: int = 64, seed: int = 7,
    radius: int = 2, n_probe: int = 3, k: int = 10,
) -> str:
    """Replays the full audit: literal-plane LSH signatures + ball
    probe, pinned-centroid IVF assignment + n_probe cells, corpus-
    bounds SQ8 encode/dequantize, exact scan, and the per-strategy
    micro-averaged recall — every ranking by (round(dist,6), id), the
    fold-L2 idiom of _SIM_TOPK_IVF_ORACLE."""
    from inception_eventstore_spark.operators.similarity import (
        _plane_signs,
    )

    signs = _plane_signs(n_planes, dim, seed)

    def sig_expr(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_inner_product({col}, "
            f"[{', '.join(repr(float(s)) for s in signs[p])}]) > 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )

    def l2(a: str, b: str) -> str:
        return (
            f"sqrt(list_reduce(list_prepend(0.0, "
            f"list_transform(range(1, len({a}) + 1), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
            f"(acc, x) -> acc + x))"
        )

    return f"""
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
qs AS (SELECT vec_id AS qid, ev AS q, {sig_expr('ev')} AS qsig
  FROM v WHERE vec_id IN (0, 33)),
corpus AS (SELECT vec_id, ev, {sig_expr('ev')} AS sig
  FROM v WHERE vec_id <> 0),
dist AS (SELECT qs.qid, c.vec_id,
    round({l2('c.ev', 'qs.q')}, 6) AS dist, c.sig, qs.qsig
  FROM corpus c CROSS JOIN qs),
exact AS (SELECT qid, vec_id FROM (
  SELECT qid, vec_id, row_number() OVER (
    PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dist)
  WHERE rn <= {k}),
lsh AS (SELECT qid, vec_id FROM (
  SELECT qid, vec_id, row_number() OVER (
    PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dist
  WHERE bit_count(xor(CAST(sig AS BIGINT), CAST(qsig AS BIGINT)))
        <= {radius})
  WHERE rn <= {k}),
cent AS (SELECT vec_id - 1 AS cell, ev AS cv FROM v
  WHERE vec_id BETWEEN 1 AND 16),
asg AS (SELECT vec_id, cell FROM (
  SELECT c.vec_id, ct.cell, row_number() OVER (
    PARTITION BY c.vec_id ORDER BY {l2('c.ev', 'ct.cv')}, ct.cell) AS rn
  FROM corpus c CROSS JOIN cent ct) WHERE rn = 1),
pc AS (SELECT qid, cell FROM (
  SELECT qs.qid, ct.cell, row_number() OVER (
    PARTITION BY qs.qid ORDER BY {l2('ct.cv', 'qs.q')}, ct.cell) AS rn
  FROM cent ct CROSS JOIN qs) WHERE rn <= {n_probe}),
ivf AS (SELECT qid, vec_id FROM (
  SELECT d.qid, d.vec_id, row_number() OVER (
    PARTITION BY d.qid ORDER BY d.dist, d.vec_id) AS rn
  FROM dist d JOIN asg USING (vec_id)
  JOIN pc ON d.qid = pc.qid AND asg.cell = pc.cell)
  WHERE rn <= {k}),
exx AS (SELECT vec_id, generate_subscripts(ev, 1) - 1 AS dim,
  unnest(ev) AS x FROM corpus),
b AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM exx GROUP BY dim),
dqe AS (SELECT vec_id, exx.dim,
  lo + (CASE WHEN hi > lo THEN least(255, greatest(0,
          CAST(floor((x - lo) / (hi - lo) * 256.0) AS INT)))
        ELSE 0 END + 0.5) * (hi - lo) / 256.0 AS xd
  FROM exx JOIN b ON exx.dim = b.dim),
dqv AS (SELECT vec_id, list(xd ORDER BY dim) AS dv FROM dqe
  GROUP BY vec_id),
sq8 AS (SELECT qid, vec_id FROM (
  SELECT qs.qid, dqv.vec_id, row_number() OVER (
    PARTITION BY qs.qid
    ORDER BY round({l2('dqv.dv', 'qs.q')}, 6), dqv.vec_id) AS rn
  FROM dqv CROSS JOIN qs) WHERE rn <= {k}),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
hits AS (
  SELECT 'lsh' AS strategy, CAST(count(*) AS BIGINT) AS n_hit
    FROM lsh JOIN exact USING (qid, vec_id)
  UNION ALL SELECT 'ivf', CAST(count(*) AS BIGINT)
    FROM ivf JOIN exact USING (qid, vec_id)
  UNION ALL SELECT 'sq8', CAST(count(*) AS BIGINT)
    FROM sq8 JOIN exact USING (qid, vec_id))
SELECT strategy, CAST(2 AS BIGINT) AS n_queries, ne.n_exact,
  hits.n_hit, round(hits.n_hit * 1.0 / ne.n_exact, 6) AS recall
FROM hits CROSS JOIN ne
"""


QUERIES.update({
    "ann_recall_audit": QueryDef(
        q_ann_recall_audit, _ann_recall_audit_oracle()
    ),
})


def q_bpe_learn_merges(spark, sf_dir):
    """Six rounds of BPE merge learning over the documents vocabulary
    (lm.bpe_learn_merges): argmax weighted pair per round, previous
    merges applied greedily before re-pairing. The oracle unrolls the
    identical six rounds as materialized CTEs, applying each learned
    merge with the run-parity rule (for a = b, a run of k symbols
    merges at even offsets — exactly the non-consuming-lookaround
    regex semantics of the Spark side)."""
    from inception_eventstore_spark.operators import lm as LM

    return LM.bpe_learn_merges(
        _t(spark, sf_dir, "documents"), n_merges=6
    )


def _bpe_learn_oracle(n: int = 6) -> str:
    head = f"""
WITH vocab AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest({_DUCK_TOKENS}) AS w FROM documents) GROUP BY w),
s1 AS MATERIALIZED (
  SELECT w, freq, generate_subscripts(s, 1) AS i, unnest(s) AS sym FROM (
    SELECT w, freq, list_append(string_split(w, ''), '</w>') AS s
    FROM vocab))"""
    pick = """,
m{r} AS MATERIALIZED (
  SELECT sa, sb, cnt FROM (
    SELECT x.sym AS sa, y.sym AS sb, CAST(sum(x.freq) AS BIGINT) AS cnt
    FROM s{r} x JOIN s{r} y ON x.w = y.w AND y.i = x.i + 1
    GROUP BY 1, 2)
  ORDER BY cnt DESC, sa, sb LIMIT 1)"""
    apply = """,
k{r} AS MATERIALIZED (
  SELECT w, i FROM (
    SELECT w, i, row_number() OVER (
      PARTITION BY w, grp ORDER BY i) AS rn
    FROM (
      SELECT x.w, x.i,
        x.i - row_number() OVER (PARTITION BY x.w ORDER BY x.i) AS grp
      FROM s{r} x JOIN s{r} y ON x.w = y.w AND y.i = x.i + 1, m{r}
      WHERE x.sym = m{r}.sa AND y.sym = m{r}.sb))
  WHERE rn % 2 = 1),
s{r1} AS MATERIALIZED (
  SELECT w, freq, row_number() OVER (PARTITION BY w ORDER BY i) AS i, sym
  FROM (
    SELECT s.w, s.freq, s.i,
      CASE WHEN k1.i IS NOT NULL
        THEN (SELECT sa || sb FROM m{r}) ELSE s.sym END AS sym
    FROM s{r} s
    LEFT JOIN k{r} k1 ON s.w = k1.w AND s.i = k1.i
    LEFT JOIN k{r} k2 ON s.w = k2.w AND s.i = k2.i + 1
    WHERE k2.i IS NULL))"""
    body = head
    for r in range(1, n + 1):
        body += pick.format(r=r)
        if r < n:
            body += apply.format(r=r, r1=r + 1)
    tail = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, sa AS sym_a, "
        f"sb AS sym_b, cnt AS pair_count FROM m{r}"
        for r in range(1, n + 1)
    )
    return body + "\n" + tail


QUERIES.update({
    "bpe_learn_merges": QueryDef(q_bpe_learn_merges, _bpe_learn_oracle()),
})


def q_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank z on paired per-user value totals before
    vs after the global time midpoint (profile.wilcoxon_signed_rank):
    2^20-quantized integer differences, doubled average ranks via the
    two-phase shard cumsum, exact-integer tie correction, z floored to
    ppm. The oracle replays the identical rank arithmetic with a
    sequential SQL window."""
    from inception_eventstore_spark.operators.profile import (
        wilcoxon_signed_rank,
    )

    return wilcoxon_signed_rank(_t(spark, sf_dir, "events"))


_WILCOXON_ORACLE = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS tus, value FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL),
bnd AS (SELECT (min(tus) + max(tus)) // 2 AS mid FROM ev),
pu AS (
  SELECT user_id,
    CAST(floor(round(sum(CASE WHEN tus >= (SELECT mid FROM bnd)
        THEN value ELSE 0 END), 6) * 1048576.0) AS BIGINT)
    - CAST(floor(round(sum(CASE WHEN tus < (SELECT mid FROM bnd)
        THEN value ELSE 0 END), 6) * 1048576.0) AS BIGINT) AS d
  FROM ev GROUP BY user_id),
grp AS (
  SELECT abs(d) AS ad, CAST(count(*) AS BIGINT) AS t,
    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tpos
  FROM pu WHERE d <> 0 GROUP BY 1),
st AS (
  SELECT t, tpos,
    2 * (sum(t) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING) - t)
      + t + 1 AS r2
  FROM grp),
agg AS (
  SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n,
    CAST(coalesce(sum(r2 * tpos), 0) AS BIGINT) AS s2,
    CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS tc
  FROM st)
SELECT n AS n_pairs, s2 AS s2_pos, tc AS tie_cube,
  CASE WHEN n > 0 AND (2 * n * (n + 1) * (2 * n + 1) - tc) > 0 THEN
    CAST(floor((2.0 * s2 - n * (n + 1))
      / sqrt((2 * n * (n + 1) * (2 * n + 1) - tc) / 3.0)
      * 1000000.0) AS BIGINT)
  ELSE NULL END AS z_ppm
FROM agg
"""


QUERIES.update({
    "wilcoxon_signed_rank": QueryDef(
        q_wilcoxon_signed_rank, _WILCOXON_ORACLE
    ),
})


def q_ngram_novelty(spark, sf_dir):
    """Train/test 3-gram novelty over an 80/20 portable-hash document
    split (decontaminate.ngram_novelty): distinct md5-60 gram sets per
    side, one full-outer join — the eval-split overlap gate. Oracle replays
    the split, the grams, the hash, and the ratio."""
    from inception_eventstore_spark.operators.decontaminate import (
        ngram_novelty,
    )
    from inception_eventstore_spark.operators.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"), seed="v1")
    return ngram_novelty(
        d.where(b < 800_000), d.where(b >= 800_000), n=3
    )


_NGRAM_NOVELTY_ORACLE = f"""
WITH lab AS (
  SELECT CAST(concat('0x', substr(md5('v1:' || CAST(doc_id AS VARCHAR)),
      1, 15)) AS BIGINT) % 1000000 < 800000 AS is_train,
    {_DUCK_TOKENS} AS tk
  FROM documents),
g AS (
  SELECT is_train, unnest([
      tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' '
        || tk[CAST(i AS INT) + 2]
      for i in generate_series(1, len(tk) - 2)]) AS gram
  FROM lab WHERE len(tk) >= 3),
gh AS (
  SELECT DISTINCT is_train,
    CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS h
  FROM g),
tr AS (SELECT h FROM gh WHERE is_train),
te AS (SELECT h FROM gh WHERE NOT is_train),
c AS (SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_train_grams,
  (SELECT CAST(count(*) AS BIGINT) FROM te) AS n_test_grams,
  (SELECT CAST(count(*) AS BIGINT) FROM te
     WHERE h NOT IN (SELECT h FROM tr)) AS n_novel)
SELECT n_train_grams, n_test_grams, n_novel,
  CASE WHEN n_test_grams > 0
    THEN round(n_novel * 1.0 / n_test_grams, 6) END AS novelty
FROM c
"""


QUERIES.update({
    "ngram_novelty": QueryDef(q_ngram_novelty, _NGRAM_NOVELTY_ORACLE),
})


def q_readability(spark, sf_dir):
    """Per-document Flesch reading ease (text.readability_scores):
    vowel-group syllable heuristic + sentence-run count, score floored
    to milli-units from a fixed-order double expression. Map-only, no
    shuffle; oracle recomputes every heuristic."""
    from inception_eventstore_spark.operators.text import (
        readability_scores,
    )

    return readability_scores(_t(spark, sf_dir, "documents"))


_READABILITY_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text, {_DUCK_TOKENS} AS tk FROM documents),
m AS (
  SELECT doc_id,
    CAST(len(tk) AS BIGINT) AS n_words,
    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
      AS BIGINT) AS n_sentences,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      + len(list_filter(tk, t -> NOT regexp_matches(t, '[aeiouy]')))
      AS BIGINT) AS n_syllables
  FROM d)
SELECT doc_id, n_words, n_sentences, n_syllables,
  CASE WHEN n_words > 0 THEN CAST(floor(
    (CAST(206.835 AS DOUBLE)
     - CAST(1.015 AS DOUBLE)
       * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
     - CAST(84.6 AS DOUBLE)
       * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
    * 1000.0) AS BIGINT) END AS flesch_milli
FROM m
"""


QUERIES.update({
    "readability": QueryDef(q_readability, _READABILITY_ORACLE),
})


def q_hill_tail_index(spark, sf_dir):
    """Hill tail-index of the document length distribution
    (profile.hill_tail_index, k=100): TakeOrdered top-101 lengths,
    rank-ordered driver ln fold, ppm floors; the oracle folds the
    identically-ordered list with list_reduce."""
    from inception_eventstore_spark.operators.profile import (
        hill_tail_index,
    )

    return hill_tail_index(
        _t(spark, sf_dir, "documents"), "n_chars", k=100
    )


_HILL_ORACLE = """
WITH v AS (
  SELECT CAST(n_chars AS BIGINT) AS x FROM documents WHERE n_chars > 0
  ORDER BY x DESC LIMIT 101),
r AS (SELECT x, row_number() OVER (ORDER BY x DESC) AS rn FROM v),
tail AS (SELECT CAST(x AS DOUBLE) AS xk, x AS xi FROM r WHERE rn = 101),
l AS (
  SELECT list(ln(CAST(x AS DOUBLE) / (SELECT xk FROM tail))
              ORDER BY rn) AS ls
  FROM r WHERE rn <= 100),
h AS (
  SELECT list_reduce(list_prepend(0.0, ls), (a, b) -> a + b)
         / 100.0 AS hm
  FROM l)
SELECT CAST(100 AS BIGINT) AS k,
  (SELECT CAST(xi AS BIGINT) FROM tail) AS x_tail,
  CAST(floor(hm * 1000000.0) AS BIGINT) AS hill_ppm,
  CASE WHEN hm > 0
    THEN CAST(floor(1000000.0 / hm) AS BIGINT) END AS alpha_ppm
FROM h
"""


QUERIES.update({
    "hill_tail_index": QueryDef(q_hill_tail_index, _HILL_ORACLE),
})


def q_ppr_custsupp(spark, sf_dir):
    """3-iteration PERSONALIZED PageRank from customer 1's node over
    the customer↔supplier purchase graph (graph.personalized_pagerank):
    teleport mass pinned to the seed, rank = proximity-by-link — the
    recommendation readout next to global pagerank. Oracle unrolls the
    identical seeded recurrence; rank rounded to 9 dp like pagerank."""
    from inception_eventstore_spark.operators import graph as G

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("cn"),
        (F.col("l_suppkey") * 2 + 1).alias("sn"),
    )
    edges = j.select(
        F.explode(
            F.array(
                F.struct(F.col("cn").alias("src"), F.col("sn").alias("dst")),
                F.struct(F.col("sn").alias("src"), F.col("cn").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    r = G.personalized_pagerank(edges, seeds=[2], iterations=3)
    return r.select("node", F.round("rank", 9).alias("rank"))


def _ppr_oracle() -> str:
    head = """
WITH e AS (
  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  UNION ALL
  SELECT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
nodes AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT node,
  CASE WHEN node = 2 THEN CAST(1.0 AS DOUBLE)
       ELSE CAST(0.0 AS DOUBLE) END AS rank
  FROM nodes)"""
    step = """,
i{it} AS (
  SELECT e.dst AS node, sum(r{prev}.rank / deg.outdeg) AS m
  FROM e JOIN r{prev} ON e.src = r{prev}.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst),
r{it} AS (
  SELECT nodes.node,
    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
      * (CASE WHEN nodes.node = 2 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END)
    + CAST(0.85 AS DOUBLE) * coalesce(m, CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes LEFT JOIN i{it} ON nodes.node = i{it}.node)"""
    body = head + "".join(
        step.format(it=i, prev=i - 1) for i in (1, 2, 3)
    )
    return body + "\nSELECT node, round(rank, 9) AS rank FROM r3"


QUERIES.update({
    "ppr_custsupp": QueryDef(q_ppr_custsupp, _ppr_oracle()),
})


def q_hhi_supplier_nation(spark, sf_dir):
    """Supplier concentration of lineitem volume per nation
    (profile.hhi_concentration): exact BIGINT count shares, DECIMAL
    square sums, HHI + CR1 in ppm. Oracle recomputes the identical
    integer arithmetic under DuckDB's HUGEINT widening."""
    from inception_eventstore_spark.operators.profile import (
        hhi_concentration,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("n_name", "s_suppkey")
    )
    return hhi_concentration(j, "n_name", "s_suppkey")


_HHI_ORACLE = """
WITH c AS (
  SELECT n_name, s_suppkey, CAST(count(*) AS BIGINT) AS c
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2),
per AS (
  SELECT n_name,
    CAST(count(*) AS BIGINT) AS n_members,
    CAST(sum(c) AS BIGINT) AS total,
    sum(c * c) AS sq,
    CAST(max(c) AS BIGINT) AS mx
  FROM c GROUP BY 1)
SELECT n_name, n_members, total,
  CAST(floor((CAST(sq AS DOUBLE)
      / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)))
    * 1000000.0) AS BIGINT) AS hhi_ppm,
  CAST(mx * 1000000 // total AS BIGINT) AS cr1_ppm
FROM per
"""


QUERIES.update({
    "hhi_supplier_nation": QueryDef(
        q_hhi_supplier_nation, _HHI_ORACLE
    ),
})


def q_aalen_johansen(spark, sf_dir):
    """Competing-risks cumulative incidence signup→{purchase | error}
    (funnel.aalen_johansen_cif): one all-cause integer product-limit
    split across the two causes in exact ppb; the oracle replays the
    recurrence with a recursive CTE over event days."""
    from inception_eventstore_spark.operators import funnel as FU

    return FU.aalen_johansen_cif(
        _t(spark, sf_dir, "events"),
        start_type="signup", cause_a="purchase", cause_b="error",
    )


_AJ_ORACLE = """
WITH RECURSIVE starts AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
lasts AS (SELECT user_id, max(ts) AS tmax FROM events GROUP BY user_id),
fe AS (
  SELECT user_id, te, ty FROM (
    SELECT e.user_id, e.ts AS te, e.event_type AS ty,
      row_number() OVER (
        PARTITION BY e.user_id ORDER BY e.ts, e.event_type) AS rn
    FROM events e JOIN starts s ON e.user_id = s.user_id
    WHERE e.event_type IN ('purchase', 'error') AND e.ts >= s.t0)
  WHERE rn = 1),
per_user AS (
  SELECT CASE WHEN fe.te IS NOT NULL
      THEN datediff('day', CAST(s.t0 AS DATE), CAST(fe.te AS DATE))
      ELSE datediff('day', CAST(s.t0 AS DATE), CAST(l.tmax AS DATE))
    END AS d,
    CASE WHEN fe.ty = 'purchase' THEN 1 ELSE 0 END AS a,
    CASE WHEN fe.ty = 'error' THEN 1 ELSE 0 END AS b
  FROM starts s JOIN lasts l ON s.user_id = l.user_id
  LEFT JOIN fe ON s.user_id = fe.user_id),
per_day AS (
  SELECT d, CAST(sum(a) AS BIGINT) AS da, CAST(sum(b) AS BIGINT) AS db,
    CAST(count(*) AS BIGINT) AS n
  FROM per_user GROUP BY d),
risk AS (
  SELECT d, da, db,
    (SELECT count(*) FROM per_user)
      - coalesce(sum(n) OVER (ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS n_risk
  FROM per_day),
ev_days AS (
  SELECT d, da, db, n_risk, row_number() OVER (ORDER BY d) AS rn
  FROM risk WHERE da + db > 0),
aj AS (
  SELECT rn, d, da, db, n_risk,
    (1000000000 * da) // n_risk AS cifa,
    (1000000000 * db) // n_risk AS cifb,
    (1000000000 * (n_risk - da - db)) // n_risk AS s
  FROM ev_days WHERE rn = 1
  UNION ALL
  SELECT e.rn, e.d, e.da, e.db, e.n_risk,
    aj.cifa + (aj.s * e.da) // e.n_risk,
    aj.cifb + (aj.s * e.db) // e.n_risk,
    (aj.s * (e.n_risk - e.da - e.db)) // e.n_risk
  FROM aj JOIN ev_days e ON e.rn = aj.rn + 1)
SELECT d AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
  da AS d_cause_a, db AS d_cause_b,
  CAST(cifa AS BIGINT) AS cif_a_ppb, CAST(cifb AS BIGINT) AS cif_b_ppb
FROM aj
"""


QUERIES.update({
    "aalen_johansen": QueryDef(q_aalen_johansen, _AJ_ORACLE),
})


def q_quantile_pinball(spark, sf_dir):
    """Pinball-loss evaluation of the per-weekday empirical 0.9-
    quantile forecast of daily volume (timeseries.quantile_forecast_
    eval): exact-integer order-statistic forecast, loss scaled by the
    quantile denominator so everything stays BIGINT. Oracle replays
    rank pick and loss."""
    from inception_eventstore_spark.operators.timeseries import (
        quantile_forecast_eval,
    )

    return quantile_forecast_eval(_t(spark, sf_dir, "events"))


_PINBALL_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
d2 AS (
  SELECT day, y,
    CAST(((datediff('day', DATE '1970-01-05', day) % 7) + 7) % 7
      AS BIGINT) AS wd
  FROM daily),
rk AS (
  SELECT wd, y, row_number() OVER (
    PARTITION BY wd ORDER BY y, day) AS rn FROM d2),
sz AS (SELECT wd, CAST(count(*) AS BIGINT) AS n FROM d2 GROUP BY wd),
fc AS (
  SELECT rk.wd, rk.y AS f FROM rk JOIN sz USING (wd)
  WHERE rk.rn = (sz.n * 9 + 9) // 10),
loss AS (
  SELECT CASE WHEN d2.y >= fc.f THEN 9 * (d2.y - fc.f)
              ELSE 1 * (fc.f - d2.y) END AS l
  FROM d2 JOIN fc USING (wd))
SELECT CAST(count(*) AS BIGINT) AS n_days,
  CAST(900000 AS BIGINT) AS q_ppm,
  CAST(sum(l) AS BIGINT) AS total_loss_x_den,
  CAST(sum(l) // count(*) AS BIGINT) AS mean_loss_x_den
FROM loss
"""


QUERIES.update({
    "quantile_pinball": QueryDef(q_quantile_pinball, _PINBALL_ORACLE),
})


def q_sprt_purchase(spark, sf_dir):
    """Wald SPRT monitor of the daily purchase share, H0 p=0.19 vs
    H1 p=0.21 (profile.sprt_daily): exact integer running counts via
    the two-phase shard cumsum, ln constants embedded as identical
    double literals on both engines, LLR floored to ppm."""
    from inception_eventstore_spark.operators.profile import sprt_daily

    return sprt_daily(_t(spark, sf_dir, "events"), p0=0.19, p1=0.21)


def _sprt_oracle() -> str:
    import math as _m

    a = _m.log(0.21 / 0.19)
    b = _m.log((1.0 - 0.21) / (1.0 - 0.19))
    hi = _m.log((1.0 - 0.05) / 0.05)
    lo = _m.log(0.05 / (1.0 - 0.05))
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
cum AS (
  SELECT day,
    CAST(sum(n) OVER w AS BIGINT) AS n_cum,
    CAST(sum(x) OVER w AS BIGINT) AS x_cum
  FROM daily
  WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
l AS (
  SELECT day, n_cum, x_cum,
    CAST(x_cum AS DOUBLE) * {a!r}
      + CAST(n_cum - x_cum AS DOUBLE) * {b!r} AS llr
  FROM cum)
SELECT day, n_cum, x_cum,
  CAST(floor(llr * 1000000.0) AS BIGINT) AS llr_ppm,
  CASE WHEN llr >= {hi!r} THEN 'h1'
       WHEN llr <= {lo!r} THEN 'h0'
       ELSE 'continue' END AS decision
FROM l
"""


QUERIES.update({
    "sprt_purchase": QueryDef(q_sprt_purchase, _sprt_oracle()),
})


def q_capture_recapture(spark, sf_dir):
    """Chapman capture-recapture corpus-size estimate from two
    overlapping 50% hash snapshots of documents
    (profile.capture_recapture): exact integer counts and division;
    the oracle replays both md5 samples and the estimator."""
    from inception_eventstore_spark.operators.profile import (
        capture_recapture,
    )
    from inception_eventstore_spark.operators.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents")
    a = d.where(hash_bucket(F.col("doc_id"), seed="crA") < 500_000)
    b = d.where(hash_bucket(F.col("doc_id"), seed="crB") < 500_000)
    return capture_recapture(a, b)


_CAPTURE_ORACLE = """
WITH a AS (
  SELECT DISTINCT doc_id FROM documents
  WHERE CAST(concat('0x', substr(md5('crA:' || CAST(doc_id AS VARCHAR)),
      1, 15)) AS BIGINT) % 1000000 < 500000),
b AS (
  SELECT DISTINCT doc_id FROM documents
  WHERE CAST(concat('0x', substr(md5('crB:' || CAST(doc_id AS VARCHAR)),
      1, 15)) AS BIGINT) % 1000000 < 500000),
c AS (SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
  (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
  (SELECT CAST(count(*) AS BIGINT) FROM a
     WHERE doc_id IN (SELECT doc_id FROM b)) AS n_both)
SELECT n_a, n_b, n_both,
  CAST((n_a + 1) * (n_b + 1) // (n_both + 1) - 1 AS BIGINT) AS n_hat
FROM c
"""


def q_good_turing(spark, sf_dir):
    """Good–Turing frequency-of-frequencies over the documents word
    TRIGRAMS (lm.good_turing_counts, r ≤ 10 — the fixture's unigram
    vocabulary is closed, trigrams are where singletons live):
    smoothed counts in exact 2^20 micro-units, unseen mass in ppm."""
    from inception_eventstore_spark.operators.lm import (
        good_turing_counts,
    )

    return good_turing_counts(
        _t(spark, sf_dir, "documents"), max_r=10, gram_n=3
    )


_GOOD_TURING_ORACLE = f"""
WITH tt AS (SELECT {_DUCK_TOKENS} AS tk FROM documents),
vocab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest([
        tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' '
          || tk[CAST(i AS INT) + 2]
        for i in generate_series(1, len(tk) - 2)]) AS w
    FROM tt WHERE len(tk) >= 3) GROUP BY w),
fof AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r
  FROM vocab GROUP BY c),
tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n,
  CAST(coalesce(sum(CASE WHEN r = 1 THEN n_r END), 0) AS BIGINT) AS n1
  FROM fof)
SELECT f.r, f.n_r,
  CAST(coalesce(x.n_r, 0) AS BIGINT) AS n_r1,
  CASE WHEN x.n_r IS NOT NULL
    THEN CAST((f.r + 1) * x.n_r * 1048576 // f.n_r AS BIGINT)
  END AS r_star_u,
  CAST(tot.n1 * 1000000 // tot.n AS BIGINT) AS p0_ppm
FROM fof f LEFT JOIN fof x ON x.r = f.r + 1 CROSS JOIN tot
WHERE f.r <= 10
"""


def q_interval_join_windows(spark, sf_dir):
    """Interval-overlap join (joins.interval_join): per-user activity
    spans × twelve fixed 7-day campaign windows, bucket-exploded on
    the week key — never a cross join. Oracle is the brute overlap
    join at gate scale."""
    from inception_eventstore_spark.operators.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    spans = (
        ev.where(F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min(F.unix_micros("ts")).alias("lo"),
            F.max(F.unix_micros("ts")).alias("hi"),
        )
    )
    week = 7 * 86_400_000_000
    t0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in micros
    wins = local_df(
        spark,
        [(w, t0 + w * week, t0 + (w + 1) * week - 1) for w in range(12)],
        "w_id bigint, wlo bigint, whi bigint",
    )
    return interval_join(
        spans, wins, "user_id", "w_id",
        "lo", "hi", "wlo", "whi",
        bucket_width=week,
    )


_INTERVAL_JOIN_ORACLE = """
WITH spans AS (
  SELECT user_id, CAST(min(epoch_us(ts)) AS BIGINT) AS lo,
    CAST(max(epoch_us(ts)) AS BIGINT) AS hi
  FROM events WHERE ts IS NOT NULL GROUP BY user_id),
wins AS (
  SELECT CAST(w AS BIGINT) AS w_id,
    CAST(1704067200000000 + w * 604800000000 AS BIGINT) AS wlo,
    CAST(1704067200000000 + (w + 1) * 604800000000 - 1 AS BIGINT) AS whi
  FROM generate_series(0, 11) AS t(w))
SELECT user_id, lo, hi, w_id, wlo, whi
FROM spans JOIN wins ON lo <= whi AND wlo <= hi
"""


QUERIES.update({
    "capture_recapture": QueryDef(q_capture_recapture, _CAPTURE_ORACLE),
    "good_turing": QueryDef(q_good_turing, _GOOD_TURING_ORACLE),
    "interval_join_windows": QueryDef(
        q_interval_join_windows, _INTERVAL_JOIN_ORACLE
    ),
})


# ----------------------------------------------------------------------
# Round-11 additions: KN continuation stats, retrieval MAP, graph
# modularity, split-conformal intervals, BH-FDR sign tests
# ----------------------------------------------------------------------


def q_kn_continuation(spark, sf_dir):
    """Kneser–Ney continuation statistics for the 20 most frequent
    tokens (lm.kn_continuation): continuation probability = distinct
    left contexts / distinct bigram types, next to the raw unigram
    probability — both exact integer ppm. One tokenization feeds the
    unigram counts and the distinct-pair type table; top-k is a
    TakeOrdered over the vocabulary-sized count table."""
    from inception_eventstore_spark.operators.lm import kn_continuation

    return kn_continuation(_t(spark, sf_dir, "documents"), k=20)


_KN_CONTINUATION_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
uc AS (SELECT t AS token, count(*) AS n
  FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1),
tot AS (SELECT sum(n) AS nn FROM uc),
pairs AS (
  SELECT g['a'] AS a, g['b'] AS b FROM (
    SELECT unnest([struct_pack(a := tk[i], b := tk[i+1])
                   for i in generate_series(1, len(tk)-1)]) AS g
    FROM toks WHERE len(tk) >= 2)),
ty AS (SELECT DISTINCT a, b FROM pairs),
nt AS (SELECT count(*) AS nty FROM ty),
lc AS (SELECT b AS token, count(*) AS nl FROM ty GROUP BY 1),
top AS (SELECT token, n FROM uc ORDER BY n DESC, token LIMIT 20)
SELECT top.token, CAST(top.n AS BIGINT) AS n_token,
  CAST(coalesce(lc.nl, 0) AS BIGINT) AS n_left_contexts,
  CAST((coalesce(lc.nl, 0) * 1000000) // nt.nty AS BIGINT) AS p_cont_ppm,
  CAST((top.n * 1000000) // tot.nn AS BIGINT) AS p_uni_ppm
FROM top LEFT JOIN lc USING (token) CROSS JOIN nt CROSS JOIN tot
ORDER BY n_token DESC, token
"""


def q_retrieval_map(spark, sf_dir):
    """Mean-average-precision scorecard: AP@10 of the BM25 ranking per
    query (retrieval.retrieval_map), binary relevance = contains ALL
    query terms, computed EXACTLY in integers via the lcm(1..10)=2520
    common denominator — no float enters the metric. Same one-scan
    BM25 dataflow as retrieval_ndcg."""
    from inception_eventstore_spark.operators.retrieval import (
        retrieval_map,
    )

    docs = _t(spark, sf_dir, "documents")
    qdf = local_df(
        spark,
        [
            (1, ["spark", "merge", "key"]),
            (2, ["window", "batch"]),
            (3, ["key", "batch", "merge"]),
        ],
        "query_id long, terms array<string>",
    )
    return retrieval_map(docs, qdf, k=10)


_RETRIEVAL_MAP_ORACLE = f"""
WITH kb AS (SELECT CAST(1.2 AS DOUBLE) AS k1, CAST(0.75 AS DOUBLE) AS b),
qs AS (SELECT * FROM (VALUES (1, 'spark'), (1, 'merge'), (1, 'key'),
                             (2, 'window'), (2, 'batch'),
                             (3, 'key'), (3, 'batch'), (3, 'merge'))
       AS t(query_id, token)),
toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
st AS (SELECT count(*) AS n, sum(len(tk)) AS sdl FROM toks),
ex AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS token FROM toks),
tf AS (
  SELECT doc_id, token, count(*) AS tf, any_value(dl) AS dl
  FROM ex WHERE token IN (SELECT token FROM qs)
  GROUP BY doc_id, token),
idf AS (
  SELECT token,
    ln(1.0 + ((SELECT CAST(n AS DOUBLE) FROM st)
              - count(DISTINCT doc_id) + 0.5)
             / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf GROUP BY token),
sc AS (
  SELECT query_id, doc_id,
    round(sum(idf * (tf * (kb.k1 + 1.0))
              / (tf + kb.k1 * ((1.0 - kb.b)
                 + kb.b * dl / ((SELECT CAST(sdl AS DOUBLE) FROM st)
                               / (SELECT n FROM st))))), 6) AS score
  FROM tf JOIN idf USING (token) JOIN qs USING (token), kb
  GROUP BY query_id, doc_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id) AS rank FROM sc),
dt AS (SELECT DISTINCT doc_id, token FROM
  (SELECT doc_id, unnest(tk) AS token FROM toks)),
mt AS (SELECT query_id, count(*) AS m FROM qs GROUP BY 1),
relc AS (SELECT qs.query_id, dt.doc_id, count(*) AS hit
  FROM dt JOIN qs USING (token) GROUP BY 1, 2),
rel AS (SELECT query_id, doc_id
  FROM relc JOIN mt USING (query_id) WHERE hit = m),
rtot AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
hits AS (SELECT r.query_id, r.rank,
    CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS relv
  FROM r LEFT JOIN rel
    ON r.query_id = rel.query_id AND r.doc_id = rel.doc_id
  WHERE r.rank <= 10),
cum AS (SELECT query_id, rank, relv,
    sum(relv) OVER (PARTITION BY query_id ORDER BY rank) AS c
  FROM hits),
s AS (SELECT query_id, sum(relv * c * (2520 // rank)) AS s,
    sum(relv) AS n_rel_topk
  FROM cum GROUP BY 1)
SELECT s.query_id, CAST(rtot.n_rel AS BIGINT) AS n_rel,
  CAST(s.n_rel_topk AS BIGINT) AS n_rel_topk,
  CAST((s.s * 1000000) // (2520 * least(rtot.n_rel, 10)) AS BIGINT)
    AS ap_ppm
FROM s JOIN rtot USING (query_id)
WHERE rtot.n_rel > 0 ORDER BY query_id
"""


def q_graph_modularity(spark, sf_dir):
    """Newman modularity breakdown of the 3-iteration LPA partition
    over the exact 3-NN embedding graph (graph.modularity): per
    community (n_nodes, degree_sum, m_intra) and the exact rational
    contribution q_num / q_den with the shared 4m² denominator — the
    "are these communities real?" audit for the graph_lpa_knn
    partition. All-BIGINT outputs; no float anywhere."""
    from inception_eventstore_spark.operators.graph import (
        label_propagation,
        modularity,
    )

    edges = _knn_edges(spark, sf_dir).localCheckpoint(eager=False)
    lbl = label_propagation(edges, iterations=3)
    return modularity(edges, lbl)


def _modularity_oracle() -> str:
    steps = []
    prev = "l0"
    for i in (1, 2, 3):
        steps.append(
            f"v{i} AS (SELECT nb.node, {prev}.label, count(*) AS cnt "
            f"FROM nb JOIN {prev} ON nb.nbr = {prev}.node GROUP BY 1, 2), "
            f"l{i} AS (SELECT node, label FROM v{i} QUALIFY row_number() "
            f"OVER (PARTITION BY node ORDER BY cnt DESC, label) = 1)"
        )
        prev = f"l{i}"
    body = ", ".join(steps)
    return (
        f"WITH {_KNN_EDGE_CTE.strip()}, "
        "l0 AS (SELECT DISTINCT node, node AS label FROM nb), "
        f"{body}, "
        "deg AS (SELECT node, count(*) AS d FROM nb GROUP BY 1), "
        "m AS (SELECT count(*) AS m FROM und), "
        "pl AS (SELECT l3.label, count(*) AS n_nodes, sum(deg.d) AS dsum "
        "  FROM l3 JOIN deg ON l3.node = deg.node GROUP BY 1), "
        "ie AS (SELECT la.label AS label, count(*) AS mi "
        "  FROM und JOIN l3 la ON und.x = la.node "
        "  JOIN l3 lb ON und.y = lb.node "
        "  WHERE la.label = lb.label GROUP BY 1) "
        "SELECT pl.label, CAST(pl.n_nodes AS BIGINT) AS n_nodes, "
        "  CAST(pl.dsum AS BIGINT) AS degree_sum, "
        "  CAST(coalesce(ie.mi, 0) AS BIGINT) AS m_intra, "
        "  CAST(4 * m.m * coalesce(ie.mi, 0) - pl.dsum * pl.dsum "
        "       AS BIGINT) AS q_num, "
        "  CAST(4 * m.m * m.m AS BIGINT) AS q_den "
        "FROM pl LEFT JOIN ie USING (label) CROSS JOIN m ORDER BY pl.label"
    )


def q_conformal_interval(spark, sf_dir):
    """Split-conformal prediction interval + finite-sample coverage
    audit on event values (scoring.conformal_interval): md5-hash
    train/cal/test splits, per-type integer-mean model, exact
    order-statistic conformal quantile at α = 10%, realized test
    coverage vs the 900 000 ppm target. events.value ≥ 0 in the
    fixtures, so the integer mean's div/floor-div semantics agree
    across engines."""
    from inception_eventstore_spark.operators.scoring import (
        conformal_interval,
    )

    return conformal_interval(_t(spark, sf_dir, "events"))


_CONFORMAL_ORACLE = """
WITH base AS (
  SELECT CAST(event_id AS VARCHAR) AS k, event_type AS g,
    CAST(floor(value * 1048576.0) AS BIGINT) AS v,
    CAST(concat('0x', substr(md5(concat('conf:v1:',
      CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT) % 4 AS b
  FROM events WHERE value IS NOT NULL),
model AS (
  SELECT g, CAST(sum(v) // count(*) AS BIGINT) AS mu
  FROM base WHERE b <= 1 GROUP BY g),
cal AS (
  SELECT base.k, abs(base.v - model.mu) AS r
  FROM base JOIN model USING (g) WHERE b = 2),
nc AS (SELECT count(*) AS n_cal FROM cal),
rsel AS (SELECT least(n_cal,
    ((n_cal + 1) * 900000 + 999999) // 1000000) AS rk FROM nc),
ranked AS (SELECT r, row_number() OVER (ORDER BY r, k) AS rn FROM cal),
qhat AS (SELECT ranked.r AS qh FROM ranked, rsel WHERE rn = rsel.rk),
tst AS (
  SELECT abs(base.v - model.mu) AS r
  FROM base JOIN model USING (g) WHERE b = 3)
SELECT CAST(nc.n_cal AS BIGINT) AS n_cal,
  CAST(rsel.rk AS BIGINT) AS q_rank,
  CAST(qhat.qh AS BIGINT) AS qhat_u,
  CAST(count(*) AS BIGINT) AS n_test,
  CAST(sum(CASE WHEN tst.r <= qhat.qh THEN 1 ELSE 0 END) AS BIGINT)
    AS covered,
  CAST((sum(CASE WHEN tst.r <= qhat.qh THEN 1 ELSE 0 END) * 1000000)
       // count(*) AS BIGINT) AS coverage_ppm,
  CAST(900000 AS BIGINT) AS target_ppm
FROM tst, nc, rsel, qhat
GROUP BY nc.n_cal, rsel.rk, qhat.qh
"""


def q_bh_fdr_signtest(spark, sf_dir):
    """Per-nation exact sign test for upward revenue drift over the
    trailing 57-day order window, with Benjamini–Hochberg FDR control
    across the 25 nations (profile.sign_test_bh) — the
    multiple-testing gate a segment-sweeping trend monitor needs.
    Daily revenue is exact cents (DECIMAL cast of the 2-dp money
    column), day axis is an integer day index, and the p-values are
    exact binomial-tail BIGINT rationals with the shared 2⁵⁶
    denominator; the bounded per-nation rows finish driver-side in
    arbitrary-precision integers (km_survival pattern)."""
    from inception_eventstore_spark.operators.profile import sign_test_bh

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    df = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .select(
            "n_name",
            F.datediff(
                F.col("o_orderdate"), F.lit("1992-01-01").cast("date")
            ).alias("d"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint").alias("cents"),
        )
    )
    return sign_test_bh(
        df, "n_name", "d", "cents", horizon=57, q_ppm=100_000
    )


_BH_SIGNTEST_ORACLE = """
WITH RECURSIVE rev AS (
  SELECT n_name AS g,
    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS d,
    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
         AS BIGINT) AS v
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
mx AS (SELECT max(d) AS md FROM rev),
cal AS (
  SELECT gg.g, mx.md - 56 + t.s AS d
  FROM (SELECT DISTINCT g FROM rev) gg
  CROSS JOIN mx CROSS JOIN generate_series(0, 56) AS t(s)),
f AS (SELECT cal.g, cal.d, coalesce(rev.v, 0) AS v
  FROM cal LEFT JOIN rev USING (g, d)),
l AS (SELECT g, v, lag(v) OVER (PARTITION BY g ORDER BY d) AS pv FROM f),
k AS (SELECT g, sum(CASE WHEN v > pv THEN 1 ELSE 0 END) AS k_up
  FROM l WHERE pv IS NOT NULL GROUP BY 1),
bi(j, c) AS (
  SELECT 0, CAST(1 AS HUGEINT)
  UNION ALL
  SELECT j + 1, (c * (56 - j)) // (j + 1) FROM bi WHERE j < 56),
tails AS (SELECT a.j AS k, sum(b.c) AS pn
  FROM bi a JOIN bi b ON b.j >= a.j GROUP BY 1),
sc AS (SELECT k.g, k.k_up, tails.pn FROM k JOIN tails ON tails.k = k.k_up),
rk AS (SELECT g, k_up, pn,
    row_number() OVER (ORDER BY pn, g) AS rank,
    count(*) OVER () AS m
  FROM sc),
ks AS (SELECT coalesce(max(rank), 0) AS kstar FROM rk
  WHERE pn * m * 1000000
        <= CAST(rank AS HUGEINT) * 100000
           * CAST(72057594037927936 AS HUGEINT))
SELECT g AS n_name, CAST(k_up AS BIGINT) AS k_up,
  CAST(56 AS BIGINT) AS n_cmp, CAST(pn AS BIGINT) AS p_num,
  CAST(72057594037927936 AS BIGINT) AS p_den,
  CAST(rank AS BIGINT) AS rank,
  CAST(CASE WHEN rank <= ks.kstar THEN 1 ELSE 0 END AS BIGINT)
    AS rejected
FROM rk CROSS JOIN ks ORDER BY rank
"""


QUERIES.update({
    "kn_continuation": QueryDef(q_kn_continuation, _KN_CONTINUATION_ORACLE),
    "retrieval_map": QueryDef(q_retrieval_map, _RETRIEVAL_MAP_ORACLE),
    "graph_modularity": QueryDef(q_graph_modularity, _modularity_oracle()),
    "conformal_interval": QueryDef(q_conformal_interval, _CONFORMAL_ORACLE),
    "bh_fdr_signtest": QueryDef(q_bh_fdr_signtest, _BH_SIGNTEST_ORACLE),
})


def q_hilbert_cells(spark, sf_dir):
    """Hilbert-curve cell histogram over (user_id%16, event_id%16)
    (zorder.with_hilbert_index) — certifies the exact unrolled
    per-level descent the Hilbert layout writer clusters files by
    (the better-locality sibling of zorder_cells: consecutive cells
    are always grid-adjacent, so min/max file skipping works for both
    dimensions with no power-of-two seam jumps). The oracle replays
    the identical staged nonnegative div/mod algebra level by level."""
    from inception_eventstore_spark.sources.zorder import (
        with_hilbert_index,
    )

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 16).alias("x"),
        (F.col("event_id") % 16).alias("y"),
    )
    return (
        with_hilbert_index(ev, F.col("x"), F.col("y"), bits=4, out="_h")
        .groupBy(F.col("_h").alias("h"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("h")
    )


def _hilbert_oracle() -> str:
    lines = [
        "h0 AS (SELECT user_id % 16 AS x, event_id % 16 AS y, "
        "0 AS d FROM events)"
    ]
    prev = "h0"
    for i, s in enumerate((8, 4, 2, 1), start=1):
        lines.append(
            f"h{i} AS (SELECT "
            f"CASE WHEN ry = 1 THEN xm ELSE CASE WHEN rx = 1 "
            f"THEN {s - 1} - ym ELSE ym END END AS x, "
            f"CASE WHEN ry = 1 THEN ym ELSE CASE WHEN rx = 1 "
            f"THEN {s - 1} - xm ELSE xm END END AS y, "
            f"d + {s * s} * (rx * (3 - ry) + (1 - rx) * ry) AS d "
            f"FROM (SELECT (x // {s}) % 2 AS rx, (y // {s}) % 2 AS ry, "
            f"x % {s} AS xm, y % {s} AS ym, d FROM {prev}))"
        )
        prev = f"h{i}"
    return (
        "WITH " + ", ".join(lines)
        + f" SELECT CAST(d AS BIGINT) AS h, count(*) AS n "
          f"FROM {prev} GROUP BY d ORDER BY h"
    )


QUERIES.update({
    "hilbert_cells": QueryDef(q_hilbert_cells, _hilbert_oracle()),
})


def q_graph_assortativity(spark, sf_dir):
    """Degree assortativity of the exact 3-NN embedding graph
    (graph.assortativity): Pearson correlation of endpoint degrees
    over the directed edge list, exact BIGINT sums + ONE fixed-order
    double expression rounded 6 dp (the regression_trend recipe) —
    the structural fingerprint next to graph_modularity (KNN graphs
    run disassortative: hubs link to leaves)."""
    from inception_eventstore_spark.operators.graph import assortativity

    return assortativity(_knn_edges(spark, sf_dir))


_ASSORTATIVITY_ORACLE = f"""
WITH {_KNN_EDGE_CTE.strip()},
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY 1),
pr AS (SELECT da.d AS dx, db.d AS dy
  FROM nb JOIN deg da ON nb.node = da.node
  JOIN deg db ON nb.nbr = db.node),
s AS (SELECT CAST(count(*) AS BIGINT) AS m,
    CAST(sum(dx) AS BIGINT) AS sx,
    CAST(sum(dx * dx) AS BIGINT) AS sxx,
    CAST(sum(dx * dy) AS BIGINT) AS sxy
  FROM pr)
SELECT m AS m_directed, sx AS sum_x, sxx AS sum_xx, sxy AS sum_xy,
  CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
    THEN round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
  END AS r_assort
FROM s
"""


def q_kmv_users_setops(spark, sf_dir):
    """Theta-sketch set algebra over two user populations
    (sketches.kmv_set_ops): click users vs purchase users — distinct
    estimates for each side, their union, their intersection and a
    Jaccard estimate, all from two fixed 64-row KMV certificates in
    exact integer fixed-point. The dashboards-from-sketches pattern:
    at 100 TB neither raw set is ever re-scanned for a set
    expression."""
    from inception_eventstore_spark.operators.sketches import kmv_set_ops

    ev = _t(spark, sf_dir, "events")
    return kmv_set_ops(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        "user_id",
        k=64,
    )


_KMV_SETOPS_ORACLE = """
WITH ha AS (SELECT DISTINCT CAST(concat('0x', substr(md5(concat('kmv:',
    CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
hb AS (SELECT DISTINCT CAST(concat('0x', substr(md5(concat('kmv:',
    CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
sa AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS r
  FROM ha) WHERE r <= 64),
sb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS r
  FROM hb) WHERE r <= 64),
su AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS r
  FROM (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL
        SELECT h FROM sb))) WHERE r <= 64),
ea AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CASE WHEN count(*) < 64 THEN CAST(count(*) AS BIGINT)
    ELSE CAST({NUM} // greatest(max(h) // 1048576, 1) AS BIGINT) END
    AS est FROM sa),
eb AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CASE WHEN count(*) < 64 THEN CAST(count(*) AS BIGINT)
    ELSE CAST({NUM} // greatest(max(h) // 1048576, 1) AS BIGINT) END
    AS est FROM sb),
eu AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CASE WHEN count(*) < 64 THEN CAST(count(*) AS BIGINT)
    ELSE CAST({NUM} // greatest(max(h) // 1048576, 1) AS BIGINT) END
    AS est FROM su),
cm AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM su
  WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb))
SELECT ea.n AS n_a, ea.est AS est_a, eb.n AS n_b, eb.est AS est_b,
  eu.n AS n_union, eu.est AS est_union, cm.n_common,
  CAST((cm.n_common * eu.est) // eu.n AS BIGINT) AS est_intersection,
  CAST((cm.n_common * 1000000) // eu.n AS BIGINT) AS jaccard_ppm
FROM ea, eb, eu, cm
""".replace("{NUM}", str(63 << 40))


def q_croston_purchases(spark, sf_dir):
    """Croston intermittent-demand forecast
    (timeseries.croston_daily) of the sparse purchase stream of one
    1%-of-users slice (user_id % 101 = 7): demand-size and
    inter-arrival EWMAs in exact 2^20 micro-integers, driver-side
    recurrence over the bounded demand-day axis (holt_linear_daily
    pattern), recursive-CTE oracle replays every truncating
    division."""
    from inception_eventstore_spark.operators.timeseries import (
        croston_daily,
    )

    ev = _t(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase")
        & (F.pmod(F.col("user_id"), F.lit(101)) == 7)
    )
    return croston_daily(ev)


def _croston_oracle(an: int = 1, ad: int = 4) -> str:
    def td(a: str, d: int) -> str:
        return (f"(CASE WHEN ({a}) >= 0 THEN ({a}) // {d} "
                f"ELSE -((-({a})) // {d}) END)")

    z_new = td(f"{an} * (d.x * 1048576 - r.z)", ad)
    p_new = td(f"{an} * ((d.t - r.t) * 1048576 - r.p)", ad)
    return f"""
WITH RECURSIVE src AS (
  SELECT ts FROM events
  WHERE event_type = 'purchase' AND user_id % 101 = 7),
dd AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM src GROUP BY 1),
b AS (SELECT min(d) AS d0 FROM dd),
dem AS (SELECT row_number() OVER (ORDER BY d) AS rn,
    datediff('day', (SELECT d0 FROM b), d) + 1 AS t, d, x
  FROM dd),
rec AS (
  SELECT 1 AS rn, (SELECT t FROM dem WHERE rn = 1) AS t,
    (SELECT x FROM dem WHERE rn = 1) * 1048576 AS z,
    (SELECT t FROM dem WHERE rn = 1) * 1048576 AS p
  UNION ALL
  SELECT r.rn + 1, d.t, r.z + {z_new}, r.p + {p_new}
  FROM rec r JOIN dem d ON d.rn = r.rn + 1)
SELECT CAST(d.t AS BIGINT) AS day_index, d.d AS day,
  CAST(d.x AS BIGINT) AS demand, CAST(r.z AS BIGINT) AS z_micro,
  CAST(r.p AS BIGINT) AS p_micro,
  CAST((CAST(r.z AS HUGEINT) * 1000000) // r.p AS BIGINT) AS f_ppm
FROM rec r JOIN dem d ON d.rn = r.rn
ORDER BY day_index
"""


QUERIES.update({
    "graph_assortativity": QueryDef(
        q_graph_assortativity, _ASSORTATIVITY_ORACLE
    ),
    "kmv_users_setops": QueryDef(q_kmv_users_setops, _KMV_SETOPS_ORACLE),
    "croston_purchases": QueryDef(q_croston_purchases, _croston_oracle()),
})


def q_gains_acctbal(spark, sf_dir):
    """Cumulative gains/lift deciles (scoring.gains_table): customers
    ranked by account balance, responder = placed at least one
    1-URGENT order — the decile targeting chart, every rate/lift an
    exact-integer ppm (two-phase shard rank, bounded triangular
    prefix join, no window)."""
    from inception_eventstore_spark.operators.scoring import gains_table

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    resp = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey").distinct()
        .withColumn("_y1", F.lit(1))
    )
    df = (
        c.join(resp, c["c_custkey"] == resp["o_custkey"], "left")
        .select(
            F.col("c_custkey").alias("k"),
            F.col("c_acctbal").alias("s"),
            F.coalesce("_y1", F.lit(0)).alias("y"),
        )
    )
    return gains_table(df, "s", "y", "k", n_buckets=10)


_GAINS_ORACLE = """
WITH resp AS (SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderpriority = '1-URGENT'),
base AS (SELECT c_custkey AS k, c_acctbal AS s,
    CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END AS y
  FROM customer LEFT JOIN resp ON c_custkey = o_custkey),
r AS (SELECT *, row_number() OVER (ORDER BY s DESC, k) AS rank,
    count(*) OVER () AS n
  FROM base),
per AS (SELECT ((rank - 1) * 10) // n AS bucket,
    CAST(count(*) AS BIGINT) AS nn, CAST(sum(y) AS BIGINT) AS resp
  FROM r GROUP BY 1),
tot AS (SELECT CAST(sum(nn) AS BIGINT) AS tn,
    CAST(sum(resp) AS BIGINT) AS tr FROM per),
cum AS (SELECT a.bucket, CAST(sum(b.nn) AS BIGINT) AS cum_n,
    CAST(sum(b.resp) AS BIGINT) AS cum_resp
  FROM per a JOIN per b ON b.bucket <= a.bucket GROUP BY 1)
SELECT CAST(per.bucket AS BIGINT) AS bucket, per.nn AS n, per.resp,
  CAST((per.resp * 1000000) // per.nn AS BIGINT) AS rate_ppm,
  cum.cum_n, cum.cum_resp,
  CAST(CASE WHEN tot.tr = 0 THEN 0
    ELSE (cum.cum_resp * 1000000) // tot.tr END AS BIGINT)
    AS cum_capture_ppm,
  CAST(CASE WHEN tot.tr = 0 THEN 0
    ELSE (CAST(cum.cum_resp AS HUGEINT) * tot.tn * 1000000)
         // (CAST(cum.cum_n AS HUGEINT) * tot.tr) END AS BIGINT)
    AS cum_lift_ppm
FROM per JOIN cum USING (bucket) CROSS JOIN tot ORDER BY bucket
"""


def q_wasserstein_value_drift(spark, sf_dir):
    """Earth-mover drift between the click and purchase value
    distributions (profile.wasserstein_binned): W1 = ∫|F_A − F_B| on
    a fixed 1024-bin grid over [0, 512), per-bin ppm terms quantized
    before summing — the how-far-did-it-move companion of ks_drift.
    Running CDFs via sharded_running_sums, never a single-partition
    window."""
    from inception_eventstore_spark.operators.profile import (
        wasserstein_binned,
    )

    ev = _t(spark, sf_dir, "events")
    return wasserstein_binned(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        "value",
        lo=0.0,
        hi=512.0,
        bins=1024,
    )


_WASSERSTEIN_ORACLE = """
WITH ca AS (SELECT least(1023, greatest(0,
    CAST(floor((value - 0.0) * 2.0) AS BIGINT))) AS b,
    CAST(count(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'click' AND value IS NOT NULL
  GROUP BY 1),
cb AS (SELECT least(1023, greatest(0,
    CAST(floor((value - 0.0) * 2.0) AS BIGINT))) AS b,
    CAST(count(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1),
axis AS (SELECT CAST(g AS BIGINT) AS b
  FROM generate_series(0, 1023) t(g)),
g AS (SELECT axis.b, coalesce(ca.n, 0) AS na, coalesce(cb.n, 0) AS nb
  FROM axis LEFT JOIN ca USING (b) LEFT JOIN cb USING (b)),
c AS (SELECT b, sum(na) OVER (ORDER BY b) AS cna,
    sum(nb) OVER (ORDER BY b) AS cnb
  FROM g),
t AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
    CAST(sum(nb) AS BIGINT) AS tb FROM g)
SELECT t.ta AS n_a, t.tb AS n_b, CAST(1024 AS BIGINT) AS n_bins,
  CAST(sum((abs(CAST(c.cna AS HUGEINT) * t.tb
                - CAST(c.cnb AS HUGEINT) * t.ta) * 1000000)
           // (CAST(t.ta AS HUGEINT) * t.tb)) AS BIGINT) AS w1_bin_ppm
FROM c CROSS JOIN t GROUP BY t.ta, t.tb
"""


QUERIES.update({
    "gains_acctbal": QueryDef(q_gains_acctbal, _GAINS_ORACLE),
    "wasserstein_value_drift": QueryDef(
        q_wasserstein_value_drift, _WASSERSTEIN_ORACLE
    ),
})


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: qd.spark for name, qd in sorted(QUERIES.items())}


def oracle_queries() -> dict[str, str]:
    return {
        name: qd.oracle
        for name, qd in sorted(QUERIES.items())
        if qd.oracle is not None
    }
