"""Round-12 optimization invariants.

Two families:

1. The graph value-iteration loops finish on the driver when their
   probed edge set fits ``driver_finish_edges`` and run distributed
   otherwise. Every path must give the recurrence's answer — the
   exact-integer HITS and label-propagation recurrences bit-for-bit,
   the float PageRank/PPR recurrences to ~ulp (identical per-edge
   expressions, summation order differs) — at the default dial, at 0
   (no probe), one below the probe size (the probe runs, then the
   loop goes distributed) and exactly at it (driver finish).

2. The r11 persist-without-unpersist sites (VERDICT r11 #1) were
   converted to persist→checkpoint-result→unpersist or RDD-scoped
   localCheckpoints — after a full materialization of each operator,
   NO entry may remain in the session CacheManager (that pin is what
   made r11 warm-bench numbers cache-assisted and leaked storage in
   long-lived sessions).
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from inception_eventstore_spark.operators import graph as G


def _cache_empty(spark) -> bool:
    return bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    )


EDGES = [
    (1, 2), (2, 3), (3, 1), (1, 3), (4, 3), (4, 1), (2, 1), (5, 4),
    (1, 2),  # parallel edge — weight-2 contribution
]
# what each probe counts: distinct (src, dst) pairs for pagerank, ppr
# and hits; the canonical undirected edge set for label propagation
PAIRS = len(set(EDGES))
CANONICAL = len({(min(e), max(e)) for e in EDGES if e[0] != e[1]})


def _dials(probe_size):
    return pytest.mark.parametrize(
        "dial",
        [None, 0, probe_size - 1, probe_size],
        ids=["default", "zero", "below_probe", "at_probe"],
    )


def _dial(dial):
    return {} if dial is None else {"driver_finish_edges": dial}


def _ref_pagerank(edges, iterations, seeds=None, d=0.85):
    nodes = {v for e in edges for v in e}
    outdeg = Counter(u for u, _ in edges)
    s = {
        v: 1 / len(nodes) if seeds is None
        else (1 / len(seeds) if v in seeds else 0.0)
        for v in nodes
    }
    r = dict(s)
    for _ in range(iterations):
        inflow = defaultdict(float)
        for u, v in edges:
            inflow[v] += r[u] / outdeg[u]
        r = {v: (1 - d) * s[v] + d * inflow[v] for v in nodes}
    return r


def _ref_hits(edges, iterations):
    nodes = {v for e in edges for v in e}
    dmax = max(Counter(v for e in edges for v in e).values())
    h, a = {v: 1 << 30 for v in nodes}, {}
    for _ in range(iterations):
        a_in, h_in = Counter(), Counter()
        for u, v in edges:
            a_in[v] += h[u]
        a = {v: a_in[v] // dmax for v in nodes}
        for u, v in edges:
            h_in[u] += a[v]
        h = {v: h_in[v] // dmax for v in nodes}
    return {v: (h[v], a[v]) for v in nodes}


def _ref_lpa(edges, iterations):
    nbrs = defaultdict(list)
    for x, y in {(min(e), max(e)) for e in edges if e[0] != e[1]}:
        nbrs[x].append(y)
        nbrs[y].append(x)
    label = {v: v for v in nbrs}
    for _ in range(iterations):
        label = {
            v: min(
                Counter(label[u] for u in ns).items(),
                key=lambda kv: (-kv[1], kv[0]),
            )[0]
            for v, ns in nbrs.items()
        }
    return label


class TestGraphDriverFinish:
    @_dials(PAIRS)
    def test_pagerank_paths_agree(self, spark, dial):
        df = spark.createDataFrame(EDGES, "src long, dst long")
        got = {
            r["node"]: r["rank"]
            for r in G.pagerank(df, iterations=3, **_dial(dial)).collect()
        }
        want = _ref_pagerank(EDGES, 3)
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12)

    @_dials(PAIRS)
    def test_ppr_paths_agree(self, spark, dial):
        df = spark.createDataFrame(EDGES, "src long, dst long")
        got = {
            r["node"]: r["rank"]
            for r in G.personalized_pagerank(
                df, seeds=[1, 4], iterations=3, **_dial(dial)
            ).collect()
        }
        want = _ref_pagerank(EDGES, 3, seeds={1, 4})
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12)

    @_dials(PAIRS)
    def test_hits_paths_bit_identical(self, spark, dial):
        df = spark.createDataFrame(EDGES, "src long, dst long")
        got = {
            r["node"]: (r["hub_u"], r["auth_u"])
            for r in G.hits_scores(df, iterations=4, **_dial(dial)).collect()
        }
        assert got == _ref_hits(EDGES, 4)  # exact-integer recurrence

    @_dials(CANONICAL)
    def test_lpa_paths_bit_identical(self, spark, dial):
        df = spark.createDataFrame(EDGES, "src long, dst long")
        got = {
            r["node"]: r["label"]
            for r in G.label_propagation(
                df, iterations=3, **_dial(dial)
            ).collect()
        }
        assert got == _ref_lpa(EDGES, 3)  # exact integer recurrence

    def test_driver_path_missing_seed_raises(self, spark):
        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError, match="absent"):
            G.personalized_pagerank(df, seeds=[99])

    def test_distributed_path_missing_seed_raises(self, spark):
        spark.catalog.clearCache()
        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError, match="1 seed.* absent"):
            G.personalized_pagerank(df, seeds=[2, 99], driver_finish_edges=0)
        assert _cache_empty(spark)

    def test_driver_path_empty_raises(self, spark):
        df = spark.createDataFrame([], "src long, dst long")
        with pytest.raises(ValueError):
            G.pagerank(df)

    @pytest.mark.parametrize("dial", [None, 0], ids=["default", "zero"])
    def test_empty_raises_before_missing_seed(self, spark, dial):
        df = spark.createDataFrame([], "src long, dst long")
        with pytest.raises(ValueError, match="empty edge list"):
            G.personalized_pagerank(df, seeds=[1], **_dial(dial))


class TestNoCacheManagerResidue:
    """Materialize each formerly-leaking operator fully, then assert
    the session CacheManager is empty (VERDICT r11 #1)."""

    def _docs(self, spark):
        rows = [
            (i, f"alpha beta gamma delta token{i % 7} epsilon zeta "
                f"eta theta iota kappa token{i % 5}")
            for i in range(60)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_winnow_matches_releases_cache(self, spark):
        from inception_eventstore_spark.operators.text import (
            winnow_matches,
        )

        spark.catalog.clearCache()
        winnow_matches(self._docs(spark), max_df=None).collect()
        assert _cache_empty(spark)

    def test_item_item_topk_releases_cache(self, spark):
        from inception_eventstore_spark.operators.basket import (
            item_item_topk,
        )

        spark.catalog.clearCache()
        baskets = spark.createDataFrame(
            [(b, it) for b in range(30) for it in range(b % 5 + 2)],
            "basket_id long, item_id long",
        )
        item_item_topk(baskets, min_pair_count=1).collect()
        assert _cache_empty(spark)

    def test_tfidf_weights_no_cache_entry(self, spark):
        from inception_eventstore_spark.operators.embeddings import (
            tfidf_bucket_weights,
        )

        spark.catalog.clearCache()
        tfidf_bucket_weights(self._docs(spark)).collect()
        assert _cache_empty(spark)

    def test_token_logratios_no_cache_entry(self, spark):
        from inception_eventstore_spark.operators.importance import (
            token_logratios,
        )

        spark.catalog.clearCache()
        d = self._docs(spark)
        token_logratios(d.where("doc_id < 30"), d).collect()
        assert _cache_empty(spark)

    def test_stupid_backoff_no_cache_entry(self, spark):
        from inception_eventstore_spark.operators.lm import (
            stupid_backoff_score,
        )

        spark.catalog.clearCache()
        stupid_backoff_score(self._docs(spark)).collect()
        assert _cache_empty(spark)

    def test_graph_loops_release_cache(self, spark):
        spark.catalog.clearCache()
        df = spark.createDataFrame(EDGES, "src long, dst long")
        G.pagerank(df, iterations=2, driver_finish_edges=0).collect()
        G.hits_scores(df, iterations=2, driver_finish_edges=0).collect()
        G.personalized_pagerank(
            df, seeds=[1], iterations=2, driver_finish_edges=0
        ).collect()
        # the probe runs, finds the graph above the dial and goes
        # distributed: its persisted edge set must be released too
        G.pagerank(df, iterations=2, driver_finish_edges=PAIRS - 1).collect()
        for dial in (0, CANONICAL - 1):
            G.label_propagation(
                df, iterations=2, driver_finish_edges=dial
            ).collect()
        assert _cache_empty(spark)

    def test_connected_components_releases_cache(self, spark):
        from inception_eventstore_spark.operators.components import (
            connected_components,
        )

        spark.catalog.clearCache()
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        connected_components(pairs).collect()
        assert _cache_empty(spark)
        # distributed path (dial=0 forces star rounds)
        connected_components(pairs, driver_finish_edges=0).collect()
        assert _cache_empty(spark)


class TestQualityCorrelationsLocalFinish:
    def test_three_rows_single_n(self, spark):
        from inception_eventstore_spark.operators.curation import (
            quality_signal_correlations,
        )

        rows = [
            (i, ("the quick brown fox " * (i % 4 + 2))
                + ("extraordinarily " * (i % 3)))
            for i in range(40)
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        out = quality_signal_correlations(d).collect()
        assert len(out) == 3
        ns = {r["n"] for r in out}
        assert len(ns) == 1 and ns.pop() == 40
        for r in out:
            if r["corr"] is not None:
                assert -1.0 <= r["corr"] <= 1.0
