"""Tests for the r9 additions: one-way ANOVA, Welch's t, McNemar,
Kendall τ-b on the day axis, Nelson-Aalen hazard, forecast accuracy,
Jelinek-Mercer retrieval, out-of-fold target encoding, and HITS
(operators/profile.py, funnel.py, timeseries.py, retrieval.py,
sampling.py, graph.py)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from inception_eventstore_spark.operators.profile import (
    anova_oneway,
    kendall_tau_daily,
    mcnemar_paired,
    welch_ttest,
)

TS = dt.datetime(2024, 1, 1, 12, 0)


def _ev(spark, rows):
    """rows: (event_id, ts, user_id, event_type, value)"""
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double",
    )


def _q(v: float) -> int:
    return math.floor(v * 1048576.0)


class TestAnova:
    def test_matches_textbook_f(self, spark):
        # three groups with clearly different means; values are exact
        # 2^-20-multiples so quantization is lossless and the classic
        # F formula applies exactly
        data = {"a": [1.0, 2.0, 3.0], "b": [4.0, 5.0, 6.0],
                "c": [7.0, 8.0, 9.0]}
        rows, eid = [], 0
        for g, vs in data.items():
            for v in vs:
                rows.append((eid, TS, eid, g, v))
                eid += 1
        out = anova_oneway(_ev(spark, rows)).collect()[0]
        assert (out.n_rows, out.k_groups) == (9, 3)
        # hand ANOVA: group means 2,5,8; grand 5; ssb=54; ssw=6
        # F = (54/2)/(6/6) = 27
        assert out.f_stat == pytest.approx(27.0, abs=1e-3)

    def test_identical_groups_f_zero(self, spark):
        rows = []
        for i, g in enumerate(("a", "b")):
            for j, v in enumerate((1.0, 2.0, 3.0)):
                rows.append((i * 10 + j, TS, i, g, v))
        out = anova_oneway(_ev(spark, rows)).collect()[0]
        assert abs(out.f_stat) < 1e-5

    def test_single_group_null(self, spark):
        rows = [(i, TS, i, "a", float(i)) for i in range(4)]
        out = anova_oneway(_ev(spark, rows)).collect()[0]
        assert out.k_groups == 1 and out.f_stat is None


class TestWelch:
    def test_matches_hand_formula(self, spark):
        a = [1.0, 2.0, 3.0, 4.0]
        b = [10.0, 12.0, 14.0, 16.0, 18.0]
        rows, eid = [], 0
        for v in a:
            rows.append((eid, TS, eid, "click", v)); eid += 1
        for v in b:
            rows.append((eid, TS, eid, "purchase", v)); eid += 1
        out = welch_ttest(_ev(spark, rows)).collect()[0]
        assert (out.n_a, out.n_b) == (4, 5)
        ma, mb = sum(a) / 4, sum(b) / 5
        va = sum((x - ma) ** 2 for x in a) / 3
        vb = sum((x - mb) ** 2 for x in b) / 4
        se2 = va / 4 + vb / 5
        t = (ma - mb) / math.sqrt(se2)
        df = se2 ** 2 / ((va / 4) ** 2 / 3 + (vb / 5) ** 2 / 4)
        assert out.t_welch == pytest.approx(t, abs=1e-4)
        assert out.df_welch == pytest.approx(df, abs=1e-3)

    def test_degenerate_single_row_arm(self, spark):
        rows = [(0, TS, 0, "click", 1.0), (1, TS, 1, "purchase", 2.0),
                (2, TS, 2, "purchase", 3.0)]
        out = welch_ttest(_ev(spark, rows)).collect()[0]
        assert (out.n_a, out.n_b) == (1, 2)
        assert out.t_welch is None and out.df_welch is None


class TestMcNemar:
    def test_counts_and_statistic(self, spark):
        # 3 click-only, 1 purchase-only, 2 both, 1 neither-ish (view)
        rows, eid = [], 0
        for u in (1, 2, 3):
            rows.append((eid, TS, u, "click", 1.0)); eid += 1
        rows.append((eid, TS, 4, "purchase", 1.0)); eid += 1
        for u in (5, 6):
            rows.append((eid, TS, u, "click", 1.0)); eid += 1
            rows.append((eid, TS, u, "purchase", 1.0)); eid += 1
        rows.append((eid, TS, 7, "view", 1.0)); eid += 1
        out = mcnemar_paired(_ev(spark, rows)).collect()[0]
        assert (out.n_users, out.b_disc, out.c_disc) == (7, 3, 1)
        assert out.chi2_u == (2 * 2 * 1048576) // 4  # (3-1)^2/(3+1)

    def test_no_discordant_null(self, spark):
        rows = [(0, TS, 1, "view", 1.0), (1, TS, 2, "view", 1.0)]
        out = mcnemar_paired(_ev(spark, rows)).collect()[0]
        assert out.chi2_u is None


class TestKendall:
    def _series(self, spark, xs, ys):
        # xs[d] events on day d; ys[d] distinct users on day d
        rows, eid = [], 0
        for d, (x, y) in enumerate(zip(xs, ys)):
            assert y <= x
            for i in range(x):
                rows.append(
                    (eid, TS + dt.timedelta(days=d), i % y, "view", 1.0)
                )
                eid += 1
        return _ev(spark, rows)

    def test_perfect_concordance(self, spark):
        out = kendall_tau_daily(
            self._series(spark, [2, 4, 6, 8], [1, 2, 3, 4])
        ).collect()[0]
        assert (out.n_days, out.n_pairs) == (4, 6)
        assert (out.concordant, out.discordant) == (6, 0)
        assert out.tau_ppm == 1000000

    def test_perfect_discordance(self, spark):
        # x rises while y falls -> every pair discordant
        out = kendall_tau_daily(
            self._series(spark, [5, 6, 7, 8], [4, 3, 2, 1])
        ).collect()[0]
        assert (out.concordant, out.discordant) == (0, 6)
        assert out.tau_ppm == -1000000

    def test_knight_matches_pair_loop(self):
        # Knight's O(D log D) path must produce the EXACT integers the
        # naive all-pairs sweep does, on adversarial tie-heavy inputs.
        import random
        from collections import Counter

        from inception_eventstore_spark.operators.profile import (
            _count_inversions,
        )

        rng = random.Random(4093)
        for trial in range(200):
            d = rng.randint(1, 40)
            lo, hi = 0, rng.choice([1, 2, 4, 50])
            pts = [
                (rng.randint(lo, hi), rng.randint(lo, hi))
                for _ in range(d)
            ]
            # naive reference
            nc_ref = nd_ref = 0
            for i in range(d):
                for j in range(i + 1, d):
                    xi, yi = pts[i]
                    xj, yj = pts[j]
                    if xi != xj and yi != yj:
                        if (xi - xj) * (yi - yj) > 0:
                            nc_ref += 1
                        else:
                            nd_ref += 1
            # Knight path (mirrors kendall_tau_daily exactly)
            days = sorted(pts)
            nd = _count_inversions([y for _, y in days])
            tx = sum(
                t * (t - 1) // 2
                for t in Counter(x for x, _ in days).values()
            )
            ty = sum(
                t * (t - 1) // 2
                for t in Counter(y for _, y in days).values()
            )
            txy = sum(t * (t - 1) // 2 for t in Counter(days).values())
            n0 = d * (d - 1) // 2
            nc = n0 - nd - tx - ty + txy
            assert (nc, nd) == (nc_ref, nd_ref), (trial, pts)

    def test_ties_reduce_denominator(self, spark):
        # x = 4,4,6 (one tied x pair), y = 1,2,3
        out = kendall_tau_daily(
            self._series(spark, [4, 4, 6], [1, 2, 3])
        ).collect()[0]
        assert out.tie_x == 1 and out.tie_y == 0
        # nc = 2 (pairs with distinct x and y), nd = 0
        assert out.concordant == 2
        expect = math.floor(2e6 / math.sqrt((3 - 1) * 3.0))
        assert out.tau_ppm == expect


class TestNelsonAalen:
    def test_hand_hazard(self, spark):
        from inception_eventstore_spark.operators.funnel import (
            nelson_aalen_hazard,
        )

        rows, eid = [], 0
        # users 1-4 sign up day 0; 1 purchases day 1, 2 purchases
        # day 2; 3 censored day 2 (last event), 4 censored day 3
        for u in (1, 2, 3, 4):
            rows.append((eid, TS, u, "signup", 1.0)); eid += 1
        rows.append((eid, TS + dt.timedelta(days=1), 1, "purchase", 1.0)); eid += 1
        rows.append((eid, TS + dt.timedelta(days=2), 2, "purchase", 1.0)); eid += 1
        rows.append((eid, TS + dt.timedelta(days=2), 3, "view", 1.0)); eid += 1
        rows.append((eid, TS + dt.timedelta(days=3), 4, "view", 1.0)); eid += 1
        out = {
            r.t_days: r
            for r in nelson_aalen_hazard(
                _ev(spark, rows), "signup", "purchase"
            ).collect()
        }
        assert set(out) == {1, 2}
        # day 1: 4 at risk, 1 event -> H = 10^9 // 4
        assert out[1].n_risk == 4
        assert out[1].hazard_ppb == 10**9 // 4
        # day 2: 3 at risk, 1 event -> H += 10^9 // 3
        assert out[2].n_risk == 3
        assert out[2].hazard_ppb == 10**9 // 4 + 10**9 // 3


class TestForecastAccuracy:
    def test_hand_mase(self, spark):
        from inception_eventstore_spark.operators.timeseries import (
            forecast_accuracy,
        )

        # 14 days: week 1 counts 1..7, week 2 counts 2..8 (each day
        # +1 vs the week before -> every seasonal error is 1;
        # day-over-day naive errors are 1 except the -4 jump at d7)
        counts = [1, 2, 3, 4, 5, 6, 7, 2, 3, 4, 5, 6, 7, 8]
        rows, eid = [], 0
        for d, c in enumerate(counts):
            for i in range(c):
                rows.append(
                    (eid, TS + dt.timedelta(days=d), i, "view", 1.0)
                )
                eid += 1
        out = forecast_accuracy(
            _ev(spark, rows), season_days=7
        ).collect()[0]
        assert (out.n_days, out.n_eval, out.n_naive) == (14, 7, 13)
        s7 = sum(abs(counts[d] - counts[d - 7]) for d in range(7, 14))
        s1 = sum(abs(counts[d] - counts[d - 1]) for d in range(1, 14))
        assert out.mase_ppm == (s7 * 13 * 10**6) // (s1 * 7)
        su = sum(
            (2 * abs(counts[d] - counts[d - 7]) * 1048576)
            // (counts[d] + counts[d - 7])
            for d in range(7, 14)
        )
        assert out.smape_mean_u == su // 7


class TestJelinekMercer:
    def test_reference_scores(self, spark):
        from inception_eventstore_spark.operators.retrieval import (
            ql_jelinek_mercer_topk,
        )

        docs = spark.createDataFrame(
            [(1, "apple banana apple"), (2, "banana cherry"),
             (3, "durian durian")],
            "doc_id long, text string",
        )
        out = ql_jelinek_mercer_topk(
            docs, ["apple", "banana"], k=3, lam=0.2
        ).collect()
        corpus = {1: ["apple", "banana", "apple"],
                  2: ["banana", "cherry"], 3: ["durian", "durian"]}
        sdl = 7
        cf = {"apple": 2, "banana": 2}
        expect = {}
        for d, toks in corpus.items():
            s = 0.0
            for t in ("apple", "banana"):
                s += math.log(
                    0.8 * toks.count(t) / len(toks) + 0.2 * cf[t] / sdl
                )
            expect[d] = round(s, 6)
        got = {r.doc_id: r.score for r in out}
        for d in corpus:
            assert got[d] == pytest.approx(expect[d], abs=1e-6)
        # doc 1 must rank first
        assert out[0].doc_id == 1

    def test_zero_length_doc_participates(self, spark):
        from inception_eventstore_spark.operators.retrieval import (
            ql_jelinek_mercer_topk,
        )

        docs = spark.createDataFrame(
            [(1, "apple"), (2, "")], "doc_id long, text string"
        )
        out = ql_jelinek_mercer_topk(docs, ["apple"], k=5, lam=0.5)
        assert {r.doc_id for r in out.collect()} == {1, 2}


class TestTargetEncoding:
    def test_loo_by_fold_exact(self, spark):
        from inception_eventstore_spark.operators.sampling import (
            grouped_kfold,
            target_encode_kfold,
        )

        rows = [(i, TS, i, "a", float(i)) for i in range(20)]
        df = _ev(spark, rows)
        enc = {
            (r.cat, r.fold): r
            for r in target_encode_kfold(
                df, "event_type", "value", k=3
            ).collect()
        }
        folds = {
            r.user_id: r.fold
            for r in grouped_kfold(df, 3, "user_id").collect()
        }
        import collections

        s = collections.Counter()
        n = collections.Counter()
        for i in range(20):
            s[folds[i]] += _q(float(i))
            n[folds[i]] += 1
        s_tot, n_tot = sum(s.values()), sum(n.values())
        for f in set(folds.values()):
            r = enc[("a", f)]
            assert r.n_in == n[f]
            assert r.n_out == n_tot - n[f]
            assert r.enc_u == (s_tot - s[f]) // (n_tot - n[f])

    def test_whole_category_in_one_fold_null(self, spark):
        from inception_eventstore_spark.operators.sampling import (
            target_encode_kfold,
        )

        rows = [(0, TS, 42, "a", 1.0), (1, TS, 42, "a", 2.0)]
        out = target_encode_kfold(
            _ev(spark, rows), "event_type", "value", k=5
        ).collect()
        assert len(out) == 1 and out[0].enc_u is None


class TestHits:
    def test_hand_iteration(self, spark):
        from inception_eventstore_spark.operators.graph import hits_scores

        edges = spark.createDataFrame(
            [(1, 10), (2, 10), (2, 11), (3, 11)], "src long, dst long"
        )
        out = {
            r.node: r for r in hits_scores(edges, iterations=2).collect()
        }
        # python replica of the declared integer recurrence
        E = [(1, 10), (2, 10), (2, 11), (3, 11)]
        nodes = {1, 2, 3, 10, 11}
        deg = {n: 0 for n in nodes}
        for s, d in E:
            deg[s] += 1
            deg[d] += 1
        dmax = max(deg.values())
        h = {n: 1 << 30 for n in nodes}
        a = {}
        for _ in range(2):
            a = {n: 0 for n in nodes}
            for s, d in E:
                a[d] += h[s]
            a = {n: v // dmax for n, v in a.items()}
            h2 = {n: 0 for n in nodes}
            for s, d in E:
                h2[s] += a[d]
            h = {n: v // dmax for n, v in h2.items()}
        for n in nodes:
            assert out[n].hub_u == h[n], n
            assert out[n].auth_u == a[n], n
        # hub 2 points at both authorities -> strongest hub
        assert out[2].hub_u == max(r.hub_u for r in out.values())

    def test_max_degree_guard(self, spark):
        from inception_eventstore_spark.operators.graph import hits_scores

        with pytest.raises(ValueError, match="iterations"):
            hits_scores(
                spark.createDataFrame([(1, 2)], "src long, dst long"),
                iterations=0,
            )


class TestBrownForsythe:
    def test_unequal_spread_large_f(self, spark):
        from inception_eventstore_spark.operators.profile import (
            brown_forsythe,
        )

        rows, eid = [], 0
        # group a: tight around 10; group b: wide
        for v in (9.0, 10.0, 10.0, 11.0, 10.0):
            rows.append((eid, TS, eid, "a", v)); eid += 1
        for v in (0.0, 5.0, 10.0, 15.0, 20.0):
            rows.append((eid, TS, eid, "b", v)); eid += 1
        out = brown_forsythe(_ev(spark, rows)).collect()[0]
        assert (out.n_rows, out.k_groups) == (10, 2)
        # hand BF: medians 10 and 10; deviations a: 1,0,0,1,0
        # b: 10,5,0,5,10 -> ANOVA on deviations
        a = [1.0, 0.0, 0.0, 1.0, 0.0]
        b = [10.0, 5.0, 0.0, 5.0, 10.0]
        ma, mb = sum(a) / 5, sum(b) / 5
        gm = (sum(a) + sum(b)) / 10
        ssb = 5 * (ma - gm) ** 2 + 5 * (mb - gm) ** 2
        ssw = sum((x - ma) ** 2 for x in a) + sum((x - mb) ** 2 for x in b)
        f = (ssb / 1) / (ssw / 8)
        assert out.f_bf == pytest.approx(f, rel=1e-4)

    def test_equal_spread_small_f(self, spark):
        from inception_eventstore_spark.operators.profile import (
            brown_forsythe,
        )

        rows, eid = [], 0
        for g, off in (("a", 0.0), ("b", 100.0)):
            for v in (1.0, 2.0, 3.0, 4.0, 5.0):
                rows.append((eid, TS, eid, g, v + off)); eid += 1
        out = brown_forsythe(_ev(spark, rows)).collect()[0]
        # identical shapes shifted by a constant -> identical
        # deviations -> F exactly 0 (up to micro-unit floors)
        assert abs(out.f_bf) < 1e-5


class TestEce:
    def test_rollup_matches_curve(self, spark):
        from inception_eventstore_spark.operators.scoring import (
            calibration_curve,
            ece_report,
        )

        rows = []
        # probs in two bins with controlled positive rates
        for i in range(10):
            rows.append((i, 0.25, 1 if i < 5 else 0))   # bin 2, rate .5
        for i in range(10, 30):
            rows.append((i, 0.85, 1 if i < 28 else 0))  # bin 8, rate .9
        df = spark.createDataFrame(
            rows, "doc_id long, p double, y int"
        )
        curve = calibration_curve(df, "p", "y", bins=10).collect()
        out = ece_report(df, "p", "y", bins=10).collect()[0]
        assert out.n == 30 and out.n_bins_occupied == 2
        num = sum(
            r.n * round(abs(r.gap) * 1e6) for r in curve
        )
        assert out.ece_ppm == int(num) // 30


class TestBorda:
    def test_hand_fusion(self, spark):
        from inception_eventstore_spark.operators.retrieval import (
            borda_fuse,
        )

        l1 = spark.createDataFrame(
            [(1, 100, 1), (1, 101, 2), (1, 102, 3)],
            "query_id long, item_id long, rank long",
        )
        l2 = spark.createDataFrame(
            [(1, 102, 1), (1, 100, 2), (1, 103, 3)],
            "query_id long, item_id long, rank long",
        )
        out = {
            r.item_id: r
            for r in borda_fuse([l1, l2], list_size=3).collect()
        }
        # points: 100 -> 3+2=5, 101 -> 2, 102 -> 1+3=4, 103 -> 1
        assert out[100].borda_points == 5 and out[100].fused_rank == 1
        assert out[102].borda_points == 4 and out[102].fused_rank == 2
        assert out[101].borda_points == 2
        assert out[103].borda_points == 1
        assert out[100].n_lists == 2 and out[101].n_lists == 1

    def test_rank_overflow_raises(self, spark):
        from inception_eventstore_spark.operators.retrieval import (
            borda_fuse,
        )

        bad = spark.createDataFrame(
            [(1, 100, 4)], "query_id long, item_id long, rank long"
        )
        with pytest.raises(Exception, match="borda_fuse"):
            borda_fuse([bad], list_size=3).collect()


class TestBmp:
    def test_round_trip(self):
        import numpy as np

        from inception_eventstore_spark.operators.multimodal import (
            decode_bmp,
            encode_bmp,
        )

        rng = np.random.default_rng(7)
        for w, h in ((17, 12), (16, 9), (1, 1), (5, 3)):
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            assert np.array_equal(decode_bmp(encode_bmp(px)), px), (w, h)

    def test_gray_expansion_and_guards(self):
        import numpy as np

        from inception_eventstore_spark.operators.multimodal import (
            decode_bmp,
            encode_bmp,
        )

        g = np.arange(12, dtype=np.uint8).reshape(3, 4)
        px = decode_bmp(encode_bmp(g))
        assert np.array_equal(px[:, :, 0], g)
        assert np.array_equal(px[:, :, 1], g)
        with pytest.raises(ValueError, match="BMP"):
            decode_bmp(b"NOPE" + b"\x00" * 60)

    def test_top_down_fixture_decodes_identically(self):
        import numpy as np

        from inception_eventstore_spark.operators.multimodal import (
            _synthetic_image,
            decode_bmp,
            decode_ppm,
            synthetic_bmp_asset_rows,
        )

        rows = synthetic_bmp_asset_rows(6)
        for i, payload in rows:
            expect = decode_ppm(_synthetic_image(i * 17 + 3, w=17, h=12))
            assert np.array_equal(decode_bmp(payload), expect), i
        # every third payload is genuinely top-down (negative height)
        import struct

        assert struct.unpack_from("<i", rows[0][1], 22)[0] < 0
        assert struct.unpack_from("<i", rows[1][1], 22)[0] > 0

    def test_sniffer_integration(self):
        import numpy as np

        from inception_eventstore_spark.operators.multimodal import (
            _decode_image,
            encode_bmp,
        )

        px = np.zeros((4, 5, 3), dtype=np.uint8)
        px[:, :, 0] = 200
        assert np.array_equal(_decode_image(encode_bmp(px)), px)

    def test_catalog_kernel(self, spark):
        import hashlib

        from inception_eventstore_spark.functions.local_df import local_df
        from inception_eventstore_spark.operators.multimodal import (
            bmp_catalog,
            decode_bmp,
            synthetic_bmp_asset_rows,
        )

        rows = synthetic_bmp_asset_rows(8)
        assets = local_df(
            spark,
            [(i, bytearray(p)) for i, p in rows],
            "asset_id long, payload binary",
        )
        got = {r.asset_id: r for r in bmp_catalog(assets).collect()}
        for i, payload in rows:
            px = decode_bmp(payload)
            assert got[i].width == px.shape[1]
            assert got[i].height == px.shape[0]
            assert got[i].pixel_md5 == hashlib.md5(px.tobytes()).hexdigest()


class TestCohensD:
    def test_hand_effect_size(self, spark):
        from inception_eventstore_spark.operators.profile import (
            cohens_d_effect,
        )

        a = [1.0, 2.0, 3.0, 4.0]
        b = [5.0, 6.0, 7.0, 8.0, 9.0]
        rows, eid = [], 0
        for v in a:
            rows.append((eid, TS, eid, "click", v)); eid += 1
        for v in b:
            rows.append((eid, TS, eid, "purchase", v)); eid += 1
        out = cohens_d_effect(_ev(spark, rows)).collect()[0]
        ma, mb = sum(a) / 4, sum(b) / 5
        va = sum((x - ma) ** 2 for x in a) / 3
        vb = sum((x - mb) ** 2 for x in b) / 4
        sp2 = (3 * va + 4 * vb) / 7
        d = (ma - mb) / math.sqrt(sp2)
        g = d * (1 - 3 / (4 * 9 - 9))
        assert out.cohens_d == pytest.approx(d, abs=1e-4)
        assert out.hedges_g == pytest.approx(g, abs=1e-4)

    def test_zero_variance_null(self, spark):
        from inception_eventstore_spark.operators.profile import (
            cohens_d_effect,
        )

        rows = [(0, TS, 0, "click", 2.0), (1, TS, 1, "click", 2.0),
                (2, TS, 2, "purchase", 5.0), (3, TS, 3, "purchase", 5.0)]
        out = cohens_d_effect(_ev(spark, rows)).collect()[0]
        assert out.cohens_d is None and out.hedges_g is None


class TestRbo:
    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )

    def test_identical_rankers_truncated_max(self, spark):
        from inception_eventstore_spark.operators.retrieval import (
            rank_overlap_rbo,
        )

        # equal-length docs with strictly decreasing tf: BM25 and QL
        # agree on the top-3 order, so the truncated RBO is maximal
        docs = self._docs(
            spark,
            ["apple apple apple", "apple apple pad", "apple pad pad",
             "pear tart plum", "pear pear pear"],
        )
        out = rank_overlap_rbo(docs, ["apple"], k=3).collect()[0]
        # identical lists: ov_d = d -> rbo = sum 9^(d-1)*1e6 // 10^d
        expect = sum((d * 9 ** (d - 1) * 10**6) // (d * 10**d)
                     for d in (1, 2, 3))
        assert out.rbo_ppm == expect
        assert out.overlap_k == 3

    def test_python_fold_matches_definition(self, spark):
        from inception_eventstore_spark.operators.retrieval import (
            bm25_topk,
            ql_dirichlet_topk,
            rank_overlap_rbo,
        )

        texts = [
            "spark merge window", "spark spark lake", "merge queue",
            "window pane glass", "spark", "merge window spark extra",
            "unrelated words here", "lake house", "glass spark",
            "merge merge merge",
        ]
        docs = self._docs(spark, texts)
        out = rank_overlap_rbo(
            docs, ["spark", "merge"], k=5
        ).collect()[0]
        la = [r.doc_id for r in
              bm25_topk(docs, ["spark", "merge"], k=5).collect()]
        lb = [r.doc_id for r in
              ql_dirichlet_topk(docs, ["spark", "merge"], k=5).collect()]
        rbo = 0
        for d in range(1, 6):
            ov = len(set(la[:d]) & set(lb[:d]))
            rbo += (ov * 9 ** (d - 1) * 10**6) // (d * 10**d)
        assert out.rbo_ppm == rbo
