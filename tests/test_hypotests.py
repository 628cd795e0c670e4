"""Closed-form checks for the hypothesis-test operators (textbook
values computed by hand on tiny fixtures)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lib_gdal_spark.operators.hypotests import (
    anova_oneway, chi2_independence, ks_2samp, kruskal_wallis,
    mann_whitney_u, spearman_rho,
)
from lib_gdal_spark.operators.timeseries import isotonic_pava


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_mann_whitney_no_overlap(spark):
    # A = {1,2,3}, B = {10,20,30}: U1 = 0, rank sum A = 1+2+3
    d = _df(spark, [("a", 1), ("a", 2), ("a", 3),
                    ("b", 10), ("b", 20), ("b", 30)], "g string, v long")
    r = mann_whitney_u(d, "g", "v", "a", "b").collect()[0]
    assert r["n1"] == 3 and r["n2"] == 3
    assert r["r2_sum1"] == 2 * (1 + 2 + 3)
    assert r["u1_x2"] == 0
    # z = (0 - 4.5)/sqrt(9*7/12) = -4.5/sqrt(5.25)
    assert r["z"] == pytest.approx(-4.5 / (5.25 ** 0.5), abs=1e-9)


def test_mann_whitney_ties_average_rank(spark):
    # A = {1,2}, B = {2,3}: the tied 2s share rank 2.5
    d = _df(spark, [("a", 1), ("a", 2), ("b", 2), ("b", 3)],
            "g string, v long")
    r = mann_whitney_u(d, "g", "v", "a", "b").collect()[0]
    assert r["r2_sum1"] == 2 * 1 + 5  # ranks 1 + 2.5, doubled
    assert r["u1_x2"] == 7 - 6  # 2*(3.5 - 3) = 1


def test_kruskal_wallis_identical_groups(spark):
    # identical distributions -> H == 0
    d = _df(spark, [("a", 1), ("a", 2), ("b", 1), ("b", 2)],
            "g string, v long")
    r = kruskal_wallis(d, "g", "v").collect()[0]
    assert r["h"] == pytest.approx(0.0, abs=1e-9)


def test_chi2_independent_table(spark):
    # perfectly proportional table -> chi2 == 0
    rows = ([("x", 0)] * 10 + [("x", 1)] * 20
            + [("y", 0)] * 5 + [("y", 1)] * 10)
    d = _df(spark, rows, "a string, b long")
    r = chi2_independence(d, "a", "b").collect()[0]
    assert r["chi2"] == pytest.approx(0.0, abs=1e-9)
    assert r["df_free"] == 1


def test_anova_textbook(spark):
    # groups {1,2,3}, {2,3,4}: means 2, 3; SSB = 3*2*(0.5^2) = 1.5;
    # SSW = 2 + 2 = 4; F = (1.5/1)/(4/4) = 1.5
    rows = [("a", 1), ("a", 2), ("a", 3), ("b", 2), ("b", 3), ("b", 4)]
    r = anova_oneway(_df(spark, rows, "g string, v long"),
                     "g", "v").collect()[0]
    assert r["ssb"] == pytest.approx(1.5, abs=1e-9)
    assert r["ssw"] == pytest.approx(4.0, abs=1e-9)
    assert r["f"] == pytest.approx(1.5, abs=1e-9)


def test_ks_disjoint_supports(spark):
    d = _df(spark, [("a", 1), ("a", 2), ("b", 5), ("b", 6)],
            "g string, v long")
    r = ks_2samp(d, "g", "v", "a", "b").collect()[0]
    assert r["d"] == 1.0 and r["d_num"] == 4


def test_spearman_perfect_monotone(spark):
    d = _df(spark, [(i, i * i) for i in range(1, 20)], "x long, y long")
    r = spearman_rho(d, "x", "y").collect()[0]
    assert r["rho"] == pytest.approx(1.0, abs=1e-9)
    d2 = _df(spark, [(i, -3 * i) for i in range(1, 20)], "x long, y long")
    assert spearman_rho(d2, "x", "y").collect()[0]["rho"] == \
        pytest.approx(-1.0, abs=1e-9)


def test_isotonic_pava_pools_violators(spark):
    # x = [3, 1, 2, 5]: PAVA pools [3,1,2] -> 2,2,2 then 5 stays
    s = _df(spark, [(0, 3), (1, 1), (2, 2), (3, 5)], "t long, x long")
    out = {r["t"]: r["fitted"] for r in isotonic_pava(s).collect()}
    assert out == {0: 2.0, 1: 2.0, 2: 2.0, 3: 5.0}


def test_isotonic_pava_monotone_input_unchanged(spark):
    s = _df(spark, [(t, t * 2) for t in range(6)], "t long, x long")
    out = isotonic_pava(s).collect()
    for r in out:
        assert r["fitted"] == float(r["x"])


def test_mcnemar_textbook(spark):
    # b = 10 (1->0), c = 5 (0->1): chi2 = 25/15; cc = 16/15
    rows = ([(1, 0)] * 10 + [(0, 1)] * 5 + [(1, 1)] * 20 + [(0, 0)] * 7)
    from lib_gdal_spark.operators.hypotests import mcnemar_test
    r = mcnemar_test(spark.createDataFrame(rows, "x int, y int"),
                     "x", "y").collect()[0]
    assert r["b"] == 10 and r["c"] == 5
    assert r["chi2"] == pytest.approx(25 / 15, abs=1e-9)
    assert r["chi2_cc"] == pytest.approx(16 / 15, abs=1e-9)


def test_bh_fdr_monotone_and_clipped(spark):
    from lib_gdal_spark.operators.hypotests import bh_fdr
    d = spark.createDataFrame(
        [(1, 0.01), (2, 0.04), (3, 0.03), (4, 0.9)], "tid long, p double")
    out = {r["id"]: r for r in bh_fdr(d, "tid", "p").collect()}
    # sorted p: .01, .03, .04, .9 -> raw q: .04, .06, .053.., .9
    # suffix min: .04, .0533.., .0533.., .9
    assert out[1]["q"] == pytest.approx(0.04, abs=1e-9)
    assert out[3]["q"] == pytest.approx(0.04 * 4 / 3, abs=1e-9)
    assert out[2]["q"] == pytest.approx(0.04 * 4 / 3, abs=1e-9)
    assert out[4]["q"] == pytest.approx(0.9, abs=1e-9)
    qs = [out[i]["q"] for i in (1, 3, 2, 4)]
    assert qs == sorted(qs)


def test_page_hinkley_detects_shift(spark):
    from lib_gdal_spark.operators.timeseries import page_hinkley
    # flat 10s then a jump to 100: alarm fires after the shift
    rows = [(t, 10) for t in range(50)] + [(t, 100) for t in range(50, 70)]
    s = spark.createDataFrame(rows, "t long, x long")
    out = page_hinkley(s, delta=0.5, lam=50.0).orderBy("t").collect()
    assert not any(r["alarm"] for r in out[:50])
    assert any(r["alarm"] for r in out[50:])


def test_gini_extremes(spark):
    from lib_gdal_spark.operators.hypotests import gini_lorenz
    # perfectly equal values -> gini ~ 0 (exact: (n-1)... -> 0 for equal)
    eq = spark.createDataFrame([(i, 5) for i in range(100)],
                               "tid long, v long")
    out = gini_lorenz(eq, "v").collect()
    assert all(abs(r["gini"]) < 0.011 for r in out)  # (n+1)/n edge -> ~0
    assert out[-1] if out else True
    # one holder owns everything -> gini ~ 1 - 1/n
    uneq = spark.createDataFrame(
        [(i, 0) for i in range(99)] + [(99, 1000)], "tid long, v long")
    g = gini_lorenz(uneq, "v").collect()[0]["gini"]
    assert g == pytest.approx(1 - 1 / 100, abs=1e-9)


def test_herfindahl_extremes(spark):
    from lib_gdal_spark.operators.hypotests import herfindahl
    mono = spark.createDataFrame([("a", 10)] * 5, "g string, v long")
    r = herfindahl(mono, "g", "v").collect()[0]
    assert r["hhi"] == 1.0
    even = spark.createDataFrame(
        [("a", 10), ("b", 10), ("c", 10), ("d", 10)], "g string, v long")
    r = herfindahl(even, "g", "v").collect()[0]
    assert r["hhi"] == pytest.approx(0.25, abs=1e-9)
    assert r["hhi_norm"] == pytest.approx(0.0, abs=1e-9)


def test_runs_test_alternating(spark):
    from lib_gdal_spark.operators.hypotests import runs_test
    # perfectly alternating -> maximal runs, strongly positive z
    d = spark.createDataFrame([(t, t % 2 == 0) for t in range(40)],
                              "t long, flag boolean")
    r = runs_test(d, "t", "flag").collect()[0]
    assert r["runs"] == 40
    assert r["z"] > 5


def test_durbin_watson_trend_vs_alternating(spark):
    from lib_gdal_spark.operators.hypotests import durbin_watson
    # alternating residuals -> DW near 4; smooth trend residuals -> near 0
    alt = spark.createDataFrame(
        [(t, 100 + (10 if t % 2 == 0 else -10)) for t in range(60)],
        "t long, x long")
    assert durbin_watson(alt).collect()[0]["dw"] > 3.5
    smooth = spark.createDataFrame(
        [(t, 100 + (t // 20) * 50) for t in range(60)], "t long, x long")
    assert durbin_watson(smooth).collect()[0]["dw"] < 1.0


def test_grubbs_flags_outlier(spark):
    from lib_gdal_spark.operators.hypotests import grubbs_stat
    d = spark.createDataFrame([(i, 50) for i in range(30)]
                              + [(30, 500)], "tid long, v long")
    r = grubbs_stat(d, "v").collect()[0]
    assert r["x_out"] == 500
    assert r["g"] > 5


def test_cohen_kappa_extremes(spark):
    from lib_gdal_spark.operators.hypotests import cohen_kappa
    # perfect agreement -> kappa 1
    d = spark.createDataFrame([(i % 3, i % 3) for i in range(60)],
                              "a long, b long")
    assert cohen_kappa(d, "a", "b").collect()[0]["kappa"] == 1.0
    # independence (balanced cross) -> kappa ~ 0
    rows = [(a, b) for a in range(3) for b in range(3) for _ in range(10)]
    d2 = spark.createDataFrame(rows, "a long, b long")
    assert cohen_kappa(d2, "a", "b").collect()[0]["kappa"] == \
        pytest.approx(0.0, abs=1e-9)


def test_roc_auc_extremes_and_ties(spark):
    from lib_gdal_spark.operators.hypotests import roc_auc
    # perfectly separated scores -> AUC 1
    d = spark.createDataFrame(
        [(i, 0) for i in range(50)] + [(100 + i, 1) for i in range(50)],
        "score long, label int")
    assert roc_auc(d, "score", "label").collect()[0]["auc"] == 1.0
    # all scores tied -> AUC exactly 0.5 by midranks
    d2 = spark.createDataFrame(
        [(7, i % 2) for i in range(40)], "score long, label int")
    assert roc_auc(d2, "score", "label").collect()[0]["auc"] == 0.5


def test_pr_curve_monotone_recall(spark):
    from lib_gdal_spark.operators.hypotests import pr_curve
    d = spark.createDataFrame(
        [(i % 10 * 100, int(i % 3 == 0)) for i in range(300)],
        "score long, label int")
    rows = pr_curve(d, "score", "label").collect()
    recs = [r["recall"] for r in rows]  # thresholds descending
    assert recs == sorted(recs)
    assert rows[-1]["recall"] == 1.0  # lowest threshold captures all


def test_calibration_perfectly_calibrated(spark):
    from lib_gdal_spark.operators.hypotests import calibration_bins
    # construct labels so each bin's positive rate equals its mean score
    rows = []
    for i in range(1000):
        score = i % 1000
        rows.append((score, int((i * 7 + 3) % 1000 < score)))
    d = spark.createDataFrame(rows, "score long, label int")
    out = calibration_bins(d, "score", "label").collect()
    total_ece = sum(r["ece_term"] for r in out)
    # the hash pairing leaves ~0.1 residual per-bin noise at n=100/bin;
    # the point is the plumbing (10 bins, conf rises with bin, terms sum)
    assert total_ece < 0.15
    confs = [r["conf"] for r in sorted(out, key=lambda r: r["bin"])]
    assert confs == sorted(confs) and len(out) == 10


def test_theil_extremes(spark):
    from lib_gdal_spark.operators.hypotests import theil_index
    # equal values -> T == 0
    eq = spark.createDataFrame([(i, 7) for i in range(100)],
                               "tid long, v long")
    assert theil_index(eq, "v").collect()[0]["theil"] == \
        pytest.approx(0.0, abs=1e-9)
    # one holder -> T = ln(n_pos) of the positive subset (here 1 -> 0);
    # two-point {1, 1000}: T known closed form
    import math
    d = spark.createDataFrame([(0, 1), (1, 1000)], "tid long, v long")
    mu = 1001 / 2
    want = (1 * math.log(1 / mu) + 1000 * math.log(1000 / mu)) / 1001
    assert theil_index(d, "v").collect()[0]["theil"] == \
        pytest.approx(want, abs=1e-6)


def test_compactness_square_vs_sliver(spark):
    import numpy as np
    from lib_gdal_spark.functions import geometry as G
    from lib_gdal_spark.operators.layer_algebra import compactness
    sq = G.wkb_polygon([np.asarray(G.box_ring(0, 0, 10, 10))])
    sliver = G.wkb_polygon([np.asarray(G.box_ring(0, 0, 100, 1))])
    layer = spark.createDataFrame(
        [(0, bytearray(sq)), (1, bytearray(sliver))],
        "fid long, geom_wkb binary")
    got = {r["fid"]: r for r in compactness(layer).collect()}
    import math
    assert got[0]["polsby_popper"] == pytest.approx(
        4 * math.pi * 100 / 1600, abs=1e-9)
    assert got[0]["polsby_popper"] > got[1]["polsby_popper"] * 5
    # schwartzberg is inverse-sense: sliver bigger
    assert got[1]["schwartzberg"] > got[0]["schwartzberg"]


def test_kendall_perfect_and_reversed(spark):
    from lib_gdal_spark.operators.hypotests import kendall_tau
    up = spark.createDataFrame([(i, i * 2) for i in range(50)],
                               "x long, y long")
    assert kendall_tau(up, "x", "y").collect()[0]["tau_b"] == 1.0
    dn = spark.createDataFrame([(i, -i) for i in range(50)],
                               "x long, y long")
    assert kendall_tau(dn, "x", "y").collect()[0]["tau_b"] == -1.0


def test_kendall_guard(spark):
    from lib_gdal_spark.operators.hypotests import kendall_tau
    big = spark.range(30000).select(F.col("id").alias("x"),
                                    F.col("id").alias("y"))
    with pytest.raises(ValueError):
        kendall_tau(big, "x", "y")


def test_ndcg_perfect_ranking(spark):
    from lib_gdal_spark.operators.hypotests import ndcg_at_k
    # scores already ordered by relevance -> ndcg 1 for that query
    rows = [(0, d, 100 - d, 3 - min(d, 3)) for d in range(8)]
    d = spark.createDataFrame(rows, "q long, doc long, s long, r long")
    out = ndcg_at_k(d, "q", "doc", "s", "r", k=10).collect()[0]
    assert out["ndcg"] == 1.0
    # worst ordering scores lower
    rows2 = [(1, d, d, 3 - min(d, 3)) for d in range(8)]
    d2 = spark.createDataFrame(rows2, "q long, doc long, s long, r long")
    out2 = ndcg_at_k(d2, "q", "doc", "s", "r", k=10).collect()[0]
    assert out2["ndcg"] < 1.0


def test_atkinson_extremes(spark):
    from lib_gdal_spark.operators.hypotests import atkinson_index
    eq = spark.createDataFrame([(i, 9) for i in range(40)],
                               "tid long, v long")
    assert atkinson_index(eq, "v").collect()[0]["atkinson"] == \
        pytest.approx(0.0, abs=1e-9)
    import math
    d = spark.createDataFrame([(0, 1), (1, 100)], "tid long, v long")
    want = 1 - math.sqrt(100) / 50.5
    assert atkinson_index(d, "v").collect()[0]["atkinson"] == \
        pytest.approx(want, abs=1e-6)


def test_hoover_extremes(spark):
    from lib_gdal_spark.operators.hypotests import hoover_index
    eq = spark.createDataFrame([(i, 5) for i in range(50)],
                               "tid long, v long")
    assert hoover_index(eq, "v").collect()[0]["hoover"] == 0.0
    # one holder owns all -> H = (n-1)/n
    d = spark.createDataFrame([(i, 0) for i in range(9)] + [(9, 90)],
                              "tid long, v long")
    assert hoover_index(d, "v").collect()[0]["hoover"] == \
        pytest.approx(0.9, abs=1e-9)


def test_mad_known(spark):
    from lib_gdal_spark.operators.hypotests import mad_robust
    d = spark.createDataFrame([(i, v) for i, v in
                               enumerate([1, 1, 2, 2, 4, 6, 9])],
                              "tid long, v long")
    r = mad_robust(d, "v").collect()[0]
    assert r["median"] == 2
    # |x-2| = [1,1,0,0,2,4,7] -> lower median 1
    assert r["mad"] == 1


def test_palma_known(spark):
    from lib_gdal_spark.operators.hypotests import palma_ratio
    # 10 values 1..10: bottom 40% = ranks 1-4 -> 1+2+3+4 = 10;
    # top 10% = rank 10 -> 10; palma = 1.0
    d = spark.createDataFrame([(i, i + 1) for i in range(10)],
                              "tid long, v long")
    r = palma_ratio(d, "v").collect()[0]
    assert r["bottom40_sum"] == 10 and r["top10_sum"] == 10
    assert r["palma"] == 1.0


def test_wilcoxon_symmetric_null(spark):
    from lib_gdal_spark.operators.hypotests import wilcoxon_signed_rank
    # perfectly antisymmetric differences -> W+ = half the rank sum, z ~ 0
    rows = [(i, 10, 10 + d) for i, d in enumerate([1, -1, 2, -2, 3, -3])]
    d = spark.createDataFrame(rows, "tid long, a long, b long")
    r = wilcoxon_signed_rank(d, "a", "b").collect()[0]
    assert r["n_used"] == 6
    assert abs(r["z"]) < 1e-9
    # zeros drop
    d2 = spark.createDataFrame(rows + [(9, 5, 5)],
                               "tid long, a long, b long")
    assert wilcoxon_signed_rank(d2, "a", "b").collect()[0]["n_used"] == 6


def test_chao1_known(spark):
    from lib_gdal_spark.operators.hypotests import chao1_richness
    # 3 singletons, 1 doubleton, 1 tripleton: S=5, f1=3, f2=1
    keys = ["a", "b", "c", "d", "d", "e", "e", "e"]
    d = spark.createDataFrame([(k,) for k in keys], "w string")
    r = chao1_richness(d, "w").collect()[0]
    assert (r["s_obs"], r["f1"], r["f2"]) == (5, 3, 1)
    assert r["chao1"] == pytest.approx(5 + 3 * 2 / (2 * 2), abs=1e-9)


def test_good_turing_known(spark):
    from lib_gdal_spark.operators.hypotests import good_turing_counts
    # N_1 = 2, N_2 = 1 -> r*(1) = 2 * 1/2 = 1.0
    keys = ["a", "b", "c", "c"]
    d = spark.createDataFrame([(k,) for k in keys], "w string")
    out = {r["r"]: r for r in good_turing_counts(d, "w").collect()}
    assert out[1]["n_r"] == 2 and out[2]["n_r"] == 1
    assert out[1]["r_star"] == pytest.approx(1.0, abs=1e-9)
    assert out[2]["r_star"] is None  # no N_3


def test_simpson_extremes(spark):
    from lib_gdal_spark.operators.hypotests import simpson_diversity
    mono = spark.createDataFrame([("x",)] * 10, "k string")
    r = simpson_diversity(mono, "k").collect()[0]
    assert r["simpson"] == 0.0 and r["inv_simpson"] == 1.0
    even = spark.createDataFrame([(str(i % 4),) for i in range(40)],
                                 "k string")
    r2 = simpson_diversity(even, "k").collect()[0]
    assert r2["inv_simpson"] == pytest.approx(4.0, abs=1e-9)


def test_friedman_no_effect_vs_strong_effect(spark):
    from lib_gdal_spark.operators.hypotests import friedman_test
    # constant treatment effect ordering in every block -> max chi2
    rows = [(b, t, t * 10 + b) for b in range(20) for t in range(4)]
    d = spark.createDataFrame(rows, "blk long, trt long, v long")
    r = friedman_test(d, "blk", "trt", "v").collect()[0]
    # perfect ordering: chi2_F = n*(k-1) = 60
    assert r["chi2_f"] == pytest.approx(60.0, abs=1e-9)
    with pytest.raises(ValueError):
        friedman_test(d.where(~((F.col("blk") == 0) & (F.col("trt") == 0))),
                      "blk", "trt", "v")


def test_cochran_q_equals_mcnemar_for_k2(spark):
    from lib_gdal_spark.operators.hypotests import cochran_q, mcnemar_test
    # textbook identity: k = 2 Cochran's Q == uncorrected McNemar chi2
    import random
    rng = random.Random(3)
    pairs = [(rng.randint(0, 1), rng.randint(0, 1)) for _ in range(60)]
    long_rows = [(b, 0, a) for b, (a, _) in enumerate(pairs)] + \
        [(b, 1, c) for b, (_, c) in enumerate(pairs)]
    d = spark.createDataFrame(long_rows, "blk long, trt long, x int")
    q = cochran_q(d, "blk", "trt", "x").collect()[0]["q"]
    wide = spark.createDataFrame(pairs, "x int, y int")
    chi2 = mcnemar_test(wide, "x", "y").collect()[0]["chi2"]
    assert q == pytest.approx(chi2, abs=1e-9)


def test_cronbach_perfectly_consistent(spark):
    from lib_gdal_spark.operators.hypotests import cronbach_alpha
    # every item identical per subject -> alpha == 1
    rows = [(s, i, s * 3 + 7) for s in range(40) for i in range(4)]
    d = spark.createDataFrame(rows, "subj long, item long, v long")
    assert cronbach_alpha(d, "subj", "item", "v").collect()[0]["alpha"] \
        == pytest.approx(1.0, abs=1e-9)


def test_wasserstein_known_shift(spark):
    from lib_gdal_spark.operators.hypotests import wasserstein_1d
    # identical distributions shifted by exactly d -> W1 == d
    rows = [("a", v) for v in [1, 2, 3, 4]] + \
        [("b", v + 7) for v in [1, 2, 3, 4]]
    d = spark.createDataFrame(rows, "g string, v long")
    r = wasserstein_1d(d, "g", "v", "a", "b").collect()[0]
    assert r["w1"] == pytest.approx(7.0, abs=1e-9)
    same = spark.createDataFrame(
        [("a", v) for v in [1, 5, 9]] + [("b", v) for v in [1, 5, 9]],
        "g string, v long")
    assert wasserstein_1d(same, "g", "v", "a", "b").collect()[0]["w1"] \
        == 0.0


def test_total_variation_extremes(spark):
    from lib_gdal_spark.operators.hypotests import total_variation
    disjoint = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10), ("b", 11)], "g string, v long")
    assert total_variation(disjoint, "g", "v", "a", "b") \
        .collect()[0]["tv"] == 1.0
    same = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("b", 2)], "g string, v long")
    assert total_variation(same, "g", "v", "a", "b") \
        .collect()[0]["tv"] == 0.0


def test_hellinger_extremes(spark):
    from lib_gdal_spark.operators.hypotests import hellinger_distance
    disjoint = spark.createDataFrame(
        [("a", 1), ("b", 9)], "g string, v long")
    assert hellinger_distance(disjoint, "g", "v", "a", "b") \
        .collect()[0]["hellinger"] == 1.0
    same = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("b", 2)], "g string, v long")
    assert hellinger_distance(same, "g", "v", "a", "b") \
        .collect()[0]["hellinger"] == pytest.approx(0.0, abs=1e-6)


def test_cliffs_delta_extremes(spark):
    from lib_gdal_spark.operators.hypotests import cliffs_delta
    d = spark.createDataFrame(
        [("a", v) for v in [1, 2, 3]] + [("b", v) for v in [10, 11]],
        "g string, v long")
    # every a < every b -> U1 = 0 -> delta = -1
    assert cliffs_delta(d, "g", "v", "a", "b").collect()[0]["delta"] \
        == -1.0
    assert cliffs_delta(d, "g", "v", "b", "a").collect()[0]["delta"] \
        == 1.0


def test_levene_equal_vs_unequal_spread(spark):
    from lib_gdal_spark.operators.hypotests import levene_test
    import random
    rng = random.Random(5)
    tight = [("a", 50 + rng.randint(-2, 2)) for _ in range(60)]
    wide = [("b", 50 + rng.randint(-30, 30)) for _ in range(60)]
    d = spark.createDataFrame(tight + wide, "g string, v long")
    w_diff = levene_test(d, "g", "v").collect()[0]["w"]
    same = spark.createDataFrame(
        [("a", 50 + rng.randint(-5, 5)) for _ in range(60)]
        + [("b", 50 + rng.randint(-5, 5)) for _ in range(60)],
        "g string, v long")
    w_same = levene_test(same, "g", "v").collect()[0]["w"]
    assert w_diff > 10 * max(w_same, 0.1)


def test_trimmed_mean_kills_outliers(spark):
    from lib_gdal_spark.operators.hypotests import trimmed_mean
    rows = [(i, 100) for i in range(18)] + [(18, 0), (19, 100000)]
    d = spark.createDataFrame(rows, "tid long, v long")
    r = trimmed_mean(d, "v", 10).collect()[0]
    # 10% of 20 = 2 trimmed each side: both outliers gone
    assert r["n_trimmed_each"] == 2
    assert r["trimmed_mean"] == 100.0


def test_bootstrap_ci_brackets_mean(spark):
    from lib_gdal_spark.operators.hypotests import bootstrap_ci_mean
    d = spark.range(300).select(
        F.col("id").alias("pid"), ((F.col("id") * 7) % 50).alias("v"))
    r = bootstrap_ci_mean(d, "v", n_resamples=50, id_col="pid") \
        .collect()[0]
    assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]
    assert r["ci_hi"] - r["ci_lo"] < 10
    # determinism across partitionings
    r2 = bootstrap_ci_mean(d.repartition(5), "v", n_resamples=50,
                           id_col="pid").collect()[0]
    assert (r["ci_lo"], r["ci_hi"]) == (r2["ci_lo"], r2["ci_hi"])


def test_partial_correlation_removes_confounder(spark):
    from lib_gdal_spark.operators.hypotests import partial_correlation
    import random
    rng = random.Random(11)
    rows = []
    for _ in range(500):
        z = rng.randint(0, 100)
        rows.append((z + rng.randint(0, 10), z + rng.randint(0, 10), z))
    d = spark.createDataFrame(rows, "x long, y long, z long")
    r = partial_correlation(d, "x", "y", "z").collect()[0]
    # x and y are strongly correlated only through z
    assert r["r_xy"] > 0.8
    assert abs(r["r_partial"]) < 0.2


def test_cramers_v_perfect_association(spark):
    from lib_gdal_spark.operators.hypotests import cramers_v
    rows = [(str(i % 3), i % 3) for i in range(90)]
    d = spark.createDataFrame(rows, "a string, b long")
    assert cramers_v(d, "a", "b").collect()[0]["v"] == \
        pytest.approx(1.0, abs=1e-9)


def test_odds_ratio_textbook(spark):
    from lib_gdal_spark.operators.hypotests import odds_ratio
    rows = ([(1, 1)] * 20 + [(1, 0)] * 80 + [(0, 1)] * 10 + [(0, 0)] * 90)
    d = spark.createDataFrame(rows, "e int, o int")
    r = odds_ratio(d, "e", "o").collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (20, 80, 10, 90)
    assert r["odds_ratio"] == pytest.approx(20 * 90 / (80 * 10), abs=1e-9)
    assert r["relative_risk"] == pytest.approx(0.2 / 0.1, abs=1e-9)
    assert r["ci_lo"] < r["odds_ratio"] < r["ci_hi"]
    # zero cell -> NULLs, loud
    z = spark.createDataFrame([(1, 1), (0, 0)], "e int, o int")
    rz = odds_ratio(z, "e", "o").collect()[0]
    assert rz["odds_ratio"] is None
