"""Closed-form checks for the trajectory distances (Hausdorff, DTW,
Frechet, LCSS) and circular statistics."""

from __future__ import annotations

import pytest

from lib_gdal_spark.operators.trajectory import hausdorff_pairs


def test_hausdorff_known_pair(spark):
    # A = unit square corners at origin; B = same shifted by (3, 4)
    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (0, 1.0, 0.0), (0, 0.0, 1.0), (0, 1.0, 1.0),
         (1, 3.0, 4.0), (1, 4.0, 4.0), (1, 3.0, 5.0), (1, 4.0, 5.0)],
        "tid long, x double, y double")
    pairs = spark.createDataFrame([(0, 1)], "tid_a long, tid_b long")
    r = hausdorff_pairs(pts, pairs).collect()[0]
    # nearest-corner map: every corner's nearest counterpart is the
    # matching corner at offset (3,4) minus the inner ones; extremes:
    # (0,0)->(3,4) dist 5; (1,1)->(3,4) dist sqrt(4+9)=sqrt(13)
    assert r["h_ab"] == 5.0
    assert r["h_ba"] == 5.0
    assert r["hausdorff"] == 5.0


def test_hausdorff_asymmetry(spark):
    # B contains A plus a far outlier: h(A,B) small, h(B,A) large
    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (0, 1.0, 0.0),
         (1, 0.0, 0.0), (1, 1.0, 0.0), (1, 100.0, 0.0)],
        "tid long, x double, y double")
    pairs = spark.createDataFrame([(0, 1)], "tid_a long, tid_b long")
    r = hausdorff_pairs(pts, pairs).collect()[0]
    assert r["h_ab"] == 0.0
    assert r["h_ba"] == 99.0
    assert r["hausdorff"] == 99.0


def test_dtw_identical_and_shifted(spark):
    from lib_gdal_spark.operators.trajectory import dtw_pairs
    # identical tracks -> cost 0; constant-offset track -> n * offset^2
    rows = []
    for vi in range(5):
        rows.append((0, vi, vi * 10, 0))
        rows.append((1, vi, vi * 10, 0))
        rows.append((2, vi, vi * 10, 3))   # shifted by (0, 3)
    pts = spark.createDataFrame(rows, "tid long, vi long, x long, y long")
    pairs = spark.createDataFrame([(0, 1), (0, 2)],
                                  "tid_a long, tid_b long")
    got = {(r["tid_a"], r["tid_b"]): r["dtw_cost"]
           for r in dtw_pairs(pts, pairs).collect()}
    assert got[(0, 1)] == 0
    assert got[(0, 2)] == 5 * 9  # diagonal path,per-step cost 9


def test_dtw_warping_beats_lockstep(spark):
    from lib_gdal_spark.operators.trajectory import dtw_pairs
    # A = [0, 0, 10]; B = [0, 10, 10]: warping aligns the plateaus
    pts = spark.createDataFrame(
        [(0, 0, 0, 0), (0, 1, 0, 0), (0, 2, 10, 0),
         (1, 0, 0, 0), (1, 1, 10, 0), (1, 2, 10, 0)],
        "tid long, vi long, x long, y long")
    pairs = spark.createDataFrame([(0, 1)], "tid_a long, tid_b long")
    r = dtw_pairs(pts, pairs).collect()[0]
    assert r["dtw_cost"] == 0  # perfect warp; lockstep would cost 200


def test_dtw_max_len_guard(spark):
    from lib_gdal_spark.operators.trajectory import dtw_pairs
    pts = spark.createDataFrame(
        [(0, i, i, 0) for i in range(10)] + [(1, i, i, 0) for i in range(10)],
        "tid long, vi long, x long, y long")
    pairs = spark.createDataFrame([(0, 1)], "tid_a long, tid_b long")
    import pytest as _pt
    with _pt.raises(Exception):
        dtw_pairs(pts, pairs, max_len=4).collect()


def test_frechet_identical_and_shifted(spark):
    from lib_gdal_spark.operators.trajectory import frechet_pairs
    rows = []
    for vi in range(5):
        rows.append((0, vi, vi * 10, 0))
        rows.append((1, vi, vi * 10, 0))
        rows.append((2, vi, vi * 10, 4))
    pts = spark.createDataFrame(rows, "tid long, vi long, x long, y long")
    pairs = spark.createDataFrame([(0, 1), (0, 2)],
                                  "tid_a long, tid_b long")
    got = {(r["tid_a"], r["tid_b"]): r["frechet_d2"]
           for r in frechet_pairs(pts, pairs).collect()}
    assert got[(0, 1)] == 0
    assert got[(0, 2)] == 16  # constant offset -> max over lockstep = 16


def test_frechet_dog_leash(spark):
    from lib_gdal_spark.operators.trajectory import frechet_pairs
    # A walks 0->40 in x; B walks the same but with a detour point far
    # in y at the middle: frechet must visit it -> d2 = detour^2
    pts = spark.createDataFrame(
        [(0, i, i * 10, 0) for i in range(5)]
        + [(1, 0, 0, 0), (1, 1, 10, 0), (1, 2, 20, 30),
           (1, 3, 30, 0), (1, 4, 40, 0)],
        "tid long, vi long, x long, y long")
    pairs = spark.createDataFrame([(0, 1)], "tid_a long, tid_b long")
    r = frechet_pairs(pts, pairs).collect()[0]
    assert r["frechet_d2"] == 900


def test_lcss_matches(spark):
    from lib_gdal_spark.operators.trajectory import lcss_pairs
    # identical -> full length; disjoint far tracks -> 0
    pts = spark.createDataFrame(
        [(0, i, i * 10, 0) for i in range(6)]
        + [(1, i, i * 10, 1) for i in range(6)]
        + [(2, i, i * 10 + 5000, 0) for i in range(6)],
        "tid long, vi long, x long, y long")
    pairs = spark.createDataFrame([(0, 1), (0, 2)],
                                  "tid_a long, tid_b long")
    got = {(r["tid_a"], r["tid_b"]): r for r in
           lcss_pairs(pts, pairs, eps2=4).collect()}
    assert got[(0, 1)]["lcss_len"] == 6
    assert got[(0, 1)]["lcss_sim"] == 1.0
    assert got[(0, 2)]["lcss_len"] == 0


def test_circular_stats_directed_vs_uniform(spark):
    from lib_gdal_spark.operators.trajectory import circular_stats
    # straight-line track: all headings equal -> R = 1, variance 0
    pts = spark.createDataFrame(
        [(0, i, i * 3, i * 4) for i in range(10)],
        "tid long, vi long, x long, y long")
    r = circular_stats(pts).collect()[0]
    assert r["r_len"] == pytest.approx(1.0, abs=1e-9)
    assert r["circ_var"] == pytest.approx(0.0, abs=1e-9)
    assert r["mean_deg"] == pytest.approx(53.130102354, abs=1e-6)
    # perfectly balanced opposite headings -> R = 0
    pts2 = spark.createDataFrame(
        [(0, 0, 0, 0), (0, 1, 10, 0), (0, 2, 0, 0)],
        "tid long, vi long, x long, y long")
    r2 = circular_stats(pts2).collect()[0]
    assert r2["r_len"] == pytest.approx(0.0, abs=1e-9)
