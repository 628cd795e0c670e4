"""Dense-cell DBSCAN shortcut: exact equivalence with the coarse
covering-join path (and hence brute force, which test_dbscan pins), plus
the city-hot skew stress the shortcut exists for."""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import functions as F

from lib_gdal_spark.operators import cluster as CL
from lib_gdal_spark.operators.knn import hex_ring_pairs


def _pts_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["pid", "lon", "lat"]),
        "pid long, lon double, lat double")


def _mixed_points(n_blob=400, n_scatter=200, seed=3):
    rng = random.Random(seed)
    rows = []
    pid = 0
    # two dense blobs (inside one fine cell each at eps=0.4), one near
    # the other so ring-1 dense-dense connectivity is exercised
    for cx, cy in ((10.0, 10.0), (10.25, 10.12), (30.0, -5.0)):
        for _ in range(n_blob // 2):
            rows.append((pid, cx + rng.uniform(-0.04, 0.04),
                         cy + rng.uniform(-0.04, 0.04)))
            pid += 1
    for _ in range(n_scatter):
        rows.append((pid, rng.uniform(5, 35), rng.uniform(-10, 15)))
        pid += 1
    return rows


def _canon(rows):
    return sorted((r["pid"], r["role"], r["cluster"]) for r in rows)


class TestDenseShortcutEquivalence:
    def test_matches_coarse_path_mixed(self, spark):
        pts = _pts_df(spark, _mixed_points())
        a = CL.dbscan(pts, eps=0.4, min_pts=8, dense_shortcut=False)
        b = CL.dbscan(pts, eps=0.4, min_pts=8, dense_shortcut=True)
        assert _canon(a.collect()) == _canon(b.collect())

    def test_matches_coarse_path_sparse_only(self, spark):
        # nothing dense: shortcut still exact (all cells sparse)
        rng = random.Random(9)
        pts = _pts_df(spark, [(i, rng.uniform(0, 50), rng.uniform(0, 40))
                              for i in range(500)])
        a = CL.dbscan(pts, eps=1.0, min_pts=4, dense_shortcut=False)
        b = CL.dbscan(pts, eps=1.0, min_pts=4, dense_shortcut=True)
        assert _canon(a.collect()) == _canon(b.collect())

    def test_ring4_covers_all_pairs(self, spark):
        # fine-grid ring-4 covering completeness vs brute force on a
        # lattice-adversarial cloud (points near cell corners)
        rng = random.Random(17)
        rows = [(i, rng.uniform(0, 3), rng.uniform(0, 3))
                for i in range(300)]
        pts = _pts_df(spark, rows)
        eps = 0.5
        a = CL.dbscan(pts, eps=eps, min_pts=3, dense_shortcut=True)
        # brute-force reference labels via the coarse path with a huge
        # covering cell (ring-1 complete because eps < size)
        b = CL.dbscan(pts, eps=eps, min_pts=3, size=10.0,
                      dense_shortcut=False)
        assert _canon(a.collect()) == _canon(b.collect())

    def test_st_dbscan_matches(self, spark):
        rng = random.Random(5)
        rows = []
        for i in range(600):
            if i < 300:  # dense spatio-temporal blob
                rows.append((i, 10 + rng.uniform(-0.03, 0.03),
                             10 + rng.uniform(-0.03, 0.03),
                             1_700_000_000 + rng.randint(0, 1800)))
            else:
                rows.append((i, rng.uniform(0, 30), rng.uniform(0, 30),
                             1_700_000_000 + rng.randint(0, 86_400)))
        pts = spark.createDataFrame(
            pd.DataFrame(rows, columns=["pid", "lon", "lat", "sec"]),
            "pid long, lon double, lat double, sec long"
        ).withColumn("ts", F.col("sec").cast("timestamp")).drop("sec")
        a = CL.st_dbscan(pts, eps_s=0.4, eps_t_s=3600, min_pts=6,
                         dense_shortcut=False)
        b = CL.st_dbscan(pts, eps_s=0.4, eps_t_s=3600, min_pts=6,
                         dense_shortcut=True)
        assert _canon(a.collect()) == _canon(b.collect())

    def test_auto_picks_shortcut_for_hot_cell(self, spark):
        blob = [(i, 10.0 + (i % 7) * 1e-4, 10.0 + (i % 11) * 1e-4)
                for i in range(3000)]
        pts = _pts_df(spark, blob)
        assert CL._dense_gain(pts, 0.4, 8, "pid", "lon", "lat") is True
        rng = random.Random(1)
        scatter = _pts_df(spark, [(i, rng.uniform(0, 80), rng.uniform(0, 80))
                                  for i in range(2000)])
        assert CL._dense_gain(scatter, 0.4, 8, "pid", "lon", "lat") is False


class TestHotCellStress:
    def test_city_hot_cell_bounded(self, spark):
        """1M-point hot cell: the coarse path would emit ~10^12 pairs;
        the shortcut labels it through ~1M star edges. Completes in
        bounded memory/time and the labels are the obvious truth:
        one cluster, everything core, scatter mostly noise."""
        n_hot = 1_000_000
        hot = spark.range(n_hot).select(
            F.col("id").alias("pid"),
            (F.lit(10.0) + (F.col("id") % 1000) * 1e-8).alias("lon"),
            (F.lit(10.0) + (F.col("id") % 997) * 1e-8).alias("lat"))
        scatter = spark.range(n_hot, n_hot + 2000).select(
            F.col("pid" if False else "id").alias("pid"),
            (F.pmod(F.col("id") * 2654435761, F.lit(7000)) / 100.0
             + 20.0).alias("lon"),
            (F.pmod(F.col("id") * 40503, F.lit(4000)) / 100.0
             - 20.0).alias("lat"))
        pts = hot.unionByName(scatter)
        out = CL.dbscan(pts, eps=0.4, min_pts=10, dense_shortcut=True)
        agg = out.groupBy("role").count().collect()
        got = {r["role"]: r["count"] for r in agg}
        assert got.get("core", 0) >= n_hot
        # the hot blob is one cluster labeled by its min id (0)
        hotlbl = (out.where(F.col("pid") < n_hot)
                  .select("cluster").distinct().collect())
        assert [r["cluster"] for r in hotlbl] == [0]


class TestHexRingPairsCap:
    def test_cap_reports_overflow_and_keeps_mixed_pairs(self, spark):
        # 500-point hot cell + a handful of scattered pairs: capped run
        # drops only hot-hot pairs, reports the hot cell loudly
        rows = [(i, 10.0 + (i % 23) * 1e-6, 10.0 + (i % 29) * 1e-6)
                for i in range(500)]
        rows += [(1000, 20.0, 20.0), (1001, 20.05, 20.0),
                 (1002, 30.0, 30.0)]
        pts = _pts_df(spark, rows)
        pairs, overflow = hex_ring_pairs(
            pts, max_dist=0.1, size=0.15, max_cell_freq=100,
            with_overflow=True)
        ov = overflow.collect()
        assert len(ov) == 1 and ov[0]["n_points"] == 500
        got = {(r["pid_a"], r["pid_b"]) for r in pairs.collect()}
        assert (1000, 1001) in got
        assert not any(a < 500 and b < 500 for a, b in got)

    def test_uncapped_unchanged(self, spark):
        rng = random.Random(2)
        pts = _pts_df(spark, [(i, rng.uniform(0, 5), rng.uniform(0, 5))
                              for i in range(300)])
        base = hex_ring_pairs(pts, max_dist=0.3, size=0.4)
        capped, ov = hex_ring_pairs(pts, max_dist=0.3, size=0.4,
                                    max_cell_freq=10**9,
                                    with_overflow=True)
        assert ov.collect() == []
        a = sorted((r["pid_a"], r["pid_b"], r["dist"])
                   for r in base.collect())
        b = sorted((r["pid_a"], r["pid_b"], r["dist"])
                   for r in capped.collect())
        assert a == b
