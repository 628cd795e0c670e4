"""Distributed DBSCAN (operators/cluster.dbscan): hand-built fixtures with
known cores/borders/noise, determinism under repartitioning, and the
min-label tie-break for a border point touching two clusters."""

import pytest

from lib_gdal_spark.operators.cluster import dbscan
from lib_gdal_spark.session import local_df


def _pts(spark, rows):
    return local_df(spark, rows, "pid long, lon double, lat double")


def test_two_blobs_and_noise(spark):
    # blob A: 4 points in a tight cross around (0,0); blob B: 4 points
    # around (10,10); one isolated noise point far away.
    rows = [
        (1, 0.0, 0.0), (2, 0.1, 0.0), (3, 0.0, 0.1), (4, -0.1, 0.0),
        (11, 10.0, 10.0), (12, 10.1, 10.0), (13, 10.0, 10.1),
        (14, 9.9, 10.0),
        (99, 50.0, 50.0),
    ]
    out = {r["pid"]: (r["role"], r["cluster"])
           for r in dbscan(_pts(spark, rows), eps=0.25, min_pts=3).collect()}
    assert out[99] == ("noise", None)
    # every blob-A member reaches >=2 neighbors (+self >= 3) -> core
    for p in (1, 2, 3, 4):
        assert out[p] == ("core", 1)
    for p in (11, 12, 13, 14):
        assert out[p] == ("core", 11)


def test_border_and_min_tiebreak(spark):
    # chain 1-2-3-50 at 0.2 spacing, eps=0.25: nbrs(2)={1,3} and
    # nbrs(3)={2,50} -> cores (2 nbrs + self = 3); the chain ends 1 and 50
    # have a single neighbor each -> borders. Label = min CORE id = 2.
    rows = [(1, 0.0, 0.0), (2, 0.2, 0.0), (3, 0.4, 0.0), (50, 0.6, 0.0)]
    out = {r["pid"]: (r["role"], r["cluster"])
           for r in dbscan(_pts(spark, rows), eps=0.25, min_pts=3).collect()}
    assert out[1] == ("border", 2)
    assert out[2] == ("core", 2)
    assert out[3] == ("core", 2)
    assert out[50] == ("border", 2)

    # Border between TWO clusters takes the MIN cluster label. Two
    # 0.2-side squares (diag 0.283, so every corner has 3 nbrs + self = 4
    # -> core at min_pts=4); the squares are 0.6 apart (> eps, no bridge
    # between cores). Point 70 at (0.6, 0.35) is 0.427 from the TOP inner
    # corner of each square (within eps=0.45) but 0.532 from the bottom
    # ones — exactly one neighbor per square, 2 nbrs + self = 3 < 4, so it
    # stays a border touching both clusters and takes the min label 1.
    rows3 = [
        (1, 0.0, 0.0), (2, 0.2, 0.0), (3, 0.2, 0.2), (4, 0.0, 0.2),
        (10, 1.0, 0.0), (11, 1.2, 0.0), (12, 1.2, 0.2), (13, 1.0, 0.2),
        (70, 0.6, 0.35),
    ]
    out3 = {r["pid"]: (r["role"], r["cluster"])
            for r in dbscan(_pts(spark, rows3),
                            eps=0.45, min_pts=4, size=0.5).collect()}
    assert out3[70] == ("border", 1)
    assert out3[12] == ("core", 10)


def test_partitioning_invariant(spark):
    import random

    rng = random.Random(7)
    rows = [(i, round(rng.uniform(0, 3), 3), round(rng.uniform(0, 3), 3))
            for i in range(1, 301)]
    base = dbscan(_pts(spark, rows), eps=0.15, min_pts=4)
    again = dbscan(_pts(spark, rows).repartition(13), eps=0.15, min_pts=4)
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b
    roles = {r for (_, r, _) in a}
    assert roles == {"core", "border", "noise"}  # the fixture hits all 3


def test_eps_size_guard(spark):
    with pytest.raises(ValueError):
        dbscan(_pts(spark, [(1, 0.0, 0.0)]), eps=0.5, min_pts=3,
               size=0.4).collect()


def test_cluster_label_is_component_min_core(spark):
    # a 5-point chain at 0.2 spacing, eps 0.25, min_pts 3: interior points
    # 2,3,4 are cores; 1 and 5 are borders; label = min CORE id = 2.
    rows = [(i, 0.2 * i, 0.0) for i in range(1, 6)]
    out = {r["pid"]: (r["role"], r["cluster"])
           for r in dbscan(_pts(spark, rows), eps=0.25, min_pts=3).collect()}
    assert out[2] == ("core", 2)
    assert out[3] == ("core", 2)
    assert out[4] == ("core", 2)
    assert out[1] == ("border", 2)
    assert out[5] == ("border", 2)


def test_st_dbscan_splits_temporal_clusters(spark):
    import datetime as dt

    from lib_gdal_spark.operators.cluster import st_dbscan

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    # one tight spatial blob, but two temporal waves a week apart:
    # plain dbscan sees ONE cluster; st_dbscan must split it
    for i in range(6):
        rows.append((i, 0.01 * i, 0.0, t0 + dt.timedelta(minutes=i)))
    for i in range(6):
        rows.append((100 + i, 0.01 * i, 0.0,
                     t0 + dt.timedelta(days=7, minutes=i)))
    import pandas as pd
    pts = spark.createDataFrame(
        pd.DataFrame(rows, columns=["pid", "lon", "lat", "ts"]),
        schema="pid long, lon double, lat double, ts timestamp")
    got = {r["pid"]: r for r in
           st_dbscan(pts, eps_s=0.1, eps_t_s=3600.0, min_pts=3).collect()}
    c_early = {got[i]["cluster"] for i in range(6)}
    c_late = {got[100 + i]["cluster"] for i in range(6)}
    assert c_early == {0} and c_late == {100}
    assert all(got[i]["role"] == "core" for i in range(6))
    # same input through plain dbscan merges them
    from lib_gdal_spark.operators.cluster import dbscan
    one = {r["cluster"] for r in
           dbscan(pts, eps=0.1, min_pts=3).collect()}
    assert one == {0}
