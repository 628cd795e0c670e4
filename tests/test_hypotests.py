"""Shape-index and robust-location checks that outlived the deleted
hypothesis-test module: `layer_algebra.compactness` and
`quantiles.trimmed_mean`."""

from __future__ import annotations

import pytest


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


def test_trimmed_mean_kills_outliers(spark):
    from lib_gdal_spark.operators.quantiles import trimmed_mean
    rows = [(i, 100) for i in range(18)] + [(18, 0), (19, 100000)]
    d = spark.createDataFrame(rows, "tid long, v long")
    r = trimmed_mean(d, "v", trim_num=2, trim_den=20).collect()[0]
    # 10% of 20 = 2 trimmed each side: both outliers gone
    assert r["n_trimmed_each"] == 2
    assert r["trimmed_mean"] == 100.0
