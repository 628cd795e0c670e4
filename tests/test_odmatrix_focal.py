"""3x3 focal statistics (operators/dem.focal_stats_kernel)."""

import numpy as np
import pandas as pd

from lib_gdal_spark.operators.dem import dem_op_k, focal_stats_kernel
from lib_gdal_spark.sources import rasters as RS


def test_focal_stats_matches_local_kernel(spark):
    rng = np.random.default_rng(9)
    arr = rng.integers(0, 12, size=(40, 40)).astype(float)
    rows = RS.tiles_from_array("t", arr, (0, 1, 0, 40, 0, -1), tile=16)
    tiles = spark.createDataFrame(pd.DataFrame(rows),
                                  schema=RS.RASTER_SCHEMA)
    got = {}
    for r in dem_op_k(tiles, 1, focal_stats_kernel).collect():
        tw = r["tile_w"]
        for pos, v in enumerate(r["pixels"]):
            got[(r["tile_x"] * 16 + pos % tw,
                 r["tile_y"] * 16 + pos // tw)] = v
    pad = np.full((42, 42), np.nan)
    pad[1:-1, 1:-1] = arr
    ref = focal_stats_kernel(pad, 1, 1.0, 1.0)
    for py in range(1, 39):
        for px in range(1, 39):
            assert got[(px, py)] == ref[py, px], (px, py)


def test_focal_majority_tiebreak_and_std():
    # window {1,1,2,2,3,3,4,4,5}: counts tie at 2 -> majority = 1
    pad = np.full((5, 5), np.nan)
    pad[1:4, 1:4] = np.array([[1, 1, 2], [2, 3, 3], [4, 4, 5]], dtype=float)
    out = focal_stats_kernel(pad, 1, 1.0, 1.0)
    v = out[1, 1]  # center of the 3x3 interior
    maj, rng_ = int(v // 1e12), int(v // 1e9) % 1000
    std6 = v % 1e9
    assert maj == 1 and rng_ == 4
    vals = np.array([1, 1, 2, 2, 3, 3, 4, 4, 5], dtype=float)
    expect = np.floor(vals.std() * 1e6 + 0.5)
    assert std6 == expect
