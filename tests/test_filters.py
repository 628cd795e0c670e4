"""Image filters: median / unsharp / Kuwahara kernels against naive
local references; histogram matching identity + monotonicity."""

import numpy as np
import pandas as pd

from lib_gdal_spark.operators.dem import dem_op_k
from lib_gdal_spark.operators.filters import (
    KUWAHARA_QUADS,
    histogram_match_table,
    kuwahara_kernel,
    median3_kernel,
    unsharp_kernel,
)
from lib_gdal_spark.sources.rasters import (
    RASTER_SCHEMA,
    tiles_from_array,
    world4326,
)


def _tiles(spark, arr, tile=32):
    gt = (0.0, 1.0, 0.0, float(arr.shape[0]), 0.0, -1.0)
    rows = tiles_from_array("t", arr.astype(np.float64), gt, tile=tile)
    return spark.createDataFrame(pd.DataFrame(rows), schema=RASTER_SCHEMA)


def _collect_grid(df, n):
    out = np.full((n, n), np.nan)
    for r in df.collect():
        h, w, t = int(r["tile_h"]), int(r["tile_w"]), 32
        px = np.asarray(r["pixels"]).reshape(h, w)
        out[r["tile_y"] * t:r["tile_y"] * t + h,
            r["tile_x"] * t:r["tile_x"] * t + w] = px
    return out


def test_median_matches_naive_and_is_seamless(spark):
    arr, _ = world4326(64)
    arr = arr.astype(np.float64)
    got = _collect_grid(dem_op_k(_tiles(spark, arr), 1, median3_kernel), 64)
    for y in range(1, 63):
        for x in range(1, 63):
            want = np.median(arr[y - 1:y + 2, x - 1:x + 2])
            assert got[y, x] == want, (x, y)


def test_median_constant_region_identity(spark):
    arr = np.full((40, 40), 7.0)
    got = _collect_grid(dem_op_k(_tiles(spark, arr), 1, median3_kernel), 40)
    assert np.all(got[1:-1, 1:-1] == 7.0)


def test_unsharp_flat_is_identity_and_edges_overshoot(spark):
    arr = np.zeros((40, 40))
    arr[:, 20:] = 100.0                      # vertical step edge
    got = _collect_grid(
        dem_op_k(_tiles(spark, arr), 1, unsharp_kernel, amount=0.5), 40)
    # flat interior far from the edge: unchanged
    assert got[10, 5] == 0.0 and got[10, 35] == 100.0
    # dark side of the edge undershoots, bright side overshoots
    assert got[10, 19] < 0.0 and got[10, 20] > 100.0


def test_unsharp_matches_naive(spark):
    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, (40, 40)).astype(np.float64)
    got = _collect_grid(
        dem_op_k(_tiles(spark, arr), 1, unsharp_kernel, amount=0.5), 40)
    k = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], dtype=np.float64)
    for y in range(1, 39):
        for x in range(1, 39):
            blur = (arr[y - 1:y + 2, x - 1:x + 2] * k).sum() / 16.0
            want = arr[y, x] + 0.5 * (arr[y, x] - blur)
            assert got[y, x] == want


def _kuwahara_naive(arr, y, x):
    best_t, best = None, None
    for qi, (cx, cy) in enumerate(KUWAHARA_QUADS):
        q = arr[y + cy - 1:y + cy + 2, x + cx - 1:x + cx + 2]
        s, s2 = q.sum(), (q * q).sum()
        t = 9.0 * s2 - s * s
        if best_t is None or t < best_t:
            best_t, best = t, qi * 4096.0 + s
    return best


def test_kuwahara_matches_naive(spark):
    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, (40, 40)).astype(np.float64)
    got = _collect_grid(dem_op_k(_tiles(spark, arr), 2, kuwahara_kernel), 40)
    for y in range(2, 38):
        for x in range(2, 38):
            assert got[y, x] == _kuwahara_naive(arr, y, x), (x, y)


def test_kuwahara_preserves_step_edge(spark):
    arr = np.zeros((40, 40))
    arr[:, 20:] = 200.0
    got = _collect_grid(dem_op_k(_tiles(spark, arr), 2, kuwahara_kernel), 40)
    means = got[10] % 4096 / 9.0
    # pixels adjacent to the edge select the uniform quadrant: the edge
    # stays a hard 0 -> 200 step, never a blurred intermediate
    assert set(np.unique(means[2:38])) == {0.0, 200.0}


def test_hist_match_self_is_identity(spark):
    arr, _ = world4326(64)
    t = _tiles(spark, arr.astype(np.float64))
    m = histogram_match_table(t, t)
    assert all(r["dst"] == r["v"] for r in m.collect())


def test_hist_match_monotone_and_cdf_dominates(spark):
    rng = np.random.RandomState(11)
    src = rng.randint(0, 60, (32, 32)).astype(np.float64)
    ref = rng.randint(100, 256, (32, 32)).astype(np.float64)
    rows = sorted(
        (r["v"], r["dst"])
        for r in histogram_match_table(
            _tiles(spark, src), _tiles(spark, ref)).collect())
    dsts = [d for _, d in rows]
    assert dsts == sorted(dsts)              # monotone non-decreasing map
    assert all(100 <= d <= 255 for d in dsts)  # lands in ref's support
