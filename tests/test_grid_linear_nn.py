"""grid 'linear' (Delaunay) and 'invdistnn' vs single-process references."""

import numpy as np

from lib_gdal_spark.operators import grid as GR
from lib_gdal_spark.operators.rasterize import GridSpec


def _grid():
    return GridSpec(width=64, height=64, tile=16,
                    gt=(0.0, 1.0, 0.0, 64.0, 0.0, -1.0))


def _points(spark, n=200):
    rng = np.random.default_rng(21)
    x = rng.uniform(2, 62, n)
    y = rng.uniform(2, 62, n)
    v = 2.0 * x + 3.0 * y
    return (spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, y, v)],
        "x double, y double, v double"), x, y, v)


def _assemble(rows, g):
    full = np.full((g.height, g.width), np.nan)
    for r in rows:
        a = np.asarray(r["pixels"]).reshape(r["tile_h"], r["tile_w"])
        full[r["tile_y"] * g.tile:r["tile_y"] * g.tile + r["tile_h"],
             r["tile_x"] * g.tile:r["tile_x"] * g.tile + r["tile_w"]] = a
    return full


def test_grid_linear_exact_on_linear_field(spark):
    g = _grid()
    pts, x, y, v = _points(spark)
    out = GR.grid_linear(pts, g, nodata=np.nan).collect()
    full = _assemble(out, g)
    # inside the hull the interpolant reproduces the linear field exactly
    jj, ii = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
    cx = (ii + 0.5) * 1.0
    cy = 64.0 - (jj + 0.5)
    want = 2.0 * cx + 3.0 * cy
    inside = ~np.isnan(full)
    assert inside.mean() > 0.7
    assert np.abs(full[inside] - want[inside]).max() < 1e-9


def test_grid_invdistnn_matches_reference(spark):
    g = _grid()
    pts, x, y, v = _points(spark, n=120)
    radius, maxp, power = 10.0, 6, 2.0
    out = GR.grid_invdistnn(pts, g, radius=radius, max_points=maxp,
                            power=power, nodata=-1.0).collect()
    full = _assemble(out, g)
    # single-process reference
    jj, ii = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
    cx = ((ii + 0.5) * 1.0).ravel()
    cy = (64.0 - (jj + 0.5)).ravel()
    ref = np.full(cx.shape, -1.0)
    for k in range(len(cx)):
        d2 = (cx[k] - x) ** 2 + (cy[k] - y) ** 2
        okm = d2 <= radius * radius
        if not okm.any():
            continue
        d2s = d2[okm]
        vs = v[okm]
        sel = np.argsort(d2s)[:maxp]
        d2n, vn = d2s[sel], vs[sel]
        if (d2n == 0).any():
            ref[k] = vn[d2n == 0][0]
        else:
            w = d2n ** (-power / 2.0)
            ref[k] = (w * vn).sum() / w.sum()
    ref = ref.reshape(64, 64)
    assert np.allclose(full, ref, atol=1e-9)


def test_delaunay_grid_boundary_tiles(spark):
    # points clustered in one corner: far tiles are all-nodata, no crash
    g = _grid()
    pts = spark.createDataFrame(
        [(5.0, 55.0, 1.0), (10.0, 60.0, 2.0), (8.0, 50.0, 3.0),
         (12.0, 57.0, 4.0)],
        "x double, y double, v double")
    out = GR.grid_linear(pts, g, nodata=-9.0).collect()
    assert len(out) == 16
    full = _assemble(out, g)
    assert (full == -9.0).sum() > 3000  # most is outside the tiny hull
    assert ((full != -9.0) & ~np.isnan(full)).sum() > 0


def test_grid_linear_dist_equals_driver_path(spark):
    """Fully distributed Delaunay gridding == the driver-guard path."""
    g = _grid()
    pts, x, y, v = _points(spark, n=250)
    a = _assemble(GR.grid_linear(pts, g, nodata=-5.0).collect(), g)
    b = _assemble(GR.grid_linear_dist(pts, g, nodata=-5.0, cells=4).collect(), g)
    # identical triangulation (unique) -> identical interpolation
    assert np.allclose(a, b, atol=1e-9, equal_nan=True)
    assert (b != -5.0).sum() > 2000  # hull interior actually interpolated


def test_grid_average_distance_metrics(spark):
    """average_distance / average_distance_pts vs brute-force numpy
    (gdalgrid.cpp:1211/1316, circular search, no rotation)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from lib_gdal_spark.operators import grid as GR
    from lib_gdal_spark.operators.rasterize import GridSpec

    rng = np.random.default_rng(12)
    xs = rng.uniform(0, 32, 300)
    ys = rng.uniform(0, 32, 300)
    pts = spark.createDataFrame(
        pd.DataFrame({"x": xs, "y": ys, "v": np.zeros(300)}),
        schema="x double, y double, v double")
    grid = GridSpec((0.0, 1.0, 0.0, 32.0, 0.0, -1.0), 32, 32, 16)
    R = 4.0
    for alg in ("average_distance", "average_distance_pts"):
        rows = GR.grid_interpolate(pts, grid, alg=alg, radius=R,
                                   nodata=-1.0).collect()
        got = np.full((32, 32), np.nan)
        for r in rows:
            a = np.asarray(r["pixels"]).reshape(r["tile_h"], r["tile_w"])
            got[r["tile_y"] * 16:r["tile_y"] * 16 + r["tile_h"],
                r["tile_x"] * 16:r["tile_x"] * 16 + r["tile_w"]] = a
        for j in (0, 7, 19, 31):
            for i in (0, 11, 23, 31):
                cx, cy = 0.0 + (i + 0.5), 32.0 - (j + 0.5)
                d = np.hypot(xs - cx, ys - cy)
                m = d <= R
                if alg == "average_distance":
                    want = d[m].mean() if m.any() else -1.0
                else:
                    sx, sy = xs[m], ys[m]
                    n = len(sx)
                    if n < 2:
                        want = -1.0
                    else:
                        pd_ = np.hypot(sx[:, None] - sx[None, :],
                                       sy[:, None] - sy[None, :])
                        want = pd_[np.triu_indices(n, 1)].sum() / (
                            n * (n - 1) / 2.0)
                assert abs(got[j, i] - want) < 1e-9, (alg, i, j)
