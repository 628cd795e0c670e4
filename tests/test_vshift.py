"""Vertical shift grid + flatten mask (gdalapplyverticalshiftgrid.cpp,
gdalflattenmask.c)."""

import numpy as np
import pandas as pd
import pytest

from lib_gdal_spark.operators.vshift import (
    apply_vertical_shift_grid, flatten_mask)
from lib_gdal_spark.sources.rasters import RASTER_SCHEMA, tiles_from_array


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows), schema=RASTER_SCHEMA)


def _src(spark, nodata=None):
    # 64x64 DEM, closed-form values, gt (100,2,0,200,0,-2)
    j, i = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
    arr = ((i * 7 + j * 13) % 200).astype(np.float64)
    if nodata is not None:
        arr[(i * 31 + j) % 97 == 0] = nodata
    rows = tiles_from_array("dem", arr, (100.0, 2.0, 0.0, 200.0, 0.0, -2.0),
                            nodata=nodata)
    return _df(spark, rows), arr


def _plane_grid(spark):
    # 16x16 grid over a LARGER extent, values linear in world coords:
    # g(X, Y) = X/64 + (256 - Y)/64 - 0.375  (bilinear-exact on a plane)
    j, i = np.meshgrid(np.arange(16), np.arange(16), indexing="ij")
    g = 0.5 * i + 0.25 * j
    rows = tiles_from_array("vgrid", g.astype(np.float64),
                            (0.0, 32.0, 0.0, 256.0, 0.0, -16.0))
    return _df(spark, rows)


def _expected_plane(i, j):
    X = 100.0 + (i + 0.5) * 2.0
    Y = 200.0 - (j + 0.5) * 2.0
    return X / 64.0 + (256.0 - Y) / 64.0 - 0.375


def test_vshift_forward_plane_exact(spark):
    src, arr = _src(spark)
    out = apply_vertical_shift_grid(src, _plane_grid(spark),
                                    src_unit_to_meter=0.3048)
    got = {}
    for r in out.collect():
        a = np.asarray(r.pixels).reshape(r.tile_h, r.tile_w)
        got[(r.tile_x, r.tile_y)] = a
    j, i = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
    want = arr * 0.3048 + _expected_plane(i, j)
    full = np.block([[got[(0, 0)]], [got[(0, 1)]]]) if (0, 1) in got else None
    # reassemble 64x64 from whatever tiling
    full = np.zeros((64, 64))
    for (tx, ty), a in got.items():
        full[ty * 64:ty * 64 + a.shape[0], tx * 64:tx * 64 + a.shape[1]] = a
    assert np.allclose(full, want, atol=1e-9)


def test_vshift_inverse_roundtrip(spark):
    src, arr = _src(spark)
    g = _plane_grid(spark)
    fwd = apply_vertical_shift_grid(src, g, src_unit_to_meter=1.0,
                                    dst_unit_to_meter=2.0)
    back = apply_vertical_shift_grid(fwd, g, inverse=True,
                                     src_unit_to_meter=2.0,
                                     dst_unit_to_meter=1.0)
    full = np.zeros((64, 64))
    for r in back.collect():
        a = np.asarray(r.pixels).reshape(r.tile_h, r.tile_w)
        full[r.tile_y * 64:r.tile_y * 64 + r.tile_h,
             r.tile_x * 64:r.tile_x * 64 + r.tile_w] = a
    assert np.allclose(full, arr, atol=1e-9)


def test_vshift_nodata_passthrough(spark):
    src, arr = _src(spark, nodata=-1.0)
    out = apply_vertical_shift_grid(src, _plane_grid(spark))
    full = np.zeros((64, 64))
    for r in out.collect():
        a = np.asarray(r.pixels).reshape(r.tile_h, r.tile_w)
        full[r.tile_y * 64:, r.tile_x * 64:][:r.tile_h, :r.tile_w] = a
    assert (full[arr == -1.0] == -1.0).all()
    j, i = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
    m = arr != -1.0
    assert np.allclose(full[m], (arr + _expected_plane(i, j))[m], atol=1e-9)


def test_vshift_outside_grid_raises(spark):
    src, _ = _src(spark)
    # tiny grid nowhere near the DEM extent
    j, i = np.meshgrid(np.arange(4), np.arange(4), indexing="ij")
    rows = tiles_from_array("vgrid", (i + j).astype(np.float64),
                            (10000.0, 1.0, 0.0, 10000.0, 0.0, -1.0))
    with pytest.raises(Exception):
        apply_vertical_shift_grid(src, _df(spark, rows)).collect()


def test_flatten_mask_zero_and_alpha(spark):
    j, i = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
    data = ((i + j) % 251).astype(np.float64)
    mask = np.where((i // 4 + j // 4) % 2 == 0, 255, 0).astype(np.float64)
    d = _df(spark, tiles_from_array("r", data, (0, 1, 0, 0, 0, -1)))
    m = _df(spark, tiles_from_array("r", mask, (0, 1, 0, 0, 0, -1)))
    out = flatten_mask(d, m, nodata=-9999.0)
    full = np.zeros((32, 32))
    for r in out.collect():
        a = np.asarray(r.pixels).reshape(r.tile_h, r.tile_w)
        full[r.tile_y * 64:, r.tile_x * 64:][:r.tile_h, :r.tile_w] = a
    assert (full[mask == 0] == -9999.0).all()
    assert np.array_equal(full[mask == 255], data[mask == 255])
    assert out.select("nodata").distinct().collect()[0][0] == -9999.0

    # alpha-style: threshold 128 — gdalflattenmask.c:281
    alpha = ((i * 8) % 256).astype(np.float64)
    ma = _df(spark, tiles_from_array("r", alpha, (0, 1, 0, 0, 0, -1)))
    out2 = flatten_mask(d, ma, nodata=0.0, alpha_threshold=128)
    full2 = np.zeros((32, 32))
    for r in out2.collect():
        a = np.asarray(r.pixels).reshape(r.tile_h, r.tile_w)
        full2[r.tile_y * 64:, r.tile_x * 64:][:r.tile_h, :r.tile_w] = a
    assert (full2[alpha < 128] == 0.0).all()
    assert np.array_equal(full2[alpha >= 128], data[alpha >= 128])


def test_flatten_mask_plan_is_jvm_only(spark):
    j, i = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    d = _df(spark, tiles_from_array("r", (i + j).astype(np.float64),
                                    (0, 1, 0, 0, 0, -1)))
    m = _df(spark, tiles_from_array("r", (i % 2).astype(np.float64) * 255,
                                    (0, 1, 0, 0, 0, -1)))
    plan = flatten_mask(d, m, nodata=-1.0)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
