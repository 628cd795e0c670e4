"""Zonal geometry: areas/perimeters/compactness vs closed forms."""

import math

import numpy as np
import pytest

from lib_gdal_spark.operators.stats import zonal_geometry


def _tiles(spark, arr, tile=4, gt=(0.0, 1.0, 0.0, 8.0, 0.0, -1.0)):
    h, w = arr.shape
    rows = []
    for ty in range(h // tile):
        for tx in range(w // tile):
            a = arr[ty * tile:(ty + 1) * tile, tx * tile:(tx + 1) * tile]
            rows.append(dict(
                raster_id="z", band=1, zoom=0, tile_x=tx, tile_y=ty,
                dtype="float64", tile_w=tile, tile_h=tile,
                gt0=gt[0] + tx * tile * gt[1], gt1=gt[1], gt2=0.0,
                gt3=gt[3] + ty * tile * gt[5], gt4=0.0, gt5=gt[5],
                nodata=0.0, pixels=[float(v) for v in a.ravel()]))
    from lib_gdal_spark.sources.rasters import RASTER_SCHEMA
    return spark.createDataFrame(rows, RASTER_SCHEMA)


def test_rectangle_and_single_pixel(spark):
    arr = np.zeros((8, 8))
    arr[1:4, 1:6] = 7.0     # 3x5 rectangle spanning a tile seam
    arr[6, 6] = 9.0         # single pixel
    out = {r["zone"]: r for r in zonal_geometry(_tiles(spark, arr)).collect()}
    r7 = out[7]
    assert r7["area_px"] == 15 and r7["area"] == 15.0
    assert r7["perimeter"] == 2 * (3 + 5)
    assert r7["compactness"] == pytest.approx(
        4 * math.pi * 15 / 16 ** 2, abs=1e-9)
    r9 = out[9]
    assert r9["area_px"] == 1 and r9["perimeter"] == 4.0


def test_hole_adds_inner_perimeter(spark):
    arr = np.zeros((8, 8))
    arr[1:6, 1:6] = 3.0
    arr[3, 3] = 0.0  # punch a background hole
    out = zonal_geometry(_tiles(spark, arr)).collect()[0]
    assert out["area_px"] == 24
    assert out["perimeter"] == 20 + 4  # outer ring + hole ring


def test_raster_border_counts_as_edge(spark):
    arr = np.full((4, 4), 5.0)
    out = zonal_geometry(_tiles(spark, arr)).collect()[0]
    assert out["area_px"] == 16 and out["perimeter"] == 16.0
    # full square: the most compact rectilinear shape
    assert out["compactness"] == pytest.approx(
        4 * math.pi * 16 / 256, abs=1e-9)


def test_anisotropic_ground_units(spark):
    # pixel 2 wide x 0.5 tall: area scales by 1.0, perimeter by sides
    arr = np.zeros((4, 4))
    arr[1, 1] = 2.0
    out = zonal_geometry(
        _tiles(spark, arr, gt=(0.0, 2.0, 0.0, 2.0, 0.0, -0.5))).collect()[0]
    assert out["area"] == pytest.approx(1.0)          # 2 * 0.5
    assert out["perimeter"] == pytest.approx(5.0)     # 2*(2 + 0.5)


def test_tiling_invariance(spark):
    rng = np.random.default_rng(6)
    arr = (rng.integers(0, 3, (8, 8)) * 3).astype(float)
    a = sorted(map(tuple, zonal_geometry(_tiles(spark, arr, tile=4))
                   .collect()))
    b = sorted(map(tuple, zonal_geometry(_tiles(spark, arr, tile=8))
                   .collect()))
    assert a == b
