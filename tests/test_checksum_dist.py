"""Distributed GDAL checksum: per-tile partials must reproduce the
sequential ``core/alg/gdalchecksum.cpp:66-180`` scan bit-for-bit, with no
task ever holding more than one tile (VERDICT r2 fix #1)."""

import numpy as np
import pandas as pd

from lib_gdal_spark.kernels import checksum as K
from lib_gdal_spark.operators import raster as RAST
from lib_gdal_spark.sources import rasters as RX


def test_tile_partial_matches_full():
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(130, 97), dtype=np.uint8)
    tile = 32
    total = 0
    for y0 in range(0, arr.shape[0], tile):
        for x0 in range(0, arr.shape[1], tile):
            patch = arr[y0 : y0 + tile, x0 : x0 + tile]
            total += K.checksum_tile_partial(patch, x0, y0, arr.shape[1])
    assert (total & 0xFFFF) == K.gdal_checksum(arr)


def test_tile_partial_negative_and_float():
    arr = np.array([[-5.2, 3.7], [np.nan, 1e12]], dtype=np.float64)
    got = (
        K.checksum_tile_partial(arr[:, :1], 0, 0, 2)
        + K.checksum_tile_partial(arr[:, 1:], 1, 0, 2)
    ) & 0xFFFF
    assert got == K.gdal_checksum(arr)


def test_spark_checksum_anchor_4672(spark):
    out = {
        (r["raster_id"], r["band"]): r["checksum"]
        for r in RAST.checksum_rasters(RX.fixture_rasters(spark)).collect()
    }
    assert out[("byte20", 1)] == 4672


def test_spark_checksum_distributed_4m_px(spark):
    """≥4M-pixel raster, 1024 tiles, forced through the distributed path
    (every tile is its own partial row) == the single-array checksum."""
    n = 2048  # 4.19M px
    j, i = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    arr = ((i * 31 + j * 17) % 251).astype(np.uint8)
    expect = K.gdal_checksum(arr)
    rows = RX.tiles_from_array("big", arr, (0.0, 1.0, 0.0, float(n), 0.0, -1.0),
                               tile=64)
    tiles = spark.createDataFrame(pd.DataFrame(rows), schema=RX.RASTER_SCHEMA) \
        .repartition(8)
    got = RAST.checksum_rasters(tiles).collect()
    assert len(got) == 1 and got[0]["checksum"] == expect


def test_spark_checksum_ragged_edges(spark):
    """Non-multiple-of-tile dims: width derivation from (mtx, last_w)."""
    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, size=(150, 201), dtype=np.uint8)
    rows = RX.tiles_from_array("rag", arr, (0.0, 1.0, 0.0, 150.0, 0.0, -1.0),
                               tile=64)
    tiles = spark.createDataFrame(pd.DataFrame(rows), schema=RX.RASTER_SCHEMA)
    got = RAST.checksum_rasters(tiles).collect()
    assert got[0]["checksum"] == K.gdal_checksum(arr)
