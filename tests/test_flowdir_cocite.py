"""D8 flow direction kernel and D8 drainage basins."""

import numpy as np
import pandas as pd

from lib_gdal_spark.operators import dem as D
from lib_gdal_spark.sources import rasters as RS


def _run(spark, arr, tile=32):
    h, w = arr.shape
    rows = RS.tiles_from_array("t", arr, (0, 1, 0, h, 0, -1), tile=tile)
    tiles = spark.createDataFrame(pd.DataFrame(rows), schema=RS.RASTER_SCHEMA)
    out = np.full((h, w), np.nan)
    for r in D.dem_op(tiles, "flowdir").collect():
        px = np.asarray(r["pixels"]).reshape(r["tile_h"], r["tile_w"])
        y0, x0 = r["tile_y"] * tile, r["tile_x"] * tile
        out[y0:y0 + r["tile_h"], x0:x0 + r["tile_w"]] = px
    return out


def test_tilted_planes(spark):
    # plane rising to the west: water flows EAST (code 1) everywhere
    arr = np.tile(np.arange(64, 0, -1, dtype=float), (64, 1))
    out = _run(spark, arr)
    assert np.all(out[1:-1, 1:-1] == 1.0)
    # plane rising to the north (row index grows southward, so make
    # values DECREASE with y): flow NORTH?? values decrease southward ->
    # steepest drop is SOUTH (code 4)
    arr2 = np.tile(np.arange(64, 0, -1, dtype=float)[:, None], (1, 64))
    out2 = _run(spark, arr2)
    assert np.all(out2[1:-1, 1:-1] == 4.0)


def test_pit_and_flat_are_zero(spark):
    arr = np.full((64, 64), 7.0)
    arr[20, 20] = 1.0          # a pit: nothing drops from it
    out = _run(spark, arr)
    assert out[20, 20] == 0.0          # pit
    assert out[30, 30] == 0.0          # flat
    # the pit's west neighbor drains EAST into it
    assert out[20, 19] == 1.0
    # diagonal neighbor NW of pit drains SE (code 2)
    assert out[19, 19] == 2.0


def test_diagonal_vs_cardinal_distance(spark):
    # drop of 10 on the diagonal (10/sqrt2 ~ 7.07) loses to a drop of 8
    # on a cardinal (8/1)
    arr = np.full((64, 64), 50.0)
    arr[32, 33] = 42.0   # E drop 8
    arr[33, 33] = 40.0   # SE drop 10 -> 7.07 effective
    out = _run(spark, arr)
    assert out[32, 32] == 1.0


def _basins(spark, arr, tile=32, lo=1, hi=62):
    from lib_gdal_spark.operators.dem import d8_basins
    h, w = arr.shape
    rows = RS.tiles_from_array("t", arr, (0, 1, 0, h, 0, -1), tile=tile)
    tiles = spark.createDataFrame(pd.DataFrame(rows), schema=RS.RASTER_SCHEMA)
    return {(r["px"], r["py"]): r["basin"]
            for r in d8_basins(tiles, tile=tile, lo=lo, hi=hi).collect()}


def test_basins_east_tilt_one_sink_per_row(spark):
    # plane tilted so everything flows EAST: each row drains to its
    # last interior cell (hi, py) -> exactly one basin per row
    arr = np.tile(np.arange(64, 0, -1, dtype=float), (64, 1))
    b = _basins(spark, arr)
    for (px, py), basin in b.items():
        assert basin == py * 65536 + 62
    assert len({v for v in b.values()}) == 62


def test_basins_bowl_single_pit(spark):
    # paraboloid bowl centered at (31.3, 30.7): every interior cell
    # drains to the single pit cell
    yy, xx = np.mgrid[0:64, 0:64]
    arr = ((xx - 31.3) ** 2 + (yy - 30.7) ** 2).astype(float)
    b = _basins(spark, arr)
    sinks = set(b.values())
    assert sinks == {31 * 65536 + 31}
    # and the pit maps to itself
    assert b[(31, 31)] == 31 * 65536 + 31
