"""Binary raster morphology: brute-force parity, tiling invariance,
speckle/pin-hole semantics, edge handling."""

import numpy as np
import pandas as pd
import pytest

from lib_gdal_spark.operators.dem import morphology
from lib_gdal_spark.sources.rasters import RASTER_SCHEMA, tiles_from_array


def _mask_filter(mask: np.ndarray, reduce) -> np.ndarray:
    """3x3 min/max filter with outside-raster = background (0)."""
    pad = np.zeros((mask.shape[0] + 2, mask.shape[1] + 2))
    pad[1:-1, 1:-1] = mask
    wins = [pad[y:y + mask.shape[0], x:x + mask.shape[1]]
            for y in range(3) for x in range(3)]
    return reduce(np.stack(wins), axis=0)


def _fixture(n=48):
    i, j = np.meshgrid(np.arange(n), np.arange(n), indexing="xy")
    arr = ((i * 7 + j * 11) % 29).astype(np.float64)
    return arr


def _tiles(spark, arr, tile):
    gt = (0.0, 1.0, 0.0, float(arr.shape[0]), 0.0, -1.0)
    rows = tiles_from_array("m", arr, gt, tile=tile)
    return spark.createDataFrame(pd.DataFrame(rows), schema=RASTER_SCHEMA)


def _grid(df, n):
    out = np.full((n, n), np.nan)
    for r in df.collect():
        th, tw = r["tile_h"], r["tile_w"]
        a = np.array(r["pixels"]).reshape(th, tw)
        y0, x0 = r["tile_y"] * 16, r["tile_x"] * 16
        out[y0:y0 + th, x0:x0 + tw] = a
    return out


@pytest.mark.parametrize("op,reduce", [("erode", np.min), ("dilate", np.max)])
def test_single_stage_matches_bruteforce(spark, op, reduce):
    arr = _fixture()
    t = _tiles(spark, arr, tile=16)
    got = _grid(morphology(t, op, threshold=14.0), 48)
    want = _mask_filter((arr >= 14.0).astype(float), reduce)
    assert np.array_equal(got, want)


def test_open_and_close_match_bruteforce(spark):
    arr = _fixture()
    t = _tiles(spark, arr, tile=16)
    m = (arr >= 14.0).astype(float)
    want_open = _mask_filter(_mask_filter(m, np.min), np.max)
    want_close = _mask_filter(_mask_filter(m, np.max), np.min)
    assert np.array_equal(_grid(morphology(t, "open", 14.0), 48), want_open)
    assert np.array_equal(_grid(morphology(t, "close", 14.0), 48), want_close)


def test_tiling_invariance(spark):
    arr = _fixture()
    a = _grid(morphology(_tiles(spark, arr, 16), "open", 14.0), 48)
    # different tile size: rebuild grid with tile=24 keys
    df = morphology(_tiles(spark, arr, 24), "open", 14.0)
    b = np.full((48, 48), np.nan)
    for r in df.collect():
        y0, x0 = r["tile_y"] * 24, r["tile_x"] * 24
        b[y0:y0 + r["tile_h"], x0:x0 + r["tile_w"]] = np.array(
            r["pixels"]).reshape(r["tile_h"], r["tile_w"])
    assert np.array_equal(a, b)


def test_speckle_and_pinhole_semantics(spark):
    arr = np.zeros((32, 32))
    arr[5, 5] = 1.0                      # isolated speckle
    arr[10:20, 10:20] = 1.0              # solid block
    arr[14, 14] = 0.0                    # pin-hole inside the block
    t = _tiles(spark, arr, tile=16)
    opened = _grid(morphology(t, "open", 0.5), 32)
    closed = _grid(morphology(t, "close", 0.5), 32)
    assert opened[5, 5] == 0.0           # opening removes the speckle
    assert opened[15, 15] == 1.0         # block interior survives
    assert closed[14, 14] == 1.0         # closing fills the pin-hole
    assert closed[5, 5] == 1.0           # dilation-then-erosion keeps it


def test_rejects_unknown_op(spark):
    t = _tiles(spark, np.zeros((16, 16)), 16)
    with pytest.raises(ValueError):
        morphology(t, "gradient")
