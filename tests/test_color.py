"""Median-cut / dither / nearblack operator tests."""

import numpy as np
import pandas as pd

from lib_gdal_spark.operators import color as CL
from lib_gdal_spark.sources.rasters import RASTER_SCHEMA, multiband_tiles


def _tiles_single(spark, arr, tile=16):
    h, w = arr.shape
    rows = []
    for ty in range(0, h, tile):
        for tx in range(0, w, tile):
            p = arr[ty:ty + tile, tx:tx + tile]
            rows.append(dict(
                raster_id="t", band=1, zoom=0, tile_x=tx // tile,
                tile_y=ty // tile, dtype="float64",
                tile_w=p.shape[1], tile_h=p.shape[0],
                gt0=float(tx), gt1=1.0, gt2=0.0, gt3=float(ty), gt4=0.0,
                gt5=1.0, nodata=None, pixels=p.ravel().tolist(),
            ))
    return spark.createDataFrame(pd.DataFrame(rows), schema=RASTER_SCHEMA)


def test_median_cut_recovers_distinct_colors(spark):
    tiles = multiband_tiles(spark, n=64, tile=32)
    pal = CL.median_cut_palette(tiles, n_colors=8)
    assert len(pal) == 8
    assert all(0 <= c <= 255 for rgb in pal for c in rgb)
    assert len(set(pal)) == 8  # distinct entries


def test_dither_output_indexes_palette(spark):
    tiles = multiband_tiles(spark, n=64, tile=32)
    pal = CL.median_cut_palette(tiles, n_colors=8)
    out = CL.dither_rgb_to_pct(tiles, pal).collect()
    assert len(out) == 4
    vals = np.concatenate([np.asarray(r["pixels"]) for r in out])
    assert vals.min() >= 0 and vals.max() <= 7
    # dithering a constant image with an exact palette entry is lossless
    flat = np.full((32, 32), 100.0)
    t2rows = []
    for band in (1, 2, 3):
        t2rows.append(dict(
            raster_id="c", band=band, zoom=0, tile_x=0, tile_y=0,
            dtype="float64", tile_w=32, tile_h=32,
            gt0=0.0, gt1=1.0, gt2=0.0, gt3=0.0, gt4=0.0, gt5=1.0,
            nodata=None, pixels=flat.ravel().tolist(),
        ))
    t2 = spark.createDataFrame(pd.DataFrame(t2rows), schema=RASTER_SCHEMA)
    out2 = CL.dither_rgb_to_pct(t2, [(0, 0, 0), (100, 100, 100)]).collect()
    assert set(np.asarray(out2[0]["pixels"]).tolist()) == {1.0}


def test_nearblack_removes_border_collar_keeps_interior(spark):
    arr = np.full((32, 32), 200.0)
    arr[:3, :] = 5.0      # near-black top collar
    arr[:, :2] = 8.0      # near-black left collar
    arr[15:18, 15:18] = 5.0  # interior near-black blob: must SURVIVE
    tiles = _tiles_single(spark, arr, tile=16)
    out = CL.nearblack(tiles, spark, grid_w=32, grid_h=32, near=15.0,
                       target=0.0, tile=16).collect()
    full = np.zeros((32, 32))
    for r in out:
        a = np.asarray(r["pixels"]).reshape(r["tile_h"], r["tile_w"])
        full[r["tile_y"] * 16:r["tile_y"] * 16 + r["tile_h"],
             r["tile_x"] * 16:r["tile_x"] * 16 + r["tile_w"]] = a
    assert (full[:3, :] == 0.0).all()
    assert (full[:, :2] == 0.0).all()
    assert (full[15:18, 15:18] == 5.0).all()   # interior blob untouched
    assert (full[20:, 20:] == 200.0).all()


def test_dither_exact_crosses_tile_seams(spark):
    """Whole-image FS must match a single-process reference including
    error that flows ACROSS tile boundaries (where the per-tile mode
    deviates by design)."""
    tiles = multiband_tiles(spark, n=64, tile=32)
    pal = [(0, 0, 0), (85, 85, 85), (170, 170, 170), (255, 255, 255)]
    out = CL.dither_rgb_to_pct_exact(tiles, pal, grid_w=64, grid_h=64,
                                     tile=32).collect()
    full = np.zeros((64, 64))
    for r in out:
        a = np.asarray(r["pixels"]).reshape(r["tile_h"], r["tile_w"])
        full[r["tile_y"] * 32:r["tile_y"] * 32 + r["tile_h"],
             r["tile_x"] * 32:r["tile_x"] * 32 + r["tile_w"]] = a
    # independent single-process reference
    from lib_gdal_spark.sources.rasters import multiband
    bandsarr = multiband(64)
    img = np.stack([bandsarr[1], bandsarr[2], bandsarr[3]], axis=-1).astype(float)
    p = np.asarray(pal, float)
    ref = np.zeros((64, 64))
    err = np.zeros((64, 64, 3))
    for y in range(64):
        for x in range(64):
            v = img[y, x] + err[y, x]
            k = int(np.argmin(((p - v[None, :]) ** 2).sum(1)))
            ref[y, x] = k
            e = v - p[k]
            if x + 1 < 64:
                err[y, x + 1] += e * (7 / 16)
            if y + 1 < 64:
                if x > 0:
                    err[y + 1, x - 1] += e * (3 / 16)
                err[y + 1, x] += e * (5 / 16)
                if x + 1 < 64:
                    err[y + 1, x + 1] += e * (1 / 16)
    assert np.array_equal(full, ref)
    # and the per-tile mode deviates somewhere near a seam (documents the
    # design difference; if equal the exact mode would be redundant)
    per_tile = CL.dither_rgb_to_pct(tiles, pal).collect()
    ft = np.zeros((64, 64))
    for r in per_tile:
        a = np.asarray(r["pixels"]).reshape(r["tile_h"], r["tile_w"])
        ft[r["tile_y"] * 32:r["tile_y"] * 32 + r["tile_h"],
           r["tile_x"] * 32:r["tile_x"] * 32 + r["tile_w"]] = a
    assert not np.array_equal(ft, ref)


def test_pct_round_trip(spark):
    """rgb2pct -> pct2rgb round-trips exactly when colors hit the palette."""
    flat0 = np.zeros((32, 32)); flat0[:, 16:] = 1.0
    rows = [dict(
        raster_id="p", band=1, zoom=0, tile_x=0, tile_y=0,
        dtype="uint8", tile_w=32, tile_h=32,
        gt0=0.0, gt1=1.0, gt2=0.0, gt3=0.0, gt4=0.0, gt5=1.0,
        nodata=None, pixels=flat0.ravel().tolist(),
    )]
    idx = spark.createDataFrame(pd.DataFrame(rows), schema=RASTER_SCHEMA)
    pal = [(10, 20, 30), (200, 150, 100)]
    rgb = CL.pct_to_rgb(idx, pal).collect()
    assert len(rgb) == 3
    by_band = {r["band"]: np.asarray(r["pixels"]).reshape(32, 32)
               for r in rgb}
    assert by_band[1][0, 0] == 10 and by_band[1][0, 31] == 200
    assert by_band[2][0, 0] == 20 and by_band[3][0, 31] == 100


def test_equalize_matches_reference_arithmetic(spark):
    """gdalenhance -equalize LUT (apps/gdalenhance.cpp): distributed
    result == single-array transcription of the C arithmetic."""
    import numpy as np
    from pyspark.sql import functions as F

    from lib_gdal_spark.operators.color import equalize
    from lib_gdal_spark.sources.rasters import fixture_rasters, gradient

    tiles = fixture_rasters(spark).where(F.col("raster_id") == "gradient256")
    out = equalize(tiles).collect()
    got = np.full((256, 256), np.nan)
    for r in out:
        a = np.asarray(r["pixels"]).reshape(r["tile_h"], r["tile_w"])
        got[r["tile_y"] * 64:(r["tile_y"] + 1) * 64,
            r["tile_x"] * 64:(r["tile_x"] + 1) * 64] = a

    src = gradient(256).astype(np.int64)
    hist = np.bincount(src.ravel(), minlength=256)
    hist[0] = 0
    hist[255] = 0
    cum = np.zeros(256, dtype=np.int64)
    total = 0
    for i in range(256):
        cum[i] = total + hist[i] // 2
        total += int(hist[i])
    lut = np.clip(cum * 256 // max(total, 1), 0, 255)
    scale = 256 / 256.0
    bins_ = np.floor((src - (-0.5)) * scale).astype(np.int64)
    want = lut[np.clip(bins_, 0, 255)].astype(np.float64)
    assert np.array_equal(got, want)
    # equalization property: the output CDF is closer to linear than the
    # input's (std of per-value counts can RISE from LUT bin merging, so
    # compare cumulative deviation, the quantity equalization minimizes)
    def cdf_dev(a):
        c = np.cumsum(np.bincount(a.ravel(), minlength=256)) / a.size
        return np.abs(c - np.linspace(1 / 256, 1.0, 256)).max()

    assert cdf_dev(want.astype(np.int64)) <= cdf_dev(src) + 1e-9
