"""GeoTIFF codec (sources/gtiff.py) — round-trips, real-file ground
truth, and the distributed binaryFile read path."""

import itertools
import os

import numpy as np
import pytest

from lib_gdal_spark.kernels.checksum import gdal_checksum
from lib_gdal_spark.sources.gtiff import (
    COMP_DEFLATE, COMP_LZW, COMP_NONE, COMP_PACKBITS,
    lzw_decode, lzw_encode, packbits_decode, packbits_encode,
    parse_geotiff, read_geotiff, write_geotiff,
)
from lib_gdal_spark.sources.rasters import BYTE20_GT, byte20

REF_BYTE_TIF = "/root/reference/tests/gcore/data/byte.tif"


def test_lzw_packbits_primitives():
    rng = np.random.default_rng(7)
    cases = [rng.integers(0, 256, n, dtype=np.uint8).tobytes()
             for n in (0, 1, 5, 300, 70000)]
    cases.append(b"\x00" * 500 + b"abc" * 400 + bytes(range(256)) * 30)
    for raw in cases:
        assert lzw_decode(lzw_encode(raw)) == raw
        assert packbits_decode(packbits_encode(raw)) == raw


@pytest.mark.parametrize("comp", [COMP_NONE, COMP_LZW, COMP_DEFLATE,
                                  COMP_PACKBITS])
def test_roundtrip_matrix(comp):
    b20 = byte20()
    for dt in ("uint8", "uint16", "int16", "uint32", "int32",
               "float32", "float64"):
        arr = (b20.astype(np.float64) * 1.5 - 30).astype(dt)
        preds = (1, 3) if dt.startswith("float") else (1, 2)
        for pred, kw in itertools.product(
                preds, ({"tile": 16}, {"rows_per_strip": 7}, {})):
            g = parse_geotiff(write_geotiff(
                arr, BYTE20_GT, compression=comp, predictor=pred,
                nodata=255.0, epsg=26711, **kw))
            assert np.array_equal(g.bands[0], arr), (dt, pred, kw)
            assert g.gt == BYTE20_GT and g.nodata == 255.0
            assert g.epsg == 26711 and g.dtype == dt


def test_checksum_anchor_through_codec():
    data = write_geotiff(byte20(), BYTE20_GT, compression=COMP_LZW,
                         predictor=2, tile=16)
    g = parse_geotiff(data)
    assert gdal_checksum(g.bands[0].astype(np.float64)) == 4672


def test_multiband_chunky_and_planar():
    b20 = byte20()
    bands = [b20, (b20 + 1).astype(np.uint8), (b20 * 2).astype(np.uint8)]
    for planar, kw in itertools.product((False, True),
                                        ({"tile": 16}, {})):
        g = parse_geotiff(write_geotiff(
            bands, BYTE20_GT, compression=COMP_DEFLATE, predictor=2,
            planar=planar, **kw))
        assert len(g.bands) == 3
        for got, want in zip(g.bands, bands):
            assert np.array_equal(got, want), (planar, kw)


def test_complex_sample_formats():
    b20 = byte20()
    z = (b20.astype(np.float32)
         + 1j * np.arange(400).reshape(20, 20).astype(np.float32))
    g = parse_geotiff(write_geotiff([z], BYTE20_GT, dtype="cfloat32",
                                    compression=COMP_LZW, tile=16))
    assert g.dtype == "cfloat32"
    assert np.array_equal(g.bands[0][:, 0::2], z.real)
    assert np.array_equal(g.bands[0][:, 1::2], z.imag)
    zi = ((np.arange(400).reshape(20, 20) - 200) + 0j).astype(np.complex64)
    g = parse_geotiff(write_geotiff([zi], BYTE20_GT, dtype="cint16"))
    assert g.dtype == "cint16"
    assert np.array_equal(g.bands[0][:, 0::2], zi.real.astype(np.int16))


def test_rotated_geotransform_uses_model_transformation():
    gtr = (100.0, 2.0, 0.5, 200.0, -0.5, -2.0)
    assert parse_geotiff(write_geotiff(byte20(), gtr)).gt == gtr


@pytest.mark.skipif(not os.path.exists(REF_BYTE_TIF),
                    reason="reference test data not present")
def test_real_gdal_files_ground_truth():
    """Files written by the reference toolchain itself decode bit-exact
    (behavioral check only — no reference code involved)."""
    g = parse_geotiff(open(REF_BYTE_TIF, "rb").read())
    assert gdal_checksum(g.bands[0].astype(np.float64)) == 4672
    assert g.gt == BYTE20_GT and g.epsg == 26711
    big = REF_BYTE_TIF.replace("byte.tif", "byte_bigtiff_strip5lines.tif")
    if os.path.exists(big):
        g2 = parse_geotiff(open(big, "rb").read())
        assert gdal_checksum(g2.bands[0].astype(np.float64)) == 4672


def test_read_geotiff_distributed(spark, tmp_path):
    b20 = (byte20() // 2).astype(np.uint8)  # headroom: +i can't wrap
    for i, comp in enumerate([COMP_NONE, COMP_LZW, COMP_DEFLATE,
                              COMP_PACKBITS]):
        data = write_geotiff((b20 + i).astype(np.uint8), BYTE20_GT,
                             compression=comp, tile=16, nodata=0.0)
        (tmp_path / f"r{i}.tif").write_bytes(data)
    tiles = read_geotiff(spark, str(tmp_path / "*.tif"), tile=16)
    rows = tiles.collect()
    assert len(rows) == 4 * 4  # 4 files x 2x2 tiles of 16 (20x20 edge)
    per = {}
    for r in rows:
        per.setdefault(r["raster_id"], 0.0)
        per[r["raster_id"]] += sum(r["pixels"])
    base = float(b20.sum())
    got = sorted(per.values())
    assert got == sorted(base + 400.0 * i for i in range(4))
    one = rows[0]
    assert one["dtype"] == "uint8" and one["nodata"] == 0.0


def test_cog_overview_chain():
    from lib_gdal_spark.sources.gtiff import parse_geotiff_all, write_cog
    b20 = byte20().astype(np.float32)
    l1 = b20.reshape(10, 2, 10, 2).mean(axis=(1, 3),
                                        dtype=np.float64).astype(np.float32)
    l2 = l1.reshape(5, 2, 5, 2).mean(axis=(1, 3),
                                     dtype=np.float64).astype(np.float32)
    data = write_cog([b20, l1, l2], BYTE20_GT, compression=COMP_DEFLATE,
                     predictor=3, tile=16, nodata=-1.0, epsg=26711)
    levels = parse_geotiff_all(data)
    assert [lv.bands[0].shape for lv in levels] == \
        [(20, 20), (10, 10), (5, 5)]
    assert np.array_equal(levels[0].bands[0], b20)
    assert np.array_equal(levels[1].bands[0], l1)
    assert np.array_equal(levels[2].bands[0], l2)
    assert levels[0].gt == BYTE20_GT and levels[0].epsg == 26711
    assert levels[0].nodata == -1.0 and levels[1].nodata == -1.0
    # plain parse still sees only the full-resolution image
    assert parse_geotiff(data).bands[0].shape == (20, 20)
    # IFDs precede pixel data (the cloud-optimized property)
    import struct as _s
    (ifd0,) = _s.unpack_from("<I", data, 4)
    assert ifd0 == 8


def test_read_geotiff_overviews_zoom_levels(spark, tmp_path):
    from lib_gdal_spark.sources.gtiff import read_geotiff, write_cog
    b20 = byte20().astype(np.float32)
    l1 = b20.reshape(10, 2, 10, 2).mean(axis=(1, 3),
                                        dtype=np.float64).astype(np.float32)
    (tmp_path / "c.tif").write_bytes(
        write_cog([b20, l1], BYTE20_GT, tile=16))
    tiles = read_geotiff(spark, str(tmp_path / "*.tif"), tile=16,
                         overviews=True).collect()
    by_zoom = {}
    for r in tiles:
        by_zoom.setdefault(r["zoom"], []).append(r)
    assert set(by_zoom) == {0, 1}
    assert sum(len(r["pixels"]) for r in by_zoom[0]) == 400
    assert sum(len(r["pixels"]) for r in by_zoom[1]) == 100
    z1 = by_zoom[1][0]
    assert z1["gt1"] == 120.0 and z1["gt5"] == -120.0  # 2x coarser
    assert sum(sum(r["pixels"]) for r in by_zoom[1]) == \
        pytest.approx(float(l1.sum(dtype=np.float64)))


def test_all_reference_dtype_anchors():
    """test_gdal_gtiff.cpp:71-82 pins 12 per-dtype fixtures (4672 for
    every real dtype, 5028 for every complex dtype walking interleaved
    words, 50054 for utmsmall) — all decode through this codec."""
    anchors = {"byte.tif": 4672, "int16.tif": 4672, "uint16.tif": 4672,
               "int32.tif": 4672, "uint32.tif": 4672,
               "float32.tif": 4672, "float64.tif": 4672,
               "cint16.tif": 5028, "cint32.tif": 5028,
               "cfloat32.tif": 5028, "cfloat64.tif": 5028,
               "utmsmall.tif": 50054}
    base = "/root/reference/tests/cpp/data/"
    if not os.path.exists(base + "byte.tif"):
        pytest.skip("reference test data not present")
    for f, want in anchors.items():
        g = parse_geotiff(open(base + f, "rb").read())
        assert gdal_checksum(g.bands[0].astype(np.float64)) == want, f


def test_tiles_to_geotiff_export(spark):
    """Tile table -> COG blob per raster: byte20 fixture re-exported and
    re-parsed must checksum 4672 at level 0, with the overview chain
    and georeference intact."""
    from lib_gdal_spark.sources.gtiff import (
        parse_geotiff_all, tiles_to_geotiff)
    from lib_gdal_spark.sources.rasters import (
        RASTER_COLS, RASTER_SCHEMA, tiles_from_array)
    b20 = byte20()
    l1 = (b20.reshape(10, 2, 10, 2).astype(np.float64)
          .mean(axis=(1, 3))).astype(np.uint8)
    rows = (tiles_from_array("r", b20, BYTE20_GT, tile=16, zoom=0)
            + tiles_from_array("r", l1,
                               (BYTE20_GT[0], 120.0, 0.0, BYTE20_GT[3],
                                0.0, -120.0), tile=16, zoom=1))
    df = spark.createDataFrame(
        [tuple(r[c] for c in RASTER_COLS) for r in rows],
        schema=RASTER_SCHEMA)
    out = tiles_to_geotiff(df, tile=16).collect()
    assert len(out) == 1 and out[0]["n_levels"] == 2
    levels = parse_geotiff_all(bytes(out[0]["tif"]))
    assert gdal_checksum(levels[0].bands[0].astype(np.float64)) == 4672
    assert np.array_equal(levels[1].bands[0], l1)
    assert levels[0].gt == BYTE20_GT


def test_tiles_to_geotiff_guard(spark):
    from lib_gdal_spark.sources.gtiff import tiles_to_geotiff
    from lib_gdal_spark.sources.rasters import (
        RASTER_COLS, RASTER_SCHEMA, tiles_from_array)
    rows = tiles_from_array("r", byte20(), BYTE20_GT, tile=16)
    df = spark.createDataFrame(
        [tuple(r[c] for c in RASTER_COLS) for r in rows],
        schema=RASTER_SCHEMA)
    with pytest.raises(Exception, match="gather guard"):
        tiles_to_geotiff(df, max_pixels_per_raster=100).collect()
