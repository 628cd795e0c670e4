"""Property-based fuzz over the binary codecs (hypothesis): every
generated image/byte-string must survive its round trip bit-exactly.
These complement the fixed-vector tests with adversarial shapes —
1-pixel edges, max values, runs, random noise."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lib_gdal_spark.sources.gtiff import (
    COMP_DEFLATE, COMP_LZW, COMP_PACKBITS,
    lzw_decode, lzw_encode, packbits_decode, packbits_encode,
    parse_geotiff, write_geotiff,
)
from lib_gdal_spark.sources.png import parse_png, write_png

BYTES = st.binary(min_size=0, max_size=5000)


@given(BYTES)
@settings(max_examples=80, deadline=None)
def test_lzw_roundtrip(raw):
    assert lzw_decode(lzw_encode(raw)) == raw


@given(BYTES)
@settings(max_examples=80, deadline=None)
def test_packbits_roundtrip(raw):
    assert packbits_decode(packbits_encode(raw)) == raw


ARRS = st.tuples(
    st.integers(1, 37), st.integers(1, 37),
    st.sampled_from(["uint8", "int16", "uint16", "float32"]),
    st.integers(0, 2 ** 32 - 1),
)


@given(ARRS, st.sampled_from([COMP_LZW, COMP_DEFLATE, COMP_PACKBITS]),
       st.sampled_from([None, 7]))
@settings(max_examples=40, deadline=None)
def test_geotiff_roundtrip(spec, comp, tile):
    h, w, dt, seed = spec
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 200, (h, w)).astype(dt)
    pred = 3 if dt == "float32" else 2
    g = parse_geotiff(write_geotiff(arr, (0, 1, 0, 0, 0, -1),
                                    compression=comp, predictor=pred,
                                    tile=tile))
    assert np.array_equal(g.bands[0], arr)


@given(st.integers(1, 31), st.integers(1, 31), st.integers(1, 4),
       st.integers(0, 2 ** 32 - 1))
@settings(max_examples=40, deadline=None)
def test_png_roundtrip(h, w, nb, seed):
    rng = np.random.default_rng(seed)
    bands = [rng.integers(0, 256, (h, w), dtype=np.uint8).astype(np.uint8)
             for _ in range(nb)]
    p = parse_png(write_png(bands))
    assert all(np.array_equal(a, b) for a, b in zip(p.bands, bands))


SHAPE_PTS = st.lists(
    st.tuples(st.floats(-180, 180, allow_nan=False, width=32),
              st.floats(-90, 90, allow_nan=False, width=32)),
    min_size=2, max_size=40)


@given(SHAPE_PTS, st.integers(0, 2 ** 31 - 1))
@settings(max_examples=40, deadline=None)
def test_shapefile_polyline_roundtrip(pts, seed):
    from lib_gdal_spark.functions import geometry as G
    from lib_gdal_spark.sources.shapefile import (
        SHP_POLYLINE, parse_shp, write_shp)
    arr = np.asarray(pts, dtype=np.float64)
    feats = parse_shp(write_shp([(0, [arr])], SHP_POLYLINE))
    _b, _nd, got = G.parse_wkb_full(feats[0][1])
    assert np.allclose(np.asarray(got), arr, rtol=0, atol=0)


@given(st.lists(st.tuples(
    st.floats(-1000, 1000, allow_nan=False, width=32),
    st.floats(-1000, 1000, allow_nan=False, width=32)),
    min_size=2, max_size=20))
@settings(max_examples=40, deadline=None)
def test_dxf_polyline_roundtrip(pts):
    from lib_gdal_spark.functions import geometry as G
    from lib_gdal_spark.sources.dxf import parse_dxf, write_dxf
    rows = parse_dxf(write_dxf([{"type": "LWPOLYLINE", "pts": pts}]))
    _b, _nd, got = G.parse_wkb_full(rows[0][5])
    assert np.allclose(np.asarray(got),
                       np.asarray(pts, dtype=np.float64), rtol=0, atol=0)


@given(st.lists(st.integers(-32767, 32767), min_size=4, max_size=4),
       st.integers(0, 2 ** 31 - 1))
@settings(max_examples=30, deadline=None)
def test_dted_roundtrip_fuzz(corners, seed):
    from lib_gdal_spark.sources.dted import parse_dted, write_dted
    rng = np.random.default_rng(seed)
    a = rng.integers(-32767, 32767, (121, 121)).astype(np.float64)
    a[0, 0], a[0, -1], a[-1, 0], a[-1, -1] = corners
    got, _gt = parse_dted(write_dted(a, lon0=-80, lat0=43))
    assert np.array_equal(got, a)


# ------------------------------------------------- WARC/WET/WAT fuzz
URLS = st.text(
    alphabet=st.sampled_from("abcdefghij0123456789./-_"), min_size=1,
    max_size=40).map(lambda p: "https://ex.example/" + p)
TEXTS = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF,
                           blacklist_categories=("Cs", "Cc")),
    max_size=300)


@given(st.lists(st.tuples(URLS, TEXTS), min_size=1, max_size=8),
       st.booleans())
@settings(max_examples=40, deadline=None)
def test_wet_roundtrip_fuzz(recs, gz):
    from lib_gdal_spark.sources.warc import parse_warc, write_wet
    wet = [{"url": u, "date": "2024-01-01T00:00:00Z", "text": t}
           for u, t in recs]
    rows = parse_warc(write_wet(wet, gzip_members=gz))
    assert len(rows) == len(wet)
    for row, rec in zip(rows, wet):
        assert row[1] == "conversion"
        assert row[2] == rec["url"]
        assert row[6].decode("utf-8") == rec["text"]


@given(st.lists(st.tuples(URLS, TEXTS, st.lists(URLS, max_size=4)),
                min_size=1, max_size=6))
@settings(max_examples=40, deadline=None)
def test_wat_roundtrip_fuzz(recs):
    import json

    from lib_gdal_spark.sources.warc import parse_warc, write_wat
    wat = [{"url": u, "date": "2024-01-01T00:00:00Z", "title": t,
            "links": ls} for u, t, ls in recs]
    rows = parse_warc(write_wat(wat))
    assert len(rows) == len(wat)
    for row, rec in zip(rows, wat):
        env = json.loads(row[6].decode("utf-8"))["Envelope"]
        md = env["Payload-Metadata"]["HTTP-Response-Metadata"][
            "HTML-Metadata"]
        assert md["Head"]["Title"] == rec["title"]
        assert [x["url"] for x in md["Links"]] == rec["links"]


@given(st.integers(2, 8), st.integers(0, 2 ** 32 - 1),
       st.integers(1, 4000))
@settings(max_examples=60, deadline=None)
def test_gif_lzw_roundtrip_fuzz(mcs, seed, n):
    from lib_gdal_spark.sources.gif import _lzw_decode, _lzw_encode
    rng = np.random.default_rng(seed)
    s = rng.integers(0, 1 << mcs, n).astype(np.uint8).tobytes()
    assert _lzw_decode(_lzw_encode(s, mcs), mcs) == s


@given(st.integers(1, 29), st.integers(1, 29), st.integers(2, 32),
       st.integers(1, 3), st.integers(0, 2 ** 32 - 1))
@settings(max_examples=40, deadline=None)
def test_gif_container_roundtrip_fuzz(h, w, ncolors, nframes, seed):
    from lib_gdal_spark.sources.gif import parse_gif, write_gif
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (ncolors, 3)).astype(np.uint8)
    frames = [rng.integers(0, ncolors, (h, w)).astype(np.uint8)
              for _ in range(nframes)]
    g = parse_gif(write_gif(frames, pal))
    assert (g["width"], g["height"]) == (w, h)
    assert all(np.array_equal(a, b) for a, b in zip(g["frames"], frames))


@given(st.integers(1, 29), st.integers(1, 29),
       st.integers(0, 2 ** 32 - 1))
@settings(max_examples=40, deadline=None)
def test_bmp_roundtrip_fuzz(h, w, seed):
    from lib_gdal_spark.sources.bmp import parse_bmp, write_bmp
    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    assert np.array_equal(parse_bmp(write_bmp(rgb)), rgb)


@given(st.integers(1, 4), st.integers(0, 2 ** 32 - 1))
@settings(max_examples=25, deadline=None)
def test_jpeg_block_constant_fuzz(nb, seed):
    from lib_gdal_spark.sources.jpeg import parse_jpeg, write_jpeg
    rng = np.random.default_rng(seed)
    img = np.kron(rng.integers(0, 256, (nb, nb + 1)),
                  np.ones((8, 8), dtype=int)).astype(np.uint8)
    assert np.array_equal(parse_jpeg(write_jpeg(img)), img)
