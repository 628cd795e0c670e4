"""Pages generator + extraction invariants (pandas; Spark only for the
enrich/verify round trip)."""

import numpy as np
import pandas as pd

from lib_gdal_spark.functions import cells as C
from lib_gdal_spark.functions import extract as X
from lib_gdal_spark.sources import pages as P


def test_deterministic_across_batching():
    ids = np.arange(0, 200)
    full = P.build_batch(ids)
    a = P.build_batch(ids[:97])
    b = P.build_batch(ids[97:])
    assert (full["html"].iloc[:97].to_numpy() == a["html"].to_numpy()).all()
    assert (full["html"].iloc[97:].to_numpy() == b["html"].to_numpy()).all()


def test_text_invariant_byte_identical():
    b = P.build_batch(np.arange(0, 500))
    got, _, _ = X.extract_enriched(X.decode_html(b["html"]))
    assert (got.str.encode("utf-8") == b["text"].str.encode("utf-8")).all()


def test_coords_roundtrip():
    ids = np.arange(0, 1000)
    b = P.build_batch(ids)
    _, lon_e, lat_e = X.extract_enriched(X.decode_html(b["html"]))
    lon_g, lat_g = P.page_coords(ids)
    has = ~np.isnan(lon_g)
    assert has.mean() > 0.5  # GEO_FRACTION ~ 0.8
    assert np.isnan(lon_e.to_numpy()[~has]).all()
    # 4-decimal string round trip is exact
    assert np.array_equal(lon_e.to_numpy()[has], lon_g[has])
    assert np.array_equal(lat_e.to_numpy()[has], lat_g[has])


# Hand-built pages the generator never emits -> (text, lon, lat) the
# extractor returns for them. A paragraph with markup inside does not match
# the text contract's <p> rule and drops out; the meta tag beats the span.
ADVERSARIAL = {
    "nested": (b"<title>Nested</title><p>outer <b>bold</b> tail</p>"
               b"<p>plain</p>", "Nested\nplain", None, None),
    "empty_p": (b"<title>Empty</title><p></p><p>after</p>",
                "Empty\n\nafter", None, None),
    "non_ascii": ("<title>Zürich — 東京</title><p>café</p>".encode(),
                  "Zürich — 東京\ncafé", None, None),
    "span_only": (b'<title>Span</title><p>body</p><span data-lat="-33.8688" '
                  b'data-lon="151.2093">Sydney</span>',
                  "Span\nbody\nSydney", 151.2093, -33.8688),
    "disagree": (b'<title>Both</title><meta name="geo.position" '
                 b'content="48.8566;2.3522"><p>x</p><span data-lat="51.5074" '
                 b'data-lon="-0.1278">London</span>',
                 "Both\nx\nLondon", 2.3522, 48.8566),
    "bad_utf8": (b"<title>Bad\xff</title><p>caf\xe9 ok</p>",
                 "Bad\ufffd\ncaf\ufffd ok", None, None),
    # digits are ASCII [0-9] in both engines (Python's \d is wider)
    "arabic_digits": ('<title>Arabic</title><p>x</p><span data-lat="\u0664\u0668'
                      '.\u0668\u0665" data-lon="\u0662.\u0663\u0665">Paris'
                      '</span>'.encode(), "Arabic\nx", None, None),
    "fullwidth_meta": ('<title>Wide</title><meta name="geo.position" content='
                       '"\uff14\uff18.\uff18;\uff12.\uff13"><p>y</p><span '
                       'data-lat="45.76" data-lon="4.84">Lyon</span>'.encode(),
                       "Wide\ny\nLyon", 4.84, 45.76),
    # Spark half only: NULL html is NULL text and no coordinates
    "null_html": (None, None, None, None),
}


def test_adversarial_pages_extract(spark):
    from lib_gdal_spark.operators import geo

    urls = [u for u in ADVERSARIAL if ADVERSARIAL[u][0] is not None]
    html = pd.Series([ADVERSARIAL[u][0] for u in urls], dtype=object)
    text, lon, lat = X.extract_enriched(X.decode_html(html))
    assert text.tolist() == [ADVERSARIAL[u][1] for u in urls]
    # None pins "no coordinates", which the extractor returns as NaN
    want = np.array([ADVERSARIAL[u][2:] for u in urls], dtype=np.float64)
    assert np.array_equal(np.column_stack([lon, lat]), want, equal_nan=True)

    pages = spark.createDataFrame(
        [(u, None, v[0] and bytearray(v[0]), v[1], "en")
         for u, v in ADVERSARIAL.items()], P.PAGES_SCHEMA)
    enriched = geo.enrich_pages(pages, res=12)
    # the stored text is the expected one; NULL html is a violation
    assert [r["url"] for r in geo.verify_text_invariant(pages).collect()] == [
        "null_html"]
    got = {r["url"]: r for r in enriched.collect()}
    assert {u: (r["text"], r["lon"], r["lat"]) for u, r in got.items()} == {
        u: v[1:] for u, v in ADVERSARIAL.items()}
    assert got["null_html"]["cell"] is None


def test_skew_present():
    ids = np.arange(0, 20000)
    lon, lat = P.page_coords(ids)
    ok = ~np.isnan(lon)
    cell = C.lonlat_to_cell(lon[ok], lat[ok], 7)
    _, counts = np.unique(cell, return_counts=True)
    # Zipf over cities: the hottest cell should dominate the median cell.
    assert counts.max() > 20 * np.median(counts)


def test_duplicates_exist():
    b = P.build_batch(np.arange(0, 5000))
    body = b["text"].str.split("\n").str[1]
    assert body.duplicated().mean() > 0.02
