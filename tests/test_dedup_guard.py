"""URL-level exact dedup: canonical-URL normalization and first capture
per canonical URL."""

from lib_gdal_spark.operators.cdx import canonical_url, dedup_by_canonical_url


def test_canonical_url(spark):
    from pyspark.sql import functions as F

    cases = [
        ("HTTP://WWW.Example.com:80/Path/?utm_source=x&q=1#frag",
         "http://example.com/Path/?q=1"),
        ("https://example.com/", "https://example.com"),
        ("https://example.com/a?utm_campaign=z", "https://example.com/a"),
        ("https://example.com/a?fbclid=abc&q=2&utm_x=1",
         "https://example.com/a?q=2"),
        ("not a url", "not a url"),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "u string")
    got = [r["c"] for r in
           df.select(canonical_url(F.col("u")).alias("c")).collect()]
    assert got == [c[1] for c in cases], got


def test_dedup_by_canonical_url(spark):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("http://www.a.com/x?utm_source=1", t0, "first"),
        ("http://a.com/x", t0 + datetime.timedelta(hours=1), "dup-later"),
        ("http://b.com/y", t0, "other"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, tag string")
    out = dedup_by_canonical_url(df)
    got = {r["__canon"]: r["tag"] for r in out.collect()}
    assert got == {"http://a.com/x": "first", "http://b.com/y": "other"}
