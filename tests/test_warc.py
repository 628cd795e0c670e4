"""WARC source (sources/warc.py) — CC-style gzip members + pages head."""

from lib_gdal_spark.sources.warc import (
    parse_warc, warc_response_pages, write_warc,
)

RECS = [
    {"url": "https://a.example/p1", "date": "2024-01-02T03:04:05Z",
     "body": b"<html><body>hello one</body></html>"},
    {"url": "https://b.example/p2", "date": "2024-01-02T03:04:06Z",
     "body": b"<html>two</html>", "status": 404},
    {"url": "https://c.example/p3", "date": "2024-01-02T03:04:07Z",
     "body": b"\x00\x01binary", "content_type": "image/png"},
]


def _check(rows):
    assert [r[0] for r in rows] == [0, 1, 2]
    assert rows[0][2] == "https://a.example/p1"
    assert rows[0][4] == 200 and rows[1][4] == 404
    assert rows[0][6] == RECS[0]["body"]
    assert rows[2][5] == "image/png" and rows[2][6] == b"\x00\x01binary"


def test_roundtrip_gzip_members():
    _check(parse_warc(write_warc(RECS, gzip_members=True)))


def test_roundtrip_plain():
    _check(parse_warc(write_warc(RECS, gzip_members=False)))


def test_distributed_pages_head(spark, tmp_path):
    (tmp_path / "a.warc.gz").write_bytes(write_warc(RECS))
    (tmp_path / "b.warc.gz").write_bytes(write_warc(RECS[:1]))
    from lib_gdal_spark.sources.warc import read_warc
    recs = read_warc(spark, str(tmp_path / "*.warc.gz"))
    assert recs.count() == 4
    pages = warc_response_pages(recs).collect()
    assert len(pages) == 4
    one = [p for p in pages if p["url"].endswith("p1")][0]
    assert bytes(one["html"]) == RECS[0]["body"]
    assert str(one["warc_ts"]).startswith("2024-01-02 03:04:05")
