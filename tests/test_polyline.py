"""Encoded Polyline codec: the spec's published worked example, lossless
roundtrip through the reference decoder, delta/zigzag edge cases, and
partitioning invariance of the per-line assembly."""

import random

from lib_gdal_spark.functions.polyline import (
    polyline_decode,
    polyline_encode,
)
from lib_gdal_spark.session import local_df


def _df(spark, rows):
    return local_df(spark, rows, "line_id long, seq long, lon double, lat double")


def test_spec_worked_example(spark):
    # developers.google.com "Encoded Polyline Algorithm Format" example
    rows = [(1, 0, -120.2, 38.5), (1, 1, -120.95, 40.7),
            (1, 2, -126.453, 43.252)]
    out = polyline_encode(_df(spark, rows)).collect()[0]
    assert out["polyline"] == "_p~iF~ps|U_ulLnnqC_mqNvxq`@"
    assert out["n_pts"] == 3


def test_roundtrip_random_tracks(spark):
    rng = random.Random(1234)
    rows = []
    for line in range(5):
        for seq in range(40):
            rows.append((line, seq,
                         round(rng.uniform(-180, 180), 5),
                         round(rng.uniform(-85, 85), 5)))
    out = {r["line_id"]: r["polyline"]
           for r in polyline_encode(_df(spark, rows)).collect()}
    want = {}
    for line, seq, lon, lat in rows:
        want.setdefault(line, []).append((lon, lat))
    for line, pts in want.items():
        got = polyline_decode(out[line])
        assert len(got) == len(pts)
        for (glon, glat), (wlon, wlat) in zip(got, pts):
            assert abs(glon - wlon) < 1e-5 / 2 + 1e-9
            assert abs(glat - wlat) < 1e-5 / 2 + 1e-9


def test_zero_and_negative_half_deltas(spark):
    # repeated vertex (zero delta -> single '?'), and the -0.000005 row
    # exercises the away-from-zero negative-half quantization
    rows = [(1, 0, 0.0, 0.0), (1, 1, 0.0, 0.0),
            (1, 2, -0.000005, 0.000005)]
    out = polyline_encode(_df(spark, rows)).collect()[0]["polyline"]
    pts = polyline_decode(out)
    assert pts[0] == (0.0, 0.0)
    assert pts[1] == (0.0, 0.0)
    assert pts[2] == (-1e-5, 1e-5)


def test_partitioning_invariant(spark):
    rows = [(i % 7, i, (i * 37 % 360) - 180 + 0.123, (i * 53 % 170) - 85 + 0.321)
            for i in range(700)]
    a = sorted(map(tuple, polyline_encode(_df(spark, rows)).collect()))
    b = sorted(map(tuple,
                   polyline_encode(_df(spark, rows).repartition(11)).collect()))
    assert a == b
    assert all(n == 100 for (_, n, _) in a)
