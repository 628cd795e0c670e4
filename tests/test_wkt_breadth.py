"""WKB/WKT codec breadth (VERDICT r2 #5): MultiPoint, MultiLineString,
GeometryCollection, Z variants, and the OGR 2.5D type-flag import."""

import struct

from lib_gdal_spark.functions import geometry as G
from lib_gdal_spark.functions import wkt as W


def _rt(wkt: str) -> str:
    return W.wkb_to_wkt(W.wkt_to_wkb(wkt))


def test_round_trips_2d():
    cases = [
        "POINT (1 2)",
        "LINESTRING (0 0, 1 1, 2 0.5)",
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
        "MULTIPOINT ((1 2), (3 4), (-5 6.5))",
        "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 2))",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
        "((5 5, 6 5, 6 6, 5 6, 5 5)))",
    ]
    for c in cases:
        assert _rt(c) == c, c


def test_round_trips_z():
    cases = [
        "POINT Z (1 2 3)",
        "LINESTRING Z (0 0 1, 1 1 2)",
        "POLYGON Z ((0 0 5, 4 0 5, 4 4 5, 0 4 5, 0 0 5))",
        "MULTIPOINT Z ((1 2 3), (4 5 6))",
    ]
    for c in cases:
        assert _rt(c) == c, c
    # bare "POINT (x y z)" also imports as Z (OGR-tolerant)
    assert W.wkb_to_wkt(W.wkt_to_wkb("POINT (1 2 3)")) == "POINT Z (1 2 3)"


def test_geometrycollection_round_trip():
    c = ("GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1), "
         "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))")
    assert _rt(c) == c


def test_multipoint_flat_syntax():
    assert (W.wkb_to_wkt(W.wkt_to_wkb("MULTIPOINT (1 2, 3 4)"))
            == "MULTIPOINT ((1 2), (3 4))")


def test_25d_flag_import():
    """OGR's wkb25DBit (0x80000000) reads as a Z geometry."""
    blob = struct.pack("<BIddd", 1, G.WKB_POINT | G.WKB_25D_BIT,
                       7.0, 8.0, 9.0)
    base, ndim, payload = G.parse_wkb_full(blob)
    assert base == G.WKB_POINT and ndim == 3 and payload == (7.0, 8.0, 9.0)
    # 2-D projection drops Z
    b2, p2 = G.parse_wkb(blob)
    assert p2 == (7.0, 8.0)


def test_z_projection_for_planar_ops():
    wkb = W.wkt_to_wkb("POLYGON Z ((0 0 1, 4 0 2, 4 4 3, 0 4 4, 0 0 1))")
    base, rings = G.parse_wkb(wkb)
    assert base == G.WKB_POLYGON
    assert rings[0].shape == (5, 2)
    assert G.envelope(wkb) == (0.0, 0.0, 4.0, 4.0)


def test_envelope_new_types():
    assert G.envelope(W.wkt_to_wkb("MULTIPOINT ((1 2), (5 -3))")) == \
        (1.0, -3.0, 5.0, 2.0)
    assert G.envelope(W.wkt_to_wkb(
        "MULTILINESTRING ((0 0, 1 1), (2 2, 3 9))")) == (0.0, 0.0, 3.0, 9.0)
    assert G.envelope(W.wkt_to_wkb(
        "GEOMETRYCOLLECTION (POINT (10 10), LINESTRING (0 0, 1 1))")) == \
        (0.0, 0.0, 10.0, 10.0)


def test_special_fields_parser(spark):
    import pandas as pd

    from lib_gdal_spark.plans.ogr_parser import execute_sql

    rows = [
        (1, bytearray(W.wkt_to_wkb(
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))")),
         "PEN(c:#000000)"),
        (2, bytearray(W.wkt_to_wkb("POINT (9 9)")), None),
        (3, bytearray(W.wkt_to_wkb(
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
            "((5 5, 7 5, 7 7, 5 7, 5 5)))")), "BRUSH(fc:#ff0000)"),
    ]
    df = spark.createDataFrame(
        rows, "fid long, geom_wkb binary, ogr_style string")
    out = execute_sql(
        {"lyr": df},
        "SELECT FID, OGR_GEOMETRY AS t, OGR_GEOM_WKT AS wkt, "
        "OGR_GEOM_AREA AS a, OGR_STYLE AS st FROM lyr ORDER BY FID",
        style_col="ogr_style",
    ).collect()
    assert [r["FID"] for r in out] == [1, 2, 3]
    assert [r["t"] for r in out] == ["POLYGON", "POINT", "MULTIPOLYGON"]
    assert out[0]["a"] == 15.0  # 16 outer - 1 hole
    assert out[1]["a"] == 0.0   # non-surface -> 0 (ogrfeature.cpp:1883)
    assert out[2]["a"] == 5.0   # 1 + 4
    assert out[0]["wkt"].startswith("POLYGON ((0 0, 4 0")
    assert out[1]["wkt"] == "POINT (9 9)"
    assert out[1]["st"] is None and out[2]["st"] == "BRUSH(fc:#ff0000)"
    # WHERE on a special field
    filt = execute_sql(
        {"lyr": df},
        "SELECT FID FROM lyr WHERE OGR_GEOM_AREA > 6",
    ).collect()
    assert [r["FID"] for r in filt] == [1]


def test_force_coercions():
    """gensql forceToPolygon / forceToMultiLineString
    (drivers/ogr_gensql.cpp:1396-1416)."""
    mp = W.wkt_to_wkb("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
                      "((5 5, 6 5, 6 6, 5 6, 5 5)))")
    poly = G.force_to_polygon(mp)
    assert W.wkb_to_wkt(poly).startswith("POLYGON ((0 0, 1 0")
    base, rings = G.parse_wkb(poly)
    assert base == G.WKB_POLYGON and len(rings) == 2
    # pass-through for inconvertible input
    pt = W.wkt_to_wkb("POINT (1 2)")
    assert G.force_to_polygon(pt) == pt
    mls = G.force_to_multilinestring(
        W.wkt_to_wkb("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0), "
                     "(0.5 0.5, 1 0.5, 1 1, 0.5 1, 0.5 0.5))"))
    assert W.wkb_to_wkt(mls).startswith("MULTILINESTRING ((0 0, 2 0")
    base, lines = G.parse_wkb(mls)
    assert base == G.WKB_MULTILINESTRING and len(lines) == 2
    ls = W.wkt_to_wkb("LINESTRING (0 0, 1 1)")
    assert W.wkb_to_wkt(G.force_to_multilinestring(ls)) == \
        "MULTILINESTRING ((0 0, 1 1))"


def test_distance3d():
    import numpy as np

    from lib_gdal_spark.functions import constructive as C

    d = C.distance3d(W.wkt_to_wkb("POINT Z (0 0 0)"),
                     W.wkt_to_wkb("POINT Z (1 2 2)"))
    assert abs(d - 3.0) < 1e-12
    d = C.distance3d(W.wkt_to_wkb("LINESTRING Z (0 0 0, 2 2 0)"),
                     W.wkt_to_wkb("LINESTRING Z (0 2 1, 2 0 1)"))
    assert abs(d - 1.0) < 1e-12
    # non-3D input -> -1.0 (ogrgeometry.cpp:3328 Is3D guard)
    assert C.distance3d(W.wkt_to_wkb("POINT (0 0)"),
                        W.wkt_to_wkb("POINT Z (1 1 1)")) == -1.0
    # parallel overlapping segments
    d = C.distance3d(W.wkt_to_wkb("LINESTRING Z (0 0 0, 10 0 0)"),
                     W.wkt_to_wkb("LINESTRING Z (3 4 0, 8 4 0)"))
    assert abs(d - 4.0) < 1e-12


def test_style_string_parser(spark):
    """OGR feature-style strings (ogr_featurestyle.cpp semantics)."""
    from lib_gdal_spark.functions import style as ST

    got = ST.parse_style_string(
        'PEN(c:#FF0000,w:2px);BRUSH(fc:#0000FF,bc:#FFFFFF)')
    assert got[0]["tool"] == "PEN"
    assert got[0]["params"] == {"c": "#FF0000", "w": "2"}
    assert got[0]["units"] == {"w": "px"}
    assert got[1]["tool"] == "BRUSH"
    assert got[1]["params"]["fc"] == "#0000FF"
    # quoted values keep commas; LABEL text
    got = ST.parse_style_string('LABEL(f:"Arial, Bold",s:12pt,t:"Hi, there")')
    assert got[0]["params"]["f"] == "Arial, Bold"
    assert got[0]["params"]["t"] == "Hi, there"
    assert got[0]["units"]["s"] == "pt"
    assert ST.parse_style_string(None) == []
    try:
        ST.parse_style_string("WAT(c:1)")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
    # column form
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, "PEN(c:#00FF00,w:3px)"), (2, None)], "fid long, st string")
    rows = {r["fid"]: r["tools"] for r in df.select(
        "fid", ST.style_tools(F.col("st")).alias("tools")).collect()}
    assert rows[1][0]["tool"] == "PEN"
    assert rows[1][0]["params"]["w"] == "3"
    assert rows[2] is None


def test_measured_m_zm_roundtrip():
    """ISO M/ZM variants (ogr_core.h:456-478): WKT<->WKB round-trips are
    byte-exact, the dimension flag reads back, 2-D projection drops the
    measure, and measure_bounds exposes the M range."""
    from lib_gdal_spark.functions import geometry as G
    from lib_gdal_spark.functions import wkt as W

    cases = {
        "POINT M (1 2 5)": ("M", (5.0, 5.0)),
        "POINT ZM (1 2 3 4)": ("ZM", (4.0, 4.0)),
        "LINESTRING M (0 0 0, 1 0 10, 1 1 20)": ("M", (0.0, 20.0)),
        "LINESTRING ZM (0 0 1 0, 1 0 2 10)": ("ZM", (0.0, 10.0)),
        "POLYGON M ((0 0 1, 4 0 2, 4 4 3, 0 0 1))": ("M", (1.0, 3.0)),
        "MULTIPOINT M ((1 2 7), (3 4 9))": ("M", (7.0, 9.0)),
        "MULTILINESTRING ZM ((0 0 1 2, 1 1 3 4))": ("ZM", (2.0, 4.0)),
        "MULTIPOLYGON M (((0 0 1, 1 0 2, 1 1 3, 0 0 1)))": ("M", (1.0, 3.0)),
        "CIRCULARSTRING M (0 0 1, 1 1 2, 2 0 3)": ("M", (1.0, 3.0)),
        "GEOMETRYCOLLECTION M (POINT M (1 2 3), "
        "LINESTRING M (0 0 1, 1 1 2))": ("M", (1.0, 3.0)),
        "COMPOUNDCURVE M (CIRCULARSTRING M (0 0 1, 1 1 2, 2 0 3), "
        "(2 0 3, 3 0 4))": ("M", (1.0, 4.0)),
        "CURVEPOLYGON ZM (CIRCULARSTRING ZM (0 0 9 1, 2 0 9 2, 0 0 9 1))":
            ("ZM", (1.0, 2.0)),
        "TIN M (((0 0 1, 1 0 2, 0 1 3, 0 0 1)))": ("M", (1.0, 3.0)),
    }
    for wkt_in, (flag, mrange) in cases.items():
        wkb = W.wkt_to_wkb(wkt_in)
        assert G.wkb_dim_flag(wkb) == flag, wkt_in
        out = W.wkb_to_wkt(wkb)
        assert W.wkt_to_wkb(out) == wkb, (wkt_in, out)
        assert G.measure_bounds(wkb) == mrange, wkt_in
        base, payload = G.parse_wkb(wkb)  # planar projection still works
        if base == G.WKB_POINT:
            assert len(payload) == 2
    # unmeasured stays unmeasured
    assert G.measure_bounds(W.wkt_to_wkb("POINT Z (1 2 3)")) is None
    assert G.wkb_dim_flag(W.wkt_to_wkb("POINT Z (1 2 3)")) == "Z"
    # untagged collection of M members is promoted to an M collection
    wkb = W.wkt_to_wkb("GEOMETRYCOLLECTION (POINT M (1 2 3))")
    assert G.wkb_dim_flag(wkb) == "M"
    # measured envelope reads XY only
    assert G.envelope(W.wkt_to_wkb("LINESTRING M (0 0 5, 2 3 6)")) == \
        (0.0, 0.0, 2.0, 3.0)
