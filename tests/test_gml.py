"""GML codec (gml2ogrgeometry.cpp / ogr2gmlgeometry.cpp parity)."""

from lib_gdal_spark.functions import geometry as G
from lib_gdal_spark.functions.wkt import wkb_to_wkt, wkt_to_wkb
from lib_gdal_spark.sources.gml import (
    gml_to_wkb, gml_to_wkb_col, wkb_to_gml, wkb_to_gml_col,
)


def test_gml2_point_and_linestring():
    assert wkb_to_wkt(gml_to_wkb(
        "<gml:Point xmlns:gml='http://www.opengis.net/gml'>"
        "<gml:coordinates>2.5,49</gml:coordinates></gml:Point>"
    )) == "POINT (2.5 49)"
    assert wkb_to_wkt(gml_to_wkb(
        "<LineString><coordinates>0,0 1,1 2,0</coordinates></LineString>"
    )) == "LINESTRING (0 0, 1 1, 2 0)"


def test_gml3_pos_poslist_and_z():
    assert wkb_to_wkt(gml_to_wkb(
        "<gml:Point><gml:pos>2.5 49 10</gml:pos></gml:Point>"
    )) == "POINT Z (2.5 49 10)"
    assert wkb_to_wkt(gml_to_wkb(
        "<LineString><posList srsDimension='3'>0 0 1 1 1 2</posList>"
        "</LineString>"
    )) == "LINESTRING Z (0 0 1, 1 1 2)"


def test_gml2_polygon_with_hole():
    wkb = gml_to_wkb(
        "<Polygon><outerBoundaryIs><LinearRing>"
        "<coordinates>0,0 10,0 10,10 0,10 0,0</coordinates>"
        "</LinearRing></outerBoundaryIs><innerBoundaryIs><LinearRing>"
        "<coordinates>2,2 4,2 4,4 2,4 2,2</coordinates>"
        "</LinearRing></innerBoundaryIs></Polygon>"
    )
    base, ndim, rings = G.parse_wkb_full(wkb)
    assert base == G.WKB_POLYGON and len(rings) == 2
    assert rings[1].shape == (5, 2)


def test_gml3_polygon_exterior():
    wkb = gml_to_wkb(
        "<Polygon><exterior><LinearRing>"
        "<posList>0 0 4 0 4 4 0 0</posList>"
        "</LinearRing></exterior></Polygon>"
    )
    assert wkb_to_wkt(wkb) == "POLYGON ((0 0, 4 0, 4 4, 0 0))"


def test_gml_multis_and_collection():
    assert wkb_to_wkt(gml_to_wkb(
        "<MultiPoint><pointMember><Point><coordinates>1,2</coordinates>"
        "</Point></pointMember><pointMember><Point>"
        "<coordinates>3,4</coordinates></Point></pointMember></MultiPoint>"
    )) == "MULTIPOINT ((1 2), (3 4))"
    assert wkb_to_wkt(gml_to_wkb(
        "<MultiSurface><surfaceMember><Polygon><exterior><LinearRing>"
        "<posList>0 0 1 0 1 1 0 0</posList></LinearRing></exterior>"
        "</Polygon></surfaceMember></MultiSurface>"
    )) == "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))"
    wkb = gml_to_wkb(
        "<MultiGeometry><geometryMember><Point><pos>1 1</pos></Point>"
        "</geometryMember><geometryMember><LineString>"
        "<posList>0 0 1 0</posList></LineString></geometryMember>"
        "</MultiGeometry>"
    )
    assert wkb_to_wkt(wkb) == (
        "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 0))"
    )


def test_custom_separators():
    # the reference honors cs/ts/decimal attributes on <coordinates>
    assert wkb_to_wkt(gml_to_wkb(
        "<Point><coordinates cs=';' ts='|' decimal=','>"
        "2,5;49,25</coordinates></Point>"
    )) == "POINT (2.5 49.25)"


def test_roundtrip_both_versions():
    wkts = [
        "POINT (2.5 49)",
        "POINT Z (1 2 3)",
        "LINESTRING (0 0, 1 1, 2 0)",
        "POLYGON ((0 0, 10 0, 10 10, 0 0), (2 2, 4 2, 4 4, 2 2))",
        "MULTIPOINT ((1 2), (3 4))",
        "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))",
        "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 0))",
    ]
    for wkt in wkts:
        wkb = wkt_to_wkb(wkt)
        for version in (2, 3):
            back = gml_to_wkb(wkb_to_gml(wkb, version))
            assert wkb_to_wkt(back) == wkt, (wkt, version)


def test_gml_columns_distributed(spark):
    from lib_gdal_spark.session import local_df

    rows = [(i, f"<Point><pos>{i} {i * 2}</pos></Point>") for i in range(50)]
    df = local_df(spark, rows, "fid long, gml string")
    out = df.select(
        "fid",
        wkb_to_gml_col(gml_to_wkb_col(df["gml"]), version=2).alias("gml2"),
    ).collect()
    for r in out:
        assert r["gml2"] == (
            f"<gml:Point><gml:coordinates>{r['fid']},{r['fid'] * 2}"
            f"</gml:coordinates></gml:Point>"
        )
