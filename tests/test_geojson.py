"""GeoJSON source/sink: RFC 7946 geometries through the WKB codec, both
FeatureCollection and newline-delimited layouts, round trips."""

import json
import os
import tempfile

from lib_gdal_spark.functions.wkt import wkb_to_wkt
from lib_gdal_spark.sources import geojson as GJ

_FEATURES = [
    {"type": "Feature", "id": 7,
     "geometry": {"type": "Point", "coordinates": [1.5, 2.5]},
     "properties": {"name": "a", "pop": 10}},
    {"type": "Feature",
     "geometry": {"type": "Polygon", "coordinates":
                  [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
                   [[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]]]},
     "properties": {"name": "b"}},
    {"type": "Feature", "id": 9, "geometry": None,
     "properties": {"name": "nullgeom"}},
    {"type": "Feature",
     "geometry": {"type": "GeometryCollection", "geometries": [
         {"type": "Point", "coordinates": [9, 9]},
         {"type": "LineString", "coordinates": [[0, 0], [1, 1]]}]},
     "properties": {}},
    {"type": "Feature",
     "geometry": {"type": "Point", "coordinates": [1, 2, 3]},
     "properties": {"z": True}},
]


def test_read_geojson_collection(spark):
    d = tempfile.mkdtemp()
    path = os.path.join(d, "layer.geojson")
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": _FEATURES}, f,
                  indent=2)
    df = GJ.read_geojson(spark, path)
    rows = {r["fid"]: r for r in df.collect()}
    assert len(rows) == 5
    assert wkb_to_wkt(bytes(rows[7]["geom_wkb"])) == "POINT (1.5 2.5)"
    assert rows[7]["properties"]["pop"] == "10"
    assert rows[9]["geom_wkb"] is None
    assert wkb_to_wkt(bytes(rows[1]["geom_wkb"])).startswith("POLYGON ((0 0")
    assert wkb_to_wkt(bytes(rows[4]["geom_wkb"])) == "POINT Z (1 2 3)"
    # area through the OGR-SQL special field machinery
    from lib_gdal_spark.plans.ogr_parser import execute_sql
    out = execute_sql({"lyr": df},
                      "SELECT FID, OGR_GEOM_AREA AS a FROM lyr "
                      "WHERE OGR_GEOM_AREA > 10").collect()
    assert [(r["FID"], r["a"]) for r in out] == [(1, 15.0)]


def test_geojson_seq_roundtrip(spark):
    d = tempfile.mkdtemp()
    src = os.path.join(d, "in.geojsonl")
    with open(src, "w") as f:
        for feat in _FEATURES:
            f.write(json.dumps(feat) + "\n")
    df = GJ.read_geojson_seq(spark, src)
    assert df.count() == 5
    out_dir = os.path.join(d, "out")
    GJ.write_geojson_seq(df, out_dir)
    back = GJ.read_geojson_seq(spark, out_dir)
    assert back.count() == 5
    a = {r["fid"]: (None if r["geom_wkb"] is None
                    else wkb_to_wkt(bytes(r["geom_wkb"])))
         for r in df.collect()}
    b = {r["fid"]: (None if r["geom_wkb"] is None
                    else wkb_to_wkt(bytes(r["geom_wkb"])))
         for r in back.collect()}
    assert a == b


def test_csv_wkt_source(spark):
    """CSV driver with a WKT geometry column (GEOM_POSSIBLE_NAMES path)."""
    import tempfile

    from lib_gdal_spark.sources.csvwkt import read_csv_wkt

    d = tempfile.mkdtemp()
    p = os.path.join(d, "layer.csv")
    with open(p, "w") as f:
        f.write('id,name,WKT\n')
        f.write('1,alpha,"POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"\n')
        f.write('2,beta,"POINT (5 6)"\n')
        f.write('3,gamma,\n')  # empty geometry cell -> NULL
    df = read_csv_wkt(spark, p, fid_col="id")
    rows = {r["fid"]: r for r in df.collect()}
    assert wkb_to_wkt(bytes(rows[1]["geom_wkb"])).startswith("POLYGON ((0 0")
    assert wkb_to_wkt(bytes(rows[2]["geom_wkb"])) == "POINT (5 6)"
    assert rows[3]["geom_wkb"] is None and rows[3]["name"] == "gamma"
    # straight into the SQL front-end
    from lib_gdal_spark.plans.ogr_parser import execute_sql
    out = execute_sql({"lyr": df},
                      "SELECT FID, OGR_GEOMETRY AS t FROM lyr "
                      "WHERE OGR_GEOM_AREA > 1 ORDER BY FID").collect()
    assert [(r["FID"], r["t"]) for r in out] == [(1, "POLYGON")]
