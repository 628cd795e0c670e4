"""Exercise the thin public convenience APIs that larger queries bypass:
file-path GPX/KML readers, the OGR two-valued comparators, the HSTORE
getter and merc_forward/inverse — so no public entry point ships
untested."""

import os
import tempfile

import numpy as np
from pyspark.sql import functions as F

from lib_gdal_spark.operators.raster import merc_forward, merc_inverse
from lib_gdal_spark.plans import ogr_sql as Q
from lib_gdal_spark.session import local_df
from lib_gdal_spark.sources.gpx import read_gpx
from lib_gdal_spark.sources.kml import read_kml

GPX = """<?xml version="1.0"?>
<gpx version="1.1" creator="t">
 <wpt lat="48.2" lon="16.4"><name>wien</name><ele>171</ele></wpt>
 <trk><name>tr</name><trkseg>
  <trkpt lat="48.0" lon="16.0"><ele>200</ele></trkpt>
  <trkpt lat="48.1" lon="16.1"><ele>210</ele></trkpt>
 </trkseg></trk>
</gpx>"""

KML = """<?xml version="1.0"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
 <Placemark><name>p1</name>
  <Point><coordinates>16.4,48.2,0</coordinates></Point></Placemark>
 <Placemark><name>l1</name>
  <LineString><coordinates>16,48,0 16.1,48.1,0</coordinates></LineString>
 </Placemark>
</Document></kml>"""


def test_read_gpx_from_path(spark):
    d = tempfile.mkdtemp(prefix="gpx_read_")
    with open(os.path.join(d, "a.gpx"), "w") as f:
        f.write(GPX)
    rows = read_gpx(spark, d + "/*.gpx").collect()
    assert len(rows) >= 3  # waypoint + 2 track points


def test_read_kml_from_path(spark):
    d = tempfile.mkdtemp(prefix="kml_read_")
    with open(os.path.join(d, "b.kml"), "w") as f:
        f.write(KML)
    rows = read_kml(spark, d + "/*.kml").collect()
    names = {r["name"] for r in rows}
    assert {"p1", "l1"} <= names


def test_ogr_two_valued_comparators(spark):
    df = local_df(spark, [(1, 5), (2, None), (3, 7)], "id long, x long")
    got = {r["id"]: (r["eq"], r["ne"], r["lt"], r["le"], r["ge"])
           for r in df.select(
               "id",
               Q.ogr_eq(F.col("x"), F.lit(5)).alias("eq"),
               Q.ogr_ne(F.col("x"), F.lit(5)).alias("ne"),
               Q.ogr_lt(F.col("x"), F.lit(6)).alias("lt"),
               Q.ogr_le(F.col("x"), F.lit(7)).alias("le"),
               Q.ogr_ge(F.col("x"), F.lit(7)).alias("ge"),
           ).collect()}
    assert got[1] == (True, False, True, True, False)
    # NULL collapses to FALSE on EVERY comparator (OGR two-valued logic)
    assert got[2] == (False, False, False, False, False)
    assert got[3] == (False, True, False, True, True)


def test_hstore_get_value(spark):
    df = local_df(spark, [(1, '"a"=>"x","b"=>"y"')], "id long, h string")
    r = df.select(
        Q.hstore_get_value(F.col("h"), "b").alias("v"),
        Q.hstore_get_value(F.col("h"), "zz").alias("missing"),
    ).first()
    assert r["v"] == "y"
    assert r["missing"] is None


def test_merc_roundtrip_and_clip():
    lon = np.array([0.0, 16.37, -122.42])
    lat = np.array([0.0, 48.21, 37.77])
    x, y = merc_forward(lon, lat)
    lon2, lat2 = merc_inverse(x, y)
    assert np.allclose(lon2, lon, atol=1e-9)
    assert np.allclose(lat2, lat, atol=1e-9)
    assert x[0] == 0.0 and y[0] == 0.0
    # poles clip to the web-mercator square instead of diverging
    _, ypole = merc_forward(np.array([0.0]), np.array([90.0]))
    assert np.isfinite(ypole[0])
