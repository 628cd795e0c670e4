"""Spatial predicates, tile index, cutline warp, LIKE ESCAPE."""

import numpy as np
from pyspark.sql import functions as F

from lib_gdal_spark.functions import crs as CRS
from lib_gdal_spark.functions import predicates as P
from lib_gdal_spark.operators import raster as RAST
from lib_gdal_spark.operators import translate as T
from lib_gdal_spark.plans import ogr_sql as O
from lib_gdal_spark.sources.rasters import BYTE20_GT, fixture_rasters


def box(x0, y0, x1, y1):
    return [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
                     float)]


def test_predicates_matrix():
    a = box(0, 0, 4, 4)
    assert P.intersects(a, box(2, 2, 6, 6))
    assert P.overlaps(a, box(2, 2, 6, 6))
    assert not P.contains(a, box(2, 2, 6, 6))
    assert P.disjoint(a, box(10, 10, 12, 12))
    assert P.contains(a, box(1, 1, 3, 3))
    assert P.within(box(1, 1, 3, 3), a)
    assert not P.overlaps(a, box(1, 1, 3, 3))  # containment != overlap
    assert P.equals(a, box(0, 0, 4, 4))
    # shared-edge neighbors: touch, not overlap
    assert P.touches(a, box(4, 0, 8, 4))
    assert P.intersects(a, box(4, 0, 8, 4))
    assert not P.overlaps(a, box(4, 0, 8, 4))
    # corner touch
    assert P.touches(a, box(4, 4, 6, 6))
    assert not P.crosses(a, box(2, 2, 6, 6))  # area/area never crosses
    # holed container: geometry inside the hole is NOT contained
    holed = [box(0, 0, 10, 10)[0], box(3, 3, 7, 7)[0]]
    assert not P.contains(holed, box(4, 4, 6, 6))
    assert P.contains(holed, box(1, 1, 2, 2))


def test_tile_index(spark):
    tiles = fixture_rasters(spark)
    rows = {r["raster_id"]: r for r in T.tile_index(tiles).collect()}
    b = rows["byte20"]
    # 20x20 px at BYTE20_GT: x 440720..440720+20*60, y 3751320-20*60..3751320
    assert b["minx"] == BYTE20_GT[0]
    assert b["maxx"] == BYTE20_GT[0] + 20 * 60.0
    assert b["maxy"] == BYTE20_GT[3]
    assert b["miny"] == BYTE20_GT[3] - 20 * 60.0
    g = rows["gradient256"]
    assert (g["minx"], g["maxx"]) == (0.0, 256.0)
    assert len(bytes(b["geom_wkb"])) > 0


def test_warp_cutline(spark):
    tm = CRS.utm_zone(31)
    tiles = fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    dst_gt = (150_000.0, 5500.0, 0.0, 5_350_000.0, 0.0, -8500.0)
    # cutline: a box covering roughly the middle of the dst grid, in UTM m
    cut = box(300_000.0, 4_800_000.0, 600_000.0, 5_100_000.0)
    out = RAST.warp_to_crs_tiles_dist(
        tiles, dst_gt, 128, 128, tm.inverse, alg="nearest", tile=64,
        cutline=cut,
    ).collect()
    full = np.full((128, 128), np.nan)
    for r in out:
        a = np.asarray([np.nan if v is None else v for v in r["pixels"]]
                       ).reshape(r["tile_h"], r["tile_w"])
        full[r["tile_y"] * 64:r["tile_y"] * 64 + r["tile_h"],
             r["tile_x"] * 64:r["tile_x"] * 64 + r["tile_w"]] = a
    jj, ii = np.meshgrid(np.arange(128), np.arange(128), indexing="ij")
    cx = dst_gt[0] + (ii + 0.5) * dst_gt[1]
    cy = dst_gt[3] + (jj + 0.5) * dst_gt[5]
    inside = ((cx > 300_000) & (cx < 600_000)
              & (cy > 4_800_000) & (cy < 5_100_000))
    assert np.isnan(full[~inside]).all()
    assert np.isfinite(full[inside]).all()


def test_like_escape(spark):
    df = spark.createDataFrame(
        [(1, "50% OFF"), (2, "500 items"), (3, "half off")],
        "id long, s string",
    )
    # ESCAPE: literal percent sign (case-insensitive per OGR)
    out = df.where(O.ogr_like(F.col("s"), r"%50!%%", escape="!")).collect()
    assert [r["id"] for r in out] == [1]
    out2 = df.where(O.ogr_like(F.col("s"), "%OFF")).collect()
    assert sorted(r["id"] for r in out2) == [1, 3]
