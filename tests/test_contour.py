"""Contour: distributed marching squares == single-array kernel; geometry
sanity on closed-form fixtures."""

from __future__ import annotations

import numpy as np
import pandas as pd

from lib_gdal_spark.kernels import contour as CK
from lib_gdal_spark.operators import contour as CO
from lib_gdal_spark.sources import rasters as RS


def _seg_set(segs, nd=9):
    """Order-insensitive canonical set of segments (endpoints sorted)."""
    out = set()
    for x1, y1, x2, y2 in np.round(np.asarray(segs), nd):
        p, q = (x1, y1), (x2, y2)
        out.add((p, q) if p <= q else (q, p))
    return out


def test_kernel_single_cell_cases():
    # one high corner -> one cutting segment
    v = np.array([[5.0, 0.0], [0.0, 0.0]])
    segs = CK.marching_squares(v, 2.5)
    assert len(segs) == 1
    # flat grid -> nothing
    assert len(CK.marching_squares(np.full((4, 4), 1.0), 2.0)) == 0
    # vertical gradient -> horizontal lines
    g = np.tile(np.arange(5, dtype=float)[:, None], (1, 5))
    segs = CK.marching_squares(g, 2.5)
    assert len(segs) == 4
    ys = np.unique(np.round(np.concatenate([segs[:, 1], segs[:, 3]]), 9))
    assert np.allclose(ys, 2.5)


def test_kernel_saddle_is_consistent():
    v = np.array([[1.0, 0.0], [0.0, 1.0]])  # case 10 saddle
    segs = CK.marching_squares(v, 0.6)
    assert len(segs) == 2


def test_distributed_matches_single_array(spark):
    arr, gt = RS.world4326(128)
    rows = RS.tiles_from_array("w", arr, gt, tile=32)
    tiles = spark.createDataFrame(pd.DataFrame(rows), schema=RS.RASTER_SCHEMA)
    levels = [100.0, 128.0, 150.0]
    got = CO.contour_segments(tiles, levels).collect()

    ref_sets = {}
    for lv in levels:
        segs = CK.marching_squares(arr.astype(np.float64), lv)
        # kernel coords are pixel-center indices; convert to world like the op
        w = np.column_stack([
            gt[0] + (segs[:, 0] + 0.5) * gt[1],
            gt[3] + (segs[:, 1] + 0.5) * gt[5],
            gt[0] + (segs[:, 2] + 0.5) * gt[1],
            gt[3] + (segs[:, 3] + 0.5) * gt[5],
        ])
        ref_sets[lv] = _seg_set(w)

    got_by_level = {}
    for r in got:
        got_by_level.setdefault(r["level"], []).append(
            (r["x1"], r["y1"], r["x2"], r["y2"])
        )
    for lv in levels:
        assert _seg_set(got_by_level[lv]) == ref_sets[lv]


def test_radial_contour_is_closed_ring(spark):
    # half-integer level: integer-quantized data never equals the level, so
    # crossings are strictly interior and the iso-line is a closed ring
    arr = RS.radial(64).astype(np.float64)
    segs = CK.marching_squares(arr, 128.5)
    assert len(segs) > 20
    # every endpoint appears exactly twice -> closed loop(s)
    pts: dict = {}
    for x1, y1, x2, y2 in np.round(segs, 9):
        for p in ((x1, y1), (x2, y2)):
            pts[p] = pts.get(p, 0) + 1
    assert all(v == 2 for v in pts.values())


def test_contour_polylines_circle(spark):
    """Radial field -> each level is ONE closed polyline with length ~ 2*pi*r."""
    import pandas as pd

    from lib_gdal_spark.operators.contour import contour_polylines
    from lib_gdal_spark.sources.rasters import RASTER_SCHEMA

    n, tile = 128, 32
    j, i = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    vals = np.hypot(i - 64.0, j - 64.0)
    rows = []
    for ty in range(0, n, tile):
        for tx in range(0, n, tile):
            p = vals[ty:ty + tile, tx:tx + tile]
            rows.append(dict(
                raster_id="r", band=1, zoom=0, tile_x=tx // tile,
                tile_y=ty // tile, dtype="float64", tile_w=tile, tile_h=tile,
                gt0=float(tx), gt1=1.0, gt2=0.0, gt3=float(ty), gt4=0.0,
                gt5=1.0, nodata=None, pixels=p.ravel().tolist(),
            ))
    tiles = spark.createDataFrame(pd.DataFrame(rows), schema=RASTER_SCHEMA)
    out = contour_polylines(tiles, [20.0, 40.0]).collect()
    by_level = {}
    for r in out:
        by_level.setdefault(r["level"], []).append(r)
    assert set(by_level) == {20.0, 40.0}
    for level, rows_ in by_level.items():
        assert len(rows_) == 1          # one connected ring per level
        r = rows_[0]
        assert r["closed"]
        assert abs(r["length"] - 2 * np.pi * level) / (2 * np.pi * level) < 0.01
        from lib_gdal_spark.functions import geometry as G
        gt, pts = G.parse_wkb(bytes(r["wkb"]))
        assert gt == G.WKB_LINESTRING and len(pts) == r["n_points"]


def test_suggested_warp_output(spark):
    from lib_gdal_spark.functions import crs as CRS
    from lib_gdal_spark.operators.raster import suggested_warp_output
    from lib_gdal_spark.sources.rasters import fixture_rasters
    from pyspark.sql import functions as F

    tm = CRS.utm_zone(31)
    tiles = fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    # restrict the forward transform to the zone band (clip src coords)
    def fwd(lon, lat):
        return tm.forward(np.clip(lon, -3.0, 9.0), np.clip(lat, -75.0, 80.0))
    dst_gt, w, h = suggested_warp_output(tiles, fwd)
    assert w > 0 and h > 0 and dst_gt[1] > 0 and dst_gt[5] < 0
    # footprint covers the central-meridian easting
    assert dst_gt[0] < 500_000.0 < dst_gt[0] + w * dst_gt[1]
    # pixel density comparable to the source (not degenerate)
    assert 64 <= w <= 4096 and 64 <= h <= 4096


class TestContourPolygons:
    def _tiles(self, spark, arr, tile=8):
        import pandas as pd
        h, w = arr.shape
        rows = []
        for ty in range(h // tile):
            for tx in range(w // tile):
                rows.append({
                    "tile_x": tx, "tile_y": ty, "tile_w": tile,
                    "tile_h": tile,
                    "pixels": arr[ty * tile:(ty + 1) * tile,
                                  tx * tile:(tx + 1) * tile]
                    .ravel().tolist(),
                })
        return spark.createDataFrame(
            pd.DataFrame(rows),
            schema="tile_x int, tile_y int, tile_w int, tile_h int, "
                   "pixels array<double>")

    def test_two_bumps_and_bounds(self, spark):
        from lib_gdal_spark.operators.contour import contour_polygons
        arr = np.zeros((16, 16))
        arr[2:5, 2:5] = 10.0    # bump A: 9 px over level 5
        arr[10:14, 9:14] = 10.0  # bump B: 20 px
        out = contour_polygons(self._tiles(spark, arr), spark, grid_w=16,
                               levels=[5.0], tile=8).collect()
        high = sorted([r for r in out if r.band == 1],
                      key=lambda r: r.n_pixels)
        low = [r for r in out if r.band == 0]
        assert [r.n_pixels for r in high] == [9, 20]
        assert all(r.elev_min == 5.0 and r.elev_max is None for r in high)
        # the background band is ONE component with TWO holes
        assert len(low) == 1
        assert low[0].n_rings == 3
        assert low[0].n_pixels == 256 - 29
        assert low[0].elev_min is None and low[0].elev_max == 5.0
        assert all(r.area_px == r.n_pixels for r in out)
