"""Line / point burn + ALL_TOUCHED rasterize vs single-process references."""

import numpy as np

from lib_gdal_spark.functions import geometry as G
from lib_gdal_spark.kernels import scanline as S
from lib_gdal_spark.operators import rasterize as RZ
from lib_gdal_spark.operators.rasterize import GridSpec


def _grid():
    return GridSpec((0.0, 1.0, 0.0, 64.0, 0.0, -1.0), 64, 64, tile=16)


def _assemble(rows, g, background=0.0):
    full = np.full((g.height, g.width), background)
    for r in rows:
        a = np.asarray(r["pixels"]).reshape(r["tile_h"], r["tile_w"])
        y0, x0 = r["tile_y"] * g.tile, r["tile_x"] * g.tile
        sub = full[y0:y0 + r["tile_h"], x0:x0 + r["tile_w"]]
        full[y0:y0 + r["tile_h"], x0:x0 + r["tile_w"]] = np.where(
            a != background, a, sub
        )
    return full


def test_rasterize_lines_matches_kernel(spark):
    g = _grid()
    pts = np.array([[3.2, 60.4], [45.7, 50.1], [50.3, 10.8]])
    lines = spark.createDataFrame(
        [(1, bytearray(G.wkb_linestring(pts)), 7.0)],
        "fid long, geom_wkb binary, burn double",
    ).coalesce(1)
    for at in (False, True):
        out = RZ.rasterize_lines(lines, g, all_touched=at).collect()
        full = _assemble(out, g)
        ref = np.zeros((64, 64))
        px, py = g.world_to_px(pts[:, 0], pts[:, 1])
        for i in range(len(px) - 1):
            cells = S.line_cells(px[i], py[i], px[i + 1], py[i + 1],
                                 all_touched=at)
            ok = ((cells[:, 0] >= 0) & (cells[:, 0] < 64)
                  & (cells[:, 1] >= 0) & (cells[:, 1] < 64))
            c = cells[ok]
            ref[c[:, 1], c[:, 0]] = 7.0
        assert np.array_equal(full, ref), f"all_touched={at}"
        assert (full == 7.0).sum() > 40
        if at:
            n_at = (full == 7.0).sum()
    # all_touched burns at least as many cells as bresenham
    nb = (_assemble(RZ.rasterize_lines(lines, g).collect(), g) == 7.0).sum()
    assert n_at >= nb


def test_rasterize_points(spark):
    g = _grid()
    rows = [(i, 3.0 + i * 2.7, 60.0 - i * 2.3, float(i + 1))
            for i in range(20)]
    pts = spark.createDataFrame(rows, "fid long, x double, y double, burn double")
    out = RZ.rasterize_points(pts, g, point_cols=("fid", "x", "y")).collect()
    full = _assemble(out, g)
    for i, x, y, b in rows:
        px = int(np.floor((x - 0.0) / 1.0))
        py = int(np.floor((y - 64.0) / -1.0))
        if 0 <= px < 64 and 0 <= py < 64:
            assert full[py, px] == b, (i, px, py)
    assert (full != 0).sum() == 20


def test_rasterize_polygon_all_touched_superset(spark):
    g = _grid()
    tri = np.array([[5.3, 58.2], [40.9, 55.5], [20.1, 20.7], [5.3, 58.2]])
    polys = spark.createDataFrame(
        [(1, bytearray(G.wkb_polygon([tri])), 3.0)],
        "fid long, geom_wkb binary, burn double",
    ).coalesce(1)
    plain = _assemble(RZ.rasterize_polygons(polys, g).collect(), g)
    at = _assemble(
        RZ.rasterize_polygons(polys, g, all_touched=True).collect(), g
    )
    # all-touched is a strict superset including every boundary-crossed cell
    assert ((plain == 3.0) & (at != 3.0)).sum() == 0
    assert (at == 3.0).sum() > (plain == 3.0).sum()
    # reference all-touched mask over the full grid
    px, py = g.world_to_px(tri[:, 0], tri[:, 1])
    ref = S.fill_polygon_mask_all_touched(
        64, 64, [np.column_stack([px, py])]
    )
    assert np.array_equal(at == 3.0, ref)
