"""Point-in-polygon spatial join: the engine's flagship operator.

Plan shape (SURVEY.md §7 step 3 — the Spark-first re-expression of the
reference's spatial filter + layer-algebra nested loop,
``drivers/ogrlayer.cpp:1357-1462,2062-2245``):

1. **Cell cover**, built once on the driver. The polygon layer is a small
   dimension: it is collected, each WKB is parsed once, and the cells of
   every envelope come from one vectorised ``lonlat_to_tile`` call. The
   (fid, cell, envelope, edges) rows become a local DataFrame that is
   **broadcast**, so the big side never shuffles.
2. **Equi-join** points.cell == cover.cell (Catalyst broadcast hash join; no
   shuffle of the page table).
3. **Envelope pre-test** as a native column predicate — the cheap bbox
   shortcut of ``drivers/ogrlayer.cpp:1377-1384`` — prunes most candidates
   before the edge scan (both run in the join condition).
4. **Exact even-odd ray cast** as a higher-order ``filter`` over the
   polygon's non-horizontal edges: a point is inside when an odd number of
   edges cross the ray to its right. The op sequence is the one of
   ``geometry.points_in_rings`` (no transcendentals), so hit sets are
   bit-equal to the NumPy reference.

At 100 TB this plan reads the page table exactly once, shuffles nothing on
the big side, and runs no Python per point.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lib_gdal_spark.functions import cells as C
from lib_gdal_spark.functions import geometry as G

# Envelopes are widened by this many degrees before their cells are taken.
# A point key from ``cells.cell_expr`` (JVM libm) may differ from the NumPy
# key by one cell only when the point lies within a few ulps of a cell edge,
# far inside this epsilon, so the widened cover still holds its key.
COVER_EPS = 1e-9


def _ring_edges(rings: list[G.Ring]) -> np.ndarray:
    """The (x1, y1, x2, y2) edges of ``rings`` that can cross a horizontal
    ray, with the closing rule of :func:`geometry.points_in_rings` (an
    unclosed ring gets its last-to-first edge). Horizontal edges never
    cross, so they are dropped."""
    out = [np.empty((0, 4))]
    for ring in rings:
        if not len(ring):
            continue
        if np.array_equal(ring[0], ring[-1]):
            e = np.hstack([ring[:-1], ring[1:]])
        else:
            e = np.hstack([ring, np.roll(ring, -1, axis=0)])
        out.append(e[e[:, 1] != e[:, 3]])
    return np.vstack(out)


def polygon_cover(polygons: DataFrame, res: int) -> DataFrame:
    """Explode each polygon into its envelope's covering cells at ``res``.

    Input: (fid long, geom_wkb binary [, ...]), small enough to collect.
    Output one row per (fid, cell) with the envelope (minx, miny, maxx,
    maxy) for the bbox pre-test and the polygon's ``edges``
    (array<struct<x1,y1,x2,y2>>) for the exact test. A polygon without an
    edge that can cross a ray (empty, or flat) contains no point and gets
    no rows; a geometry that is not a Polygon or MultiPolygon, or has a
    non-finite coordinate, raises ``ValueError`` naming its fid.
    """
    fids, boxes, edges = [], [], []
    for fid, wkb in polygons.select("fid", "geom_wkb").collect():
        try:
            rings = G.polygon_rings(bytes(wkb))
        except ValueError as e:
            raise ValueError(f"polygon fid {fid}: {e}") from None
        xy = np.vstack([np.empty((0, 2)), *rings])
        if not np.isfinite(xy).all():
            raise ValueError(f"polygon fid {fid}: non-finite coordinate")
        e = _ring_edges(rings)
        if len(e):
            fids.append(fid)
            boxes.append(np.concatenate([xy.min(axis=0), xy.max(axis=0)]))
            edges.append(e)
    n = len(fids)
    minx, miny, maxx, maxy = np.reshape(boxes, (n, 4)).T
    x, y = C.lonlat_to_tile(np.concatenate([minx - COVER_EPS, maxx + COVER_EPS]),
                            np.concatenate([maxy + COVER_EPS, miny - COVER_EPS]),
                            res)
    w = x[n:] - x[:n] + 1
    k = w * (y[n:] - y[:n] + 1)
    # cover row -> its polygon and its index j in that polygon's w-wide block
    row = np.repeat(np.arange(n), k)
    j = np.arange(k.sum()) - np.repeat(np.cumsum(k) - k, k)
    cell = C.pack_cell(res, x[row] + j % w[row], y[row] + j // w[row])

    flat = np.vstack([np.empty((0, 4)), *edges])
    poly_edges = pa.ListArray.from_arrays(
        pa.array(np.cumsum([0] + [len(e) for e in edges], dtype=np.int32)),
        pa.StructArray.from_arrays(list(flat.T), names=["x1", "y1", "x2", "y2"]))
    table = pa.table({
        "fid": pa.array(np.asarray(fids, dtype=np.int64)[row]),
        "cell": pa.array(cell),
        "minx": minx[row], "miny": miny[row], "maxx": maxx[row], "maxy": maxy[row],
        "edges": poly_edges.take(pa.array(row)),
    })
    return polygons.sparkSession.createDataFrame(table)


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 7,
    points_res: int = 12,
    point_cols: tuple[str, str, str] = ("url", "lon", "lat"),
    cell_col: str = "cell",
) -> DataFrame:
    """Join points to containing polygons -> (point key, fid).

    ``points`` must carry (key, lon, lat, cell@points_res) with
    ``points_res >= res`` — coarser cover cells are derived via the quadtree
    parent bit-shift, entirely in native Spark expressions. ``polygons`` is
    (fid, geom_wkb, ...), small enough to collect; its cover is built when
    this is called.
    """
    if points_res < res:
        raise ValueError("points_res must be >= cover res")
    key, lon, lat = point_cols
    cover = F.broadcast(polygon_cover(polygons, res))
    pts = points.where(F.col(cell_col).isNotNull()).withColumn(
        "__cover_cell", C.cell_parent_expr(F.col(cell_col), points_res - res))
    px, py = F.col(lon), F.col(lat)
    # The crossing rule of geometry.points_in_rings, op for op.
    crossings = F.filter("edges", lambda e: (
        ((e.y1 > py) != (e.y2 > py))
        & (px < e.x1 + (py - e.y1) / (e.y2 - e.y1) * (e.x2 - e.x1))))
    return (
        pts.join(cover, pts["__cover_cell"] == cover["cell"], "inner")
        # Envelope pre-test first: it prunes before the edge scan.
        .where((px >= F.col("minx")) & (px <= F.col("maxx"))
               & (py >= F.col("miny")) & (py <= F.col("maxy")))
        .where(F.size(crossings) % 2 == 1)
        .select(key, "fid")
    )
