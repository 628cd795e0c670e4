"""k-nearest-neighbor joins.

Three functions, mirroring SURVEY.md §2.3 (reference analog: quadtree radius
growth, ``core/alg/gdalgrid.cpp:281-301,631``):

- ``knn_bruteforce``: exact broadcast nested-loop — the correct baseline when
  the query side is small (grid interpolation, oracle checks). The big side
  streams once; top-k per query via a window.
- ``knn_kring``: the scale path — candidate generation by k-ring expansion
  equi-join on cell keys, then exact Haversine ranking. With ring radius k,
  results are exact whenever the true k-th neighbor lies within
  ``k * cell_width`` of the query's cell boundary; callers size (res, k)
  from the data density (``cells.cell_radius_km``).
- ``knn_kring_exact``: ``knn_kring`` with the resolution sized from target
  density and rings escalated per query until a distance guard proves the
  result exact.

All three are Catalyst column expressions: no Python worker runs. Queries
are ``(qid, qlon, qlat)``, targets ``(tid, tlon, tlat)``; the output is
``(qid, tid, rank, dist_km)``, rank 1..k by (distance, tid). A point with a
NULL or non-finite coordinate is no query and no neighbour.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lib_gdal_spark.functions import cells as C

QID, QLON, QLAT = "qid", "qlon", "qlat"
TID, TLON, TLAT = "tid", "tlon", "tlat"
# distances are rounded to µm before ranking, so that 1-ulp libm
# differences across engines/platforms cannot flip ranks
ROUND_DECIMALS = 6
# the exact form escalates rings 1, 4, 16, 64, then falls back to brute force
MAX_RINGS = 64


def _haversine_col(lon1, lat1, lon2, lat2) -> F.Column:
    """Haversine distance (km) as a native Spark expression — stays inside
    whole-stage codegen; must match ``cells.haversine_km`` numerically.
    A NULL or non-finite input gives NULL out (``least`` skips NULLs and
    orders NaN last, so the inputs are tested)."""
    has = C.finite_expr(lon1, lat1, lon2, lat2)
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = rl2 - rl1
    dlon = F.radians(lon2) - F.radians(lon1)
    h = F.pow(F.sin(dlat / 2), 2) + F.cos(rl1) * F.cos(rl2) * F.pow(
        F.sin(dlon / 2), 2
    )
    return F.when(has, 2.0 * 6371.0088 * F.asin(F.sqrt(F.least(h, F.lit(1.0)))))


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    """Rank (query, target) candidates by (distance, tid) and keep 1..k."""
    d = _haversine_col(F.col(QLON), F.col(QLAT), F.col(TLON), F.col(TLAT))
    w = Window.partitionBy(QID).orderBy(F.col("dist_km").asc(), F.col(TID).asc())
    return (
        cand.withColumn("dist_km", F.round(d, ROUND_DECIMALS))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(QID, TID, "rank", "dist_km")
    )


def knn_bruteforce(queries: DataFrame, targets: DataFrame, k: int) -> DataFrame:
    """Exact kNN: broadcast the (small) query side, scan targets once."""
    return _top_k(
        targets.where(C.finite_expr(F.col(TLON), F.col(TLAT))).crossJoin(
            F.broadcast(queries.where(C.finite_expr(F.col(QLON), F.col(QLAT))))),
        k)


def _ring_cells(queries: DataFrame, res: int, rings: int) -> DataFrame:
    """One (qid, qlon, qlat, cell) row per cell within Chebyshev distance
    ``rings`` of each query's own cell, each cell once: ``cells.k_ring``
    without its -1 rows. x wraps at the antimeridian, and
    a ring at least as wide as the grid takes every column once; rows off
    the top or bottom of the grid are left out."""
    n = 1 << res
    cx, cy = C.tile_xy_expr(F.col(QLON), F.col(QLAT), res)
    # a NULL or non-finite query has NULL (cx, cy) and no ring
    q = queries.select(QID, QLON, QLAT, cx.alias("cx"), cy.alias("cy")) \
        .where(F.col("cy").isNotNull())
    if 2 * rings + 1 >= n:
        x0, x1 = F.lit(0).cast("long"), F.lit(n - 1).cast("long")
    else:
        x0, x1 = F.col("cx") - rings, F.col("cx") + rings
    y0 = F.greatest(F.col("cy") - rings, F.lit(0))
    y1 = F.least(F.col("cy") + rings, F.lit(n - 1))
    return q.select(
        QID, QLON, QLAT, "cy", F.explode(F.sequence(x0, x1)).alias("x"),
    ).select(
        QID, QLON, QLAT, F.pmod(F.col("x"), F.lit(n)).alias("x"),
        F.explode(F.sequence(y0, y1)).alias("y"),
    ).select(QID, QLON, QLAT,
             C.pack_cell_expr(res, F.col("x"), F.col("y")).alias("cell"))


def knn_kring(queries: DataFrame, targets: DataFrame, k: int, res: int = 6,
              rings: int = 1) -> DataFrame:
    """Approximate-exact kNN via k-ring expansion equi-join.

    Each query explodes to its ring cells (at most (2*rings+1)^2); targets
    carry their cell key; an equi-join on cell generates candidates; exact
    Haversine + window keeps top-k. Hot cells are handled by AQE skew-join
    splitting; queries are typically the small side and broadcast. Query
    ring and target key come from the same ``cells.tile_xy_expr``.
    """
    qcells = _ring_cells(queries, res, rings)
    tcells = targets.select(
        TID, TLON, TLAT,
        C.cell_expr(F.col(TLON), F.col(TLAT), res).alias("cell"),
    )
    return _top_k(tcells.join(F.broadcast(qcells), "cell", "inner"), k)


def _with_ring_guard_km(queries: DataFrame, res: int, rings: int) -> DataFrame:
    """``queries`` plus ``guard_km``: the EXACT distance from the query point
    to the boundary of the lon/lat box its ring covers. Meridian edges are
    geodesics; for parallel edges the same-longitude point minimizes
    haversine. The grid's top or bottom row, and a ring spanning every
    column, bound nothing (+inf when nothing does). Staged selects keep
    each edge latitude one expression in the plan."""
    n = 1 << res
    cx, cy = C.tile_xy_expr(F.col(QLON), F.col(QLAT), res)
    lon, lat = F.col(QLON), F.col(QLAT)

    def clip01(v):
        return F.least(F.greatest(v, F.lit(0.0)), F.lit(1.0))

    def edge_lat(y):
        return F.degrees(F.atan(F.sinh(F.lit(np.pi) * (1 - 2 * y))))

    q = queries.select("*", cx.alias("_cx"), cy.alias("_cy")).select(
        "*",
        clip01((F.col("_cy") - rings) / n).alias("_y0"),
        clip01((F.col("_cy") + rings + 1) / n).alias("_y1"),
    ).select(
        "*",
        edge_lat(F.col("_y0")).alias("_lat_top"),
        edge_lat(F.col("_y1")).alias("_lat_bot"),
    )
    top, bot = F.col("_lat_top"), F.col("_lat_bot")
    edges = [
        F.when(F.col("_y0") != 0.0, _haversine_col(lon, lat, lon, top)),
        F.when(F.col("_y1") != 1.0, _haversine_col(lon, lat, lon, bot)),
    ]
    if 2 * rings + 1 < n:  # meridian edges (clamped-latitude nearest point)
        cl = F.least(F.greatest(lat, bot), top)
        for x in (F.col("_cx") - rings, F.col("_cx") + rings + 1):
            edges.append(_haversine_col(lon, lat, x / n * 360.0 - 180.0, cl))
    return q.select(*queries.columns,
                    F.least(F.lit(float("inf")), *edges).alias("guard_km"))


def knn_kring_exact(queries: DataFrame, targets: DataFrame, k: int,
                    res: int | None = None) -> DataFrame:
    """kNN with AUTO-sized (res, rings) and a per-query exactness proof.

    Resolution: when None, sized from target density so the expected cell
    population is ~2k (the quadtree-growth heuristic of
    ``gdalgrid.cpp:281-301``). Rings escalate per query — after each pass
    a query's result is PROVABLY exact when it holds every finite target
    (fewer than k in the table), or k neighbours whose k-th distance is
    below the distance to the edge of its ring's box; unsettled queries
    re-run with four times the rings. The escalation set shrinks
    geometrically, and only the (small) query side iterates — the target
    table is re-joined only for unsettled queries.
    """
    stats = targets.where(C.finite_expr(F.col(TLON), F.col(TLAT))).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(TLON).alias("ln0"),
        F.max(TLON).alias("ln1"),
        F.min(TLAT).alias("lt0"),
        F.max(TLAT).alias("lt1"),
    ).first()
    n = int(stats["n"])
    if res is None:
        area_deg2 = ((stats["ln1"] - stats["ln0"]) * (stats["lt1"] - stats["lt0"])
                     if n else 0.0)
        # cell edge (deg) so that density * edge^2 ~ 2k
        edge_deg = float(np.sqrt(2.0 * k * max(area_deg2, 1e-9) / max(n, 1)))
        res = int(np.clip(np.floor(np.log2(360.0 / max(edge_deg, 1e-9))),
                          2, 20))

    remaining = queries.select(QID, QLON, QLAT).where(
        C.finite_expr(F.col(QLON), F.col(QLAT))).localCheckpoint()
    settled = []
    rings = 1
    while rings <= MAX_RINGS:
        got = knn_kring(remaining, targets, k, res=res,
                        rings=rings).localCheckpoint()
        per_q = got.groupBy(QID).agg(
            F.max("dist_km").alias("kth"),
            F.count(F.lit(1)).alias("got_n"),
        )
        qmeta = _with_ring_guard_km(remaining.join(per_q, QID, "left"),
                                    res, rings)
        # exact once it holds min(k, n) neighbours: all n targets, or k
        # whose k-th is nearer than any target outside the searched box
        ok = (F.coalesce(F.col("got_n"), F.lit(0)) == min(k, n)) & (
            F.lit(n <= k) | (F.col("kth") < F.col("guard_km")))
        settled.append(
            got.join(qmeta.where(ok).select(QID), QID, "leftsemi")
        )
        remaining = qmeta.where(~F.coalesce(ok, F.lit(False))).select(
            QID, QLON, QLAT
        ).localCheckpoint()
        if remaining.isEmpty():
            break
        rings *= 4
    else:
        # fall back to exact brute force for anything still unsettled
        settled.append(knn_bruteforce(remaining, targets, k))
    out = settled[0]
    for s in settled[1:]:
        out = out.unionByName(s)
    return out


def s2_ring_pairs(
    points: DataFrame,
    max_km: float,
    level: int,
    id_col: str = "pid",
    lon_col: str = "lon",
    lat_col: str = "lat",
    round_decimals: int = 6,
    max_cell_freq: int | None = None,
    with_overflow: bool = False,
):
    """All point pairs within ``max_km`` via the S2 cell grid: the probe
    side emits its own cell + 8 ring-1 neighbors (cross-face wrap included,
    functions/s2cells.s2_neighbor_ids), the build side emits one cell key,
    and one equi-join + exact haversine re-check finds every pair — the
    "S2 cell-covering expansion" join of the north rule.

    Coverage requires ``max_km`` <= the smallest cell width at ``level``
    (two points closer than one cell width sit in the same or an adjacent
    cell); the driver oracle proves completeness against a brute-force
    cross join. Scale: shuffles only (cell, id, lon, lat) keys — 9x the
    probe side, never a cross product.

    **Hot-cell cap** (the simhash_pairs frequency-cap pattern): output is
    inherently quadratic inside a dense cell, so on city-clustered web
    points one hot cell can emit freq² candidates. ``max_cell_freq``
    drops BUILD-side cell keys holding more than that many points from
    candidate generation; because the join is symmetric (each pair is
    also found through its other endpoint's own cell), a pair is lost
    ONLY when **both** endpoints sit in over-cap cells. Pass
    ``with_overflow=True`` to get ``(pairs, overflow)`` where ``overflow``
    is the loud report — one row per capped cell ``(cell, n_points)``;
    with the default ``max_cell_freq=None`` nothing is capped and
    ``overflow`` is empty. Raising ``level`` (smaller cells) is the
    remedy the report points to.
    """
    from lib_gdal_spark.functions import s2cells as S2

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b[id_col].to_numpy(np.int64)
            lon = b[lon_col].to_numpy(np.float64)
            lat = b[lat_col].to_numpy(np.float64)
            nbr = S2.s2_neighbor_ids(lon, lat, level)  # (n, 9)
            k = nbr.shape[1]
            yield pd.DataFrame({
                id_col: np.repeat(ids, k),
                lon_col: np.repeat(lon, k),
                lat_col: np.repeat(lat, k),
                "cell": nbr.ravel(),
            }).drop_duplicates([id_col, "cell"])

    a = points.select(id_col, lon_col, lat_col).mapInPandas(
        probe, schema=f"{id_col} long, {lon_col} double, "
                      f"{lat_col} double, cell long")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = b.copy()
            out["cell"] = S2.s2_cell_id(
                b[lon_col].to_numpy(np.float64),
                b[lat_col].to_numpy(np.float64), level)
            yield out

    bb = points.select(id_col, lon_col, lat_col).mapInPandas(
        build, schema=f"{id_col} long, {lon_col} double, "
                      f"{lat_col} double, cell long")
    overflow = None
    if max_cell_freq is not None:
        # keys-only frequency count; hot cells are few by construction
        # (they are the over-cap ones), so the anti-join broadcasts
        freq = bb.groupBy("cell").agg(F.count(F.lit(1)).alias("n_points"))
        overflow = freq.where(F.col("n_points") > max_cell_freq)
        bb = bb.join(F.broadcast(overflow.select("cell")),
                     "cell", "left_anti")
    b2 = bb.select(
        F.col("cell"), F.col(id_col).alias("id_b"),
        F.col(lon_col).alias("__blon"), F.col(lat_col).alias("__blat"))
    dist = _haversine_col(F.col(lon_col), F.col(lat_col),
                          F.col("__blon"), F.col("__blat"))
    if max_cell_freq is None:
        # uncapped: both directions of every pair survive, so the cheap
        # one-sided `<` filter halves candidates before the re-check
        j = a.join(b2, "cell").where(F.col(id_col) < F.col("id_b"))
        pairs = j.select(F.col(id_col).alias("id_a"), "id_b",
                         F.round(dist, round_decimals).alias("dist_km"))
    else:
        # capped: a pair whose lower-id endpoint sits in a hot cell is
        # only reachable through its other direction — keep both and
        # normalize the id order instead
        j = a.join(b2, "cell").where(F.col(id_col) != F.col("id_b"))
        pairs = j.select(
            F.least(id_col, "id_b").alias("id_a"),
            F.greatest(F.col(id_col), F.col("id_b")).alias("id_b"),
            F.round(dist, round_decimals).alias("dist_km"))
    pairs = pairs.where(F.col("dist_km") <= max_km).distinct()
    if not with_overflow:
        return pairs
    if overflow is None:
        spark = points.sparkSession
        overflow = spark.createDataFrame([], "cell long, n_points long")
    return pairs, overflow


HEX_RING1 = [(0, 0), (1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)]


def hex_ring_pairs(
    points: DataFrame,
    max_dist: float,
    size: float,
    id_col: str = "pid",
    lon_col: str = "lon",
    lat_col: str = "lat",
    round_decimals: int = 9,
    max_cell_freq: int | None = None,
    with_overflow: bool = False,
):
    """All point pairs within planar distance ``max_dist`` via the axial
    hex grid — the hex k-ring expansion join (the "H3 k-ring" shape of
    the north rule, on the repo's cube-rounded lattice): the probe side
    emits its home cell plus the 6 ring-1 neighbors, the build side one
    key, and one equi-join + exact distance re-check finds every pair.

    Completeness: each point lies within one circumradius ``size`` of
    its cell center (cube-rounding containment), ring-2 cell centers are
    >= 3*size apart, so ``max_dist < size`` guarantees every qualifying
    pair's cells are within hex distance 1 — proven against a
    brute-force oracle in the driver query. Because hex distance between
    the two home cells is <= 1, exactly ONE probe delta matches per
    pair: no duplicate candidates, no DISTINCT needed.

    Scale: shuffles only (cell, id, lon, lat) keys — 7x the probe side
    (vs 9x for the square/S2 ring), never a cross product.

    **Hot-cell cap** (mirrors ``s2_ring_pairs``): output is inherently
    quadratic inside a dense cell. ``max_cell_freq`` drops BUILD-side
    cell keys holding more than that many points; the join is symmetric,
    so a pair is lost ONLY when both endpoints sit in over-cap cells.
    ``with_overflow=True`` returns ``(pairs, overflow)`` with one loud
    row per capped cell ``(hq, hr, n_points)``; the remedy it points to
    is a smaller ``size`` (finer cells) — or, for the DBSCAN consumers,
    ``cluster.dbscan``'s dense-cell shortcut, which is exact."""
    if not max_dist < size:
        raise ValueError("hex_ring_pairs requires max_dist < size "
                         "(ring-1 completeness bound)")
    from lib_gdal_spark.functions import cells as C

    h = C.hex_axial_expr(F.col(lon_col), F.col(lat_col), size)
    pts = points.select(
        F.col(id_col), F.col(lon_col), F.col(lat_col),
        h["q"].alias("hq"), h["r"].alias("hr"))
    deltas = F.array(*[
        F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
        for dq, dr in HEX_RING1])
    probe = pts.select(
        F.col(id_col).alias("pid_a"), F.col(lon_col).alias("lon_a"),
        F.col(lat_col).alias("lat_a"),
        F.explode(deltas).alias("d"),
        F.col("hq"), F.col("hr"),
    ).select(
        "pid_a", "lon_a", "lat_a",
        (F.col("hq") + F.col("d.dq")).alias("jq"),
        (F.col("hr") + F.col("d.dr")).alias("jr"))
    build = pts.select(
        F.col(id_col).alias("pid_b"), F.col(lon_col).alias("lon_b"),
        F.col(lat_col).alias("lat_b"),
        F.col("hq").alias("jq"), F.col("hr").alias("jr"))
    overflow = None
    if max_cell_freq is not None:
        # keys-only frequency count; over-cap cells are few by
        # construction, so the anti-join broadcasts
        freq = build.groupBy("jq", "jr").agg(
            F.count(F.lit(1)).alias("n_points"))
        overflow = freq.where(F.col("n_points") > max_cell_freq).select(
            F.col("jq").alias("hq"), F.col("jr").alias("hr"), "n_points")
        build = build.join(
            F.broadcast(overflow.select(F.col("hq").alias("jq"),
                                        F.col("hr").alias("jr"))),
            ["jq", "jr"], "left_anti")
    dx = F.col("lon_a") - F.col("lon_b")
    dy = F.col("lat_a") - F.col("lat_b")
    dist = F.sqrt(dx * dx + dy * dy)
    j = probe.join(build, ["jq", "jr"])
    if max_cell_freq is None:
        # uncapped: exactly ONE probe delta matches per pair (home cells
        # are within hex distance 1), so `<` keeps each pair once
        pairs = (j.filter(F.col("pid_a") < F.col("pid_b"))
                 .filter(dist <= max_dist)
                 .select("pid_a", "pid_b",
                         F.round(dist, round_decimals).alias("dist")))
    else:
        # capped: a pair whose lower-id endpoint sits in a hot cell is
        # only reachable through its other direction — keep both sides
        # and normalize the id order instead
        pairs = (j.filter(F.col("pid_a") != F.col("pid_b"))
                 .filter(dist <= max_dist)
                 .select(F.least("pid_a", "pid_b").alias("pid_a"),
                         F.greatest(F.col("pid_a"),
                                    F.col("pid_b")).alias("pid_b"),
                         F.round(dist, round_decimals).alias("dist"))
                 .distinct())
    if not with_overflow:
        return pairs
    if overflow is None:
        overflow = points.sparkSession.createDataFrame(
            [], "hq long, hr long, n_points long")
    return pairs, overflow
