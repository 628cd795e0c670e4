"""k-nearest-neighbor joins.

Two strategies, mirroring SURVEY.md §2.3 (reference analog: quadtree radius
growth, ``core/alg/gdalgrid.cpp:281-301,631``):

- ``knn_bruteforce``: exact broadcast nested-loop — the correct baseline when
  the query side is small (grid interpolation, oracle checks). The big side
  streams once; top-k per query via a window.
- ``knn_kring``: the scale path — candidate generation by k-ring expansion
  equi-join on cell keys, then exact Haversine ranking. With ring radius k,
  results are exact whenever the true k-th neighbor lies within
  ``k * cell_width`` of the query's cell boundary; callers size (res, k)
  from the data density (``cells.cell_radius_km``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lib_gdal_spark.functions import cells as C


def _haversine_col(lon1, lat1, lon2, lat2) -> F.Column:
    """Haversine distance (km) as a native Spark expression — stays inside
    whole-stage codegen; must match ``cells.haversine_km`` numerically.
    NULL in gives NULL out (``least`` skips NULLs, so guard it all)."""
    has = lon1.isNotNull() & lat1.isNotNull() & lon2.isNotNull() & lat2.isNotNull()
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = rl2 - rl1
    dlon = F.radians(lon2) - F.radians(lon1)
    h = F.pow(F.sin(dlat / 2), 2) + F.cos(rl1) * F.cos(rl2) * F.pow(
        F.sin(dlon / 2), 2
    )
    return F.when(has, 2.0 * 6371.0088 * F.asin(F.sqrt(F.least(h, F.lit(1.0)))))


def knn_bruteforce(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    query_cols: tuple[str, str, str] = ("qid", "qlon", "qlat"),
    target_cols: tuple[str, str, str] = ("tid", "tlon", "tlat"),
    round_decimals: int = 6,
) -> DataFrame:
    """Exact kNN: broadcast the (small) query side, scan targets once.

    Output: (qid, tid, rank, dist_km) — rank 1..k by (distance, tid).
    Distances are rounded to ``round_decimals`` (µm scale at 6) *before*
    ranking so that 1-ulp libm differences across engines/platforms cannot
    flip ranks; residual ties break on tid.
    """
    qid, qlon, qlat = query_cols
    tid, tlon, tlat = target_cols
    # a point with a NULL coordinate is no query and no neighbour
    joined = targets.dropna(subset=[tlon, tlat]).crossJoin(
        F.broadcast(queries.dropna(subset=[qlon, qlat])))
    d = _haversine_col(F.col(qlon), F.col(qlat), F.col(tlon), F.col(tlat))
    joined = joined.withColumn("dist_km", F.round(d, round_decimals))
    w = Window.partitionBy(qid).orderBy(F.col("dist_km").asc(), F.col(tid).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid, tid, "rank", "dist_km")
    )


def knn_kring(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    res: int = 6,
    rings: int = 1,
    query_cols: tuple[str, str, str] = ("qid", "qlon", "qlat"),
    target_cols: tuple[str, str, str] = ("tid", "tlon", "tlat"),
    round_decimals: int = 6,
) -> DataFrame:
    """Approximate-exact kNN via k-ring expansion equi-join.

    Each query explodes to its (2*rings+1)^2 ring cells (a pandas UDF over
    the query side only); targets carry their cell key; an equi-join on cell
    generates candidates; exact Haversine + window keeps top-k. Hot cells
    are handled by AQE skew-join splitting; queries are typically the small
    side and broadcast.
    """
    qid, qlon, qlat = query_cols
    tid, tlon, tlat = target_cols

    def explode_rings(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            lon = b[qlon].to_numpy(dtype=np.float64)
            lat = b[qlat].to_numpy(dtype=np.float64)
            cell = C.lonlat_to_cell(lon, lat, res)
            ring = C.k_ring(cell, rings)  # (n, (2r+1)^2)
            n, m = ring.shape
            rep = np.repeat(np.arange(n), m)
            flat = ring.ravel()
            okm = flat >= 0
            yield pd.DataFrame(
                {
                    qid: b[qid].to_numpy()[rep][okm],
                    qlon: lon[rep][okm],
                    qlat: lat[rep][okm],
                    "cell": flat[okm],
                }
            )

    qschema = f"{qid} long, {qlon} double, {qlat} double, cell long"
    # a query with a NULL coordinate has no neighbours; a NULL target gets
    # a NULL cell and drops out of the join
    qcells = queries.select(qid, qlon, qlat).dropna(subset=[qlon, qlat]) \
        .mapInPandas(explode_rings, schema=qschema)

    # Big side stays JVM-native: the cell key is candidate-generation only
    # (a 1-ulp libm difference shifts an edge point one cell, still inside
    # the ring), so no Python runs over the target table at all.
    tcells = targets.select(
        tid, tlon, tlat,
        C.cell_expr(F.col(tlon), F.col(tlat), res).alias("cell"),
    )

    cand = tcells.join(F.broadcast(qcells), "cell", "inner")
    d = _haversine_col(F.col(qlon), F.col(qlat), F.col(tlon), F.col(tlat))
    cand = cand.withColumn("dist_km", F.round(d, round_decimals))
    w = Window.partitionBy(qid).orderBy(F.col("dist_km").asc(), F.col(tid).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid, tid, "rank", "dist_km")
    )


def knn_kring_exact(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    res: int | None = None,
    query_cols: tuple[str, str, str] = ("qid", "qlon", "qlat"),
    target_cols: tuple[str, str, str] = ("tid", "tlon", "tlat"),
    round_decimals: int = 6,
    max_rings: int = 64,
) -> DataFrame:
    """kNN with AUTO-sized (res, rings) and a per-query exactness proof.

    Resolution: when None, sized from target density so the expected cell
    population is ~2k (the quadtree-growth heuristic of
    ``gdalgrid.cpp:281-301``). Rings escalate per query — after each pass
    a query's result is PROVABLY exact when its k-th distance is within
    the Chebyshev-safe radius ``rings * min-cell-width`` at the query's
    latitude; unsettled queries re-run with doubled rings. The escalation
    set shrinks geometrically, and only the (small) query side iterates —
    the target table is re-joined only for unsettled queries.
    """
    qid, qlon, qlat = query_cols

    if res is None:
        stats = targets.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(target_cols[1]).alias("ln0"),
            F.max(target_cols[1]).alias("ln1"),
            F.min(target_cols[2]).alias("lt0"),
            F.max(target_cols[2]).alias("lt1"),
        ).first()
        n = max(int(stats["n"]), 1)
        area_deg2 = max(
            (stats["ln1"] - stats["ln0"]) * (stats["lt1"] - stats["lt0"]),
            1e-9,
        )
        # cell edge (deg) so that density * edge^2 ~ 2k
        edge_deg = float(np.sqrt(2.0 * k * area_deg2 / n))
        res = int(np.clip(np.floor(np.log2(360.0 / max(edge_deg, 1e-9))),
                          2, 20))

    remaining = queries.select(qid, qlon, qlat).dropna(
        subset=[qlon, qlat]).localCheckpoint()
    settled = []
    rings = 1
    while rings <= max_rings:
        got = knn_kring(remaining, targets, k, res=res, rings=rings,
                        query_cols=query_cols, target_cols=target_cols,
                        round_decimals=round_decimals).localCheckpoint()
        # exactness bound: the EXACT distance from the query point to the
        # boundary of the ring-covered lon/lat box (meridian edges are
        # geodesics; for parallel edges the same-longitude point minimizes
        # haversine) — computed on the small query side only
        per_q = got.groupBy(qid).agg(
            F.max("dist_km").alias("kth"),
            F.count(F.lit(1)).alias("got_n"),
        )

        def guard_udf(batches):
            n_cells = 1 << res
            for b in batches:
                lon = b[qlon].to_numpy(np.float64)
                lat = b[qlat].to_numpy(np.float64)
                cell = C.lonlat_to_cell(lon, lat, res)
                _, cx, cy = C.unpack_cell(cell)
                x0 = (cx - rings) / n_cells
                x1 = (cx + rings + 1) / n_cells
                y0 = np.clip((cy - rings) / n_cells, 0.0, 1.0)
                y1 = np.clip((cy + rings + 1) / n_cells, 0.0, 1.0)
                lon0 = x0 * 360.0 - 180.0
                lon1 = x1 * 360.0 - 180.0
                lat1v = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * y0))))
                lat0v = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * y1))))
                d = np.full(len(b), np.inf)
                # parallel edges (same-longitude nearest point)
                at_top = np.isclose(y0, 0.0)
                at_bot = np.isclose(y1, 1.0)
                d = np.minimum(
                    d, np.where(at_top, np.inf,
                                C.haversine_km(lon, lat, lon, lat1v)))
                d = np.minimum(
                    d, np.where(at_bot, np.inf,
                                C.haversine_km(lon, lat, lon, lat0v)))
                # meridian edges (clamped-latitude nearest point); skip when
                # the ring wraps the full globe in x
                full_wrap = (x1 - x0) >= 1.0
                cl = np.clip(lat, lat0v, lat1v)
                d = np.minimum(
                    d, np.where(full_wrap, np.inf,
                                C.haversine_km(lon, lat, lon0, cl)))
                d = np.minimum(
                    d, np.where(full_wrap, np.inf,
                                C.haversine_km(lon, lat, lon1, cl)))
                yield pd.DataFrame({qid: b[qid], "guard_km": d})

        guards = remaining.mapInPandas(
            guard_udf, schema=f"{qid} long, guard_km double"
        )
        qmeta = remaining.join(per_q, qid, "left").join(guards, qid)
        ok = (F.col("got_n") == k) & (F.col("kth") < F.col("guard_km"))
        settled.append(
            got.join(qmeta.where(ok).select(qid), qid, "leftsemi")
        )
        remaining = qmeta.where(~F.coalesce(ok, F.lit(False))).select(
            qid, qlon, qlat
        ).localCheckpoint()
        if remaining.isEmpty():
            break
        rings *= 4
    else:
        # fall back to exact brute force for anything still unsettled
        settled.append(
            knn_bruteforce(remaining, targets, k, query_cols=query_cols,
                           target_cols=target_cols,
                           round_decimals=round_decimals)
        )
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
