"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry demonstrates one operator family from SURVEY.md §2
over the driver-generated testdata tables; ``oracle_sql()`` carries the
DuckDB-equivalent ANSI SQL for the value-hash correctness gate.

Determinism across engines (Spark/JVM vs DuckDB/libm) is engineered, not
hoped for:
- float *derivations* (synthetic lon/lat from integer keys) mirror the exact
  IEEE op sequence in both systems;
- float *aggregates* accumulate in DECIMAL (exact) and cast to double last;
- float *rankings* (kNN distance, cosine) round before ranking and tie-break
  on an integer key, so 1-ulp libm differences cannot flip ranks.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lib_gdal_spark.functions import cells as C
from lib_gdal_spark.session import local_df
from lib_gdal_spark.functions import geometry as G
from lib_gdal_spark.operators import knn as KNN
from lib_gdal_spark.operators import pip_join as PIP
from lib_gdal_spark.operators import raster as RAST
from lib_gdal_spark.plans import ogr_sql as O
from lib_gdal_spark.sources import pages as PG
from lib_gdal_spark.sources import rasters as RS
from lib_gdal_spark.operators import geo as GEO


# ---------------------------------------------------------------------------
# shared fixtures: synthetic points from events (SQL-mirrorable arithmetic)
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# lon/lat derived from event_id with *integer* mod arithmetic followed by one
# float divide + subtract — the identical op sequence is emitted in SQL so
# both engines produce bit-identical doubles.
_POINTS_SQL = (
    "SELECT event_id AS pid, "
    "((event_id * 7919) % 36000) / 100.0 - 180.0 AS lon, "
    "((event_id * 104729) % 17000) / 100.0 - 85.0 AS lat "
    "FROM events"
)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("pid"),
        (((F.col("event_id") * 7919) % 36000) / 100.0 - 180.0).alias("lon"),
        (((F.col("event_id") * 104729) % 17000) / 100.0 - 85.0).alias("lat"),
    )


# Three convex pentagons (CCW). Rounded once in Python; the same floats feed
# the WKB fixture AND the half-plane oracle SQL, so they cannot drift.
def _pentagon(cx: float, cy: float, r: float, phase: float) -> list[tuple[float, float]]:
    return [
        (
            round(cx + r * math.cos(2.0 * math.pi * j / 5.0 + phase), 4),
            round(cy + r * math.sin(2.0 * math.pi * j / 5.0 + phase), 4),
        )
        for j in range(5)
    ]


POLYGONS: dict[int, list[tuple[float, float]]] = {
    1: _pentagon(-74.1234, 40.6789, 3.0, 0.3),
    2: _pentagon(10.0731, 48.1123, 4.0, 0.7),
    3: _pentagon(116.2897, -30.4512, 5.0, 1.1),
}


def _polygons_df(spark: SparkSession) -> DataFrame:
    rows = []
    for fid, verts in POLYGONS.items():
        ring = np.array(verts + [verts[0]], dtype=np.float64)
        rows.append((fid, bytearray(G.wkb_polygon([ring]))))
    # Single partition: a 3-row dim spread over default parallelism would
    # spin one Python worker per empty partition in the cover UDF.
    return local_df(spark, rows, "fid long, geom_wkb binary")


def _inside_sql(verts: list[tuple[float, float]]) -> str:
    """Strict half-plane interior test for a CCW convex polygon."""
    conds = []
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        conds.append(
            f"(({x2!r} - {x1!r}) * (lat - {y1!r}) - "
            f"({y2!r} - {y1!r}) * (lon - {x1!r})) > 0"
        )
    return " AND ".join(conds)


def _pip_oracle() -> str:
    parts = [
        f"SELECT CAST(pid AS VARCHAR) AS pid, CAST({fid} AS BIGINT) AS fid "
        f"FROM pts WHERE {_inside_sql(verts)}"
        for fid, verts in POLYGONS.items()
    ]
    return f"WITH pts AS ({_POINTS_SQL}) " + " UNION ALL ".join(parts)


# Larger pentagons for the rasterize/polygonize round trip (the PIP
# pentagons are too small for a 256px world grid). Disjoint by construction.
RASTER_POLYGONS: dict[int, list[tuple[float, float]]] = {
    1: _pentagon(-74.1234, 40.6789, 14.0, 0.3),
    2: _pentagon(10.0731, 48.1123, 18.0, 0.7),
    3: _pentagon(116.2897, -30.4512, 22.0, 1.1),
}


def _raster_polys_df(spark: SparkSession) -> DataFrame:
    rows = []
    for fid, verts in RASTER_POLYGONS.items():
        ring = np.array(verts + [verts[0]], dtype=np.float64)
        rows.append((fid, bytearray(G.wkb_polygon([ring])), float(fid)))
    return local_df(spark, rows, "fid long, geom_wkb binary, burn double")


# 256x256 world grid pixel centers as SQL (mirrors GridSpec/world_grid):
# lon = gt0 + (px+0.5)*gt1, lat = gt3 + (py+0.5)*gt5.
_PIXELS_SQL = (
    "SELECT x.px, y.py, "
    "-180.0 + (x.px + 0.5) * 1.40625 AS lon, "
    "90.0 - (y.py + 0.5) * 0.703125 AS lat "
    "FROM generate_series(0, 255) x(px) CROSS JOIN generate_series(0, 255) y(py)"
)


def _points_with_cell(spark: SparkSession, sf_dir: str, res: int = 12) -> DataFrame:
    pts = _points(spark, sf_dir)

    def add_cell(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            b = b.copy()
            b["cell"] = C.lonlat_to_cell(
                b["lon"].to_numpy(np.float64), b["lat"].to_numpy(np.float64), res
            )
            yield b

    return pts.mapInPandas(add_cell, schema="pid long, lon double, lat double, cell long")


# kNN query points (mid-latitude; literal doubles parse identically in both
# engines).
KNN_QUERIES: list[tuple[int, float, float]] = [
    (1, -73.99, 40.73),
    (2, 2.35, 48.86),
    (3, 139.69, 35.69),
    (4, -46.63, -23.55),
    (5, 151.21, -33.87),
    (6, 18.42, -33.93),
    (7, 77.21, 28.61),
    (8, -0.13, 51.51),
]

_KNN_Q_SQL = "(VALUES " + ", ".join(
    f"({q}, {lon!r}, {lat!r})" for q, lon, lat in KNN_QUERIES
) + ") AS q(qid, qlon, qlat)"

_HAVERSINE_SQL = (
    "round(2.0 * 6371.0088 * asin(sqrt(least("
    "pow(sin((radians(lat) - radians(qlat)) / 2), 2) + "
    "cos(radians(qlat)) * cos(radians(lat)) * "
    "pow(sin((radians(lon) - radians(qlon)) / 2), 2), 1.0))), 6)"
)

_KNN_ORACLE = f"""
WITH pts AS ({_POINTS_SQL}),
j AS (
  SELECT qid, pid AS tid, {_HAVERSINE_SQL} AS dist_km
  FROM pts CROSS JOIN {_KNN_Q_SQL}
)
SELECT qid, tid, CAST(rank AS INTEGER) AS rank, dist_km FROM (
  SELECT qid, tid, dist_km,
         row_number() OVER (PARTITION BY qid ORDER BY dist_km ASC, tid ASC) AS rank
  FROM j
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# queries: relational / OGR SQL semantics (SURVEY.md §2.2-2.8)
# ---------------------------------------------------------------------------

def q_ogr_like_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive LIKE (swq_op_general.cpp:56) + projection."""
    c = _t(spark, sf_dir, "customer")
    return c.where(O.ogr_like(F.col("c_mktsegment"), "%BUILD%")).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def q_ogr_summary_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SWQM_SUMMARY_RECORD whole-table aggregates (swq.cpp:323-545).

    Float sums accumulate in DECIMAL(18,2) (exact) and cast to double last so
    Spark's partial-aggregation order cannot perturb low bits vs DuckDB.
    """
    li = _t(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    price_dec = F.col("l_extendedprice").cast("decimal(18,2)")
    return O.summary_record(
        li,
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(qty_dec).cast("double").alias("sum_qty"),
            F.sum(price_dec).cast("double").alias("sum_price"),
            (F.sum(qty_dec).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        ],
    )


def q_ogr_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT col) via the typed distinct set (swq.h:297-318)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_returnflag").alias("n_flags"),
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )


def q_ogr_distinct_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SWQM_DISTINCT_LIST (SELECT DISTINCT col, NULLs first)."""
    o = _t(spark, sf_dir, "orders")
    return O.distinct_list(o, "o_orderpriority")


def q_ogr_first_match_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR LEFT JOIN: first-match-only per primary row (ogr_gensql.cpp:1294)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = O.first_match_left_join(
        c, o, on=c["c_custkey"] == o["o_custkey"],
        primary_key="c_custkey", secondary_order="o_orderkey",
    )
    return j.select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


def q_ogr_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY multi-key + LIMIT top-k (ogr_gensql.cpp:1918,1938)."""
    o = _t(spark, sf_dir, "orders")
    out = O.order_by(o, ("o_totalprice", False), ("o_orderkey", True))
    return O.limit_offset(out, 10).select("o_orderkey", "o_custkey", "o_totalprice")


def q_ogr_in_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (literal list) + BETWEEN rewrite (swq_parser.y:106, swq.h:138)."""
    li = _t(spark, sf_dir, "lineitem")
    keep = O.ogr_between(F.col("l_quantity"), F.lit(10.0), F.lit(20.0)) & O.ogr_in(
        F.col("l_returnflag"), ["A", "R"]
    )
    return li.where(keep).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


def q_ogr_two_valued_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-valued NULL logic: NULL comparison -> FALSE, NOT(FALSE) -> TRUE
    (swq_op_general.cpp:318-343)."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.nullif(F.col("l_tax"), F.lit(0.0))
    keep = ~O.ogr_gt(x, F.lit(0.05))  # includes NULL-tax rows, unlike ANSI
    return (
        li.where(keep)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def q_ogr_hstore_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HSTORE_GET_VALUE-style key lookup in a string map column (swq.h:417)."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("int")
    return ev.select("event_id", k.alias("k_val")).where(
        O.ogr_gt(F.col("k_val"), F.lit(50))
    )


def q_ogr_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function registrar coverage (swq_op_registrar.cpp:45-77):
    CONCAT, SUBSTR, % modulus, CAST(... AS float/string/integer)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit("#"), F.col("c_mktsegment")).alias("tag"),
        F.substring(F.col("c_name"), 1, 8).alias("prefix"),
        (F.col("c_custkey") % 7).alias("bucket"),
        F.col("c_custkey").cast("double").alias("key_f"),
        F.col("c_acctbal").cast("string").alias("bal_s"),
        F.col("c_acctbal").cast("int").alias("bal_i"),
    )


def q_ogr_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL with schema merge (ogrunionlayer.cpp:687)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.lit("customer").alias("src"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("key"),
        F.col("s_name").alias("name"),
        F.lit("supplier").alias("src"),
    )
    return c.unionByName(s)


# ---------------------------------------------------------------------------
# queries: spatial core (SURVEY.md §2.3/§2.9 — the north-star operators)
# ---------------------------------------------------------------------------

def q_tile_assign_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-mercator XYZ tile assignment (mbtilesdataset.cpp:1136-1137)."""
    pts = _points(spark, sf_dir)
    out = GEO.with_tile(pts, z=8)
    return out.select("pid", "z", F.col("tx").cast("long").alias("tx"),
                      F.col("ty").cast("long").alias("ty"))


def q_cell_pack_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int64 cell packing + quadtree parent chain (functions.cells)."""
    pts = _points_with_cell(spark, sf_dir, res=10)
    parent = C.cell_parent_expr(F.col("cell"), 5)
    return pts.select("pid", F.col("cell").alias("cell10"),
                      parent.alias("cell5"))


def q_pip_join_pentagon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon spatial join: cell cover -> equi-join -> envelope
    pre-test -> exact even-odd ray cast (ogrlayer.cpp:1357, llrasterize.cpp:92).
    """
    pts = _points_with_cell(spark, sf_dir, res=12).withColumn(
        "pid", F.col("pid").cast("string")
    )
    polys = _polygons_df(spark)
    return PIP.pip_join(
        pts, polys, res=7, points_res=12, point_cols=("pid", "lon", "lat")
    )


def q_knn_kring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN via k-ring expansion join (north star; gdalgrid.cpp:281-301)."""
    q = local_df(spark, KNN_QUERIES, "qid long, qlon double, qlat double")
    t = _points(spark, sf_dir).select(
        F.col("pid").alias("tid"), F.col("lon").alias("tlon"),
        F.col("lat").alias("tlat"),
    )
    out = KNN.knn_kring(q, t, k=5, res=4, rings=1)
    return out.select("qid", "tid", "rank", "dist_km")


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN baseline: broadcast nested loop + top-k window."""
    q = local_df(spark, KNN_QUERIES, "qid long, qlon double, qlat double")
    t = _points(spark, sf_dir).select(
        F.col("pid").alias("tid"), F.col("lon").alias("tlon"),
        F.col("lat").alias("tlat"),
    )
    out = KNN.knn_bruteforce(q, t, k=5)
    return out.select("qid", "tid", "rank", "dist_km")


def q_rasterize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rasterize (even-odd pixel-center scanline burn, llrasterize.cpp:92)
    -> per-tile burned-pixel counts."""
    from lib_gdal_spark.operators import rasterize as RZ

    grid = RZ.world_grid(256, 256, 64)
    tiles = RZ.rasterize_polygons(_raster_polys_df(spark), grid)
    return RZ.burned_pixel_counts(tiles)


def q_rasterize_invert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_rasterize -i (bInvertRasterize): the burn value lands OUTSIDE
    the pentagons; global per-value pixel counts."""
    from lib_gdal_spark.operators import rasterize as RZ

    grid = RZ.world_grid(256, 256, 64)
    tiles = RZ.rasterize_polygons(_raster_polys_df(spark), grid, invert=True)
    return (
        tiles.select(F.explode("pixels").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_pixels"))
        .select(F.col("v").alias("value"), "n_pixels")
    )


def q_polygonize_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster->vector round trip: polygonize the rasterized pentagons into
    connected components (polygonize.cpp:435 semantics)."""
    from lib_gdal_spark.operators import polygonize as PZ
    from lib_gdal_spark.operators import rasterize as RZ

    grid = RZ.world_grid(256, 256, 64)
    tiles = RZ.rasterize_polygons(_raster_polys_df(spark), grid)
    return PZ.polygonize(tiles, spark, grid_w=grid.width, tile=grid.tile)


def _dem_pixels(spark: SparkSession, op: str, round_to: int | None) -> DataFrame:
    """world4326 fixture -> DEM op -> interior (px, py, value) rows.

    The explode + rounding run JVM-side so the driver compare sees Spark's
    rounding semantics on both paths.
    """
    from lib_gdal_spark.operators import dem as D

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = D.dem_op(tiles, op)
    ex = out.select(
        "tile_x", "tile_y", "tile_w",
        F.posexplode("pixels").alias("pos", "v"),
    )
    px = (F.col("tile_x") * 64 + F.col("pos") % F.col("tile_w")).cast("long")
    py = (F.col("tile_y") * 64 + (F.col("pos") / F.col("tile_w")).cast("int")).cast("long")
    ex = ex.select(px.alias("px"), py.alias("py"), "v").where(
        (F.col("px").between(1, 254)) & (F.col("py").between(1, 254))
    )
    val = F.round("v", round_to) if round_to is not None else F.col("v").cast("long")
    return ex.select("px", "py", val.alias(op))


def q_dem_insolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily potential direct-beam insolation (r.sun mode-1 analog, no
    cast shadows): 12 hour-angle steps at lat 45 / June-solstice
    declination, each max(0, incidence) quantized to int64 nano-units
    and integer-summed, scaled to cos-weighted hours."""
    return _dem_pixels(spark, "insolation", round_to=6)


def q_dem_curv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zevenbergen & Thorne 1987 profile curvature (eq. 14) — curvature
    along the slope line; oracle spells the partial-quadric
    coefficients with identical float parenthesization."""
    return _dem_pixels(spark, "curv_profile", round_to=6)


def q_dem_curv_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zevenbergen & Thorne 1987 plan curvature (eq. 15) — contour
    curvature separating convergent channels from divergent ridges."""
    return _dem_pixels(spark, "curv_plan", round_to=6)


def q_dem_curv_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zevenbergen & Thorne 1987 general curvature -2(D + E): the
    Laplacian of the fitted quadric."""
    return _dem_pixels(spark, "curv_total", round_to=6)


def q_dem_flowdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESRI D8 flow direction (Jenson & Domingue 1988) over the
    world4326 fixture via the same distributed 3x3 halo exchange as the
    gdaldem kernels; codes E=1..NE=128, flats/pits 0, ties to the lowest
    code. The oracle spells the eight drop/distance slopes and the
    first-match CASE chain (same tie-break)."""
    return _dem_pixels(spark, "flowdir", round_to=None)


def q_dem_basins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drainage-basin labels over the D8 flow raster (Jenson & Domingue
    1988 watershed step): every interior cell labeled with its terminal
    sink's id, computed by pointer doubling over the successor function
    (log rounds of keys-only self-joins; 898 basins on the world4326
    fixture). The oracle unrolls EIGHT materialized doubling CTEs
    (covers path length 256 >> the fixture's ~35) over the identical
    flowdir + successor arithmetic."""
    from lib_gdal_spark.operators.dem import d8_basins

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return d8_basins(tiles)


def q_basin_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal elevation statistics per drainage basin — the hydrology
    composition (flowdir -> basins -> zonal agg): cell count, min/max
    and 6-dp mean elevation per basin over world4326. One combinable
    groupBy on the basin label; the oracle extends the dem_basins SQL
    with the same closed-form elevation."""
    from lib_gdal_spark.operators.dem import d8_basins

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    b = d8_basins(tiles)
    # the fixture's closed form; all values positive so trunc == the
    # int cast, and integer-valued doubles sum EXACTLY (mean = one IEEE
    # division — engine-identical)
    elev = (F.sin(F.col("px") * 0.19) + F.cos(F.col("py") * 0.13)) * 60.0
    elev = (elev + 128.0).cast("long").cast("double")
    return (b.withColumn("z", elev)
            .groupBy("basin")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.min("z").alias("z_min"),
                 F.max("z").alias("z_max"),
                 F.round(F.avg("z"), 6).alias("z_mean")))


def q_strahler_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strahler stream order over the world4326 [1,126]^2 window — the
    stream-hierarchy step after flowdir/accumulation (order-1 sources,
    +1 where >= 2 maximal branches meet; max order 5 on this terrain).
    Spark peels level-synchronously with the kcore-style driver
    short-circuit; the oracle unrolls 44 resolve rounds (forest height
    39 here) over the identical flow edges. Orders are integers —
    exact equality."""
    from lib_gdal_spark.operators.dem import strahler_order

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return strahler_order(tiles, lo=1, hi=126)


def q_flow_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow accumulation over world4326 — per-cell upstream-cell
    counts (ESRI Flow Accumulation semantics; the channel-network step
    after flowdir/basins). Spark runs the log-round jump-table path
    expansion (pairs at distance <= 2^k, one equi-join per round); the
    oracle walks the identical flow edges with a recursive CTE and
    counts visits. Counts are integers, so equality is exact."""
    from lib_gdal_spark.operators.dem import d8_flow_accumulation

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return d8_flow_accumulation(tiles, lo=1, hi=126)


def q_flow_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downstream D8 flow length (r.stream.distance / Flow Length
    DOWNSTREAM) over the same world4326 window as flow_accumulation:
    pointer doubling folds the path as two exact integer step counts
    (cardinal, diagonal); sqrt(2) is applied once at the end, so the
    doubling tree's fold order cannot perturb the result. The oracle
    walks the identical D8 successor table with a recursive CTE and the
    same final expression."""
    from lib_gdal_spark.operators.dem import d8_flow_length

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return d8_flow_length(tiles, lo=1, hi=126)


def q_flow_length_upstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upstream D8 flow length (longest flow path through each cell)
    over the same world4326 window: the flow-accumulation log-round
    pair expansion carrying exact integer step units (diagonal =
    1414214 = half-up sqrt(2)e6), one max groupBy. The oracle reuses
    the recursive successor walk and takes the same integer max."""
    from lib_gdal_spark.operators.dem import d8_flow_length_upstream

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return d8_flow_length_upstream(tiles, lo=1, hi=126)


def q_dem_twi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topographic wetness index (Beven & Kirkby 1979) over world4326:
    ln((flow_acc + 1) / max(tan(Horn slope), 0.001)) — pure composition
    of the flow-accumulation jump table and the slope halo kernel, one
    JVM-side projection on top; the oracle composes the identical
    recursive-CTE walk and Horn window expression."""
    from lib_gdal_spark.operators.dem import dem_twi

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = dem_twi(tiles, flow_lo=1, flow_hi=126)
    return out.select("px", "py", F.round("twi", 6).alias("twi"))


def q_fill_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depression filling (Planchon-Darboux eps=0 fixed point; the
    r.fill.dir hydrology-conditioning step before dem_flowdir/basins)
    over the 128x128 world4326 window. Spark runs the Barnes-2016
    parallel priority-flood (tile-local heap solves + halo rounds); the
    oracle unrolls 80 Jacobi rounds of the same min/max lattice update
    (fixpoint at 73 on this surface). W is min/max lattice math only —
    every output value is an input z value, so equality is exact."""
    from lib_gdal_spark.operators.fillsinks import fill_sinks

    tiles = RS.fixture_rasters(spark).where(
        (F.col("raster_id") == "world4326")
        & (F.col("tile_x") < 2) & (F.col("tile_y") < 2))
    return fill_sinks(tiles, tile=64).select(
        "px", "py", F.col("fill").cast("long").alias("fill"))


def q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viewshed from (32,32)+3 over a deterministic 64x64 DEM with a
    60-unit wall at x=40 (gdal_viewshed analog; beyond-reference —
    this fork predates the tool). Sampled-LOS definition is all-integer
    cross-multiplied angle comparison, so visibility AND per-target
    blocker counts are value-exact vs the windowed SQL oracle."""
    from lib_gdal_spark.operators.viewshed import viewshed

    g = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("px"),
        (F.col("id") / 64).cast("long").alias("py"))
    pixels = g.select(
        "px", "py",
        (((F.col("px") * F.col("px") + 3 * F.col("py")) % 37)
         + ((F.col("px") + F.col("py") * F.col("py")) % 23)
         + F.when(F.col("px") == 40, F.lit(60)).otherwise(F.lit(0))
         ).cast("long").alias("z"))
    return viewshed(pixels, ox=32, oy=32, obs_height=3).select(
        "px", "py", "visible", "n_blockers")


def q_dem_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn slope via distributed 3x3 halo exchange (gdaldem_lib.cpp)."""
    return _dem_pixels(spark, "slope", round_to=6)


def q_dem_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn hillshade (az=315, alt=45, +0.5-floor rounding)."""
    return _dem_pixels(spark, "hillshade", round_to=None)


def q_dem_aspect_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem aspect -trigonometric (CCW-from-east convention; flat ->
    -9999 like the reference default)."""
    return _dem_pixels(spark, "aspect_trig", round_to=6)


def q_dem_slope_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem slope -p (percent-slope branch of GDALSlopeHornAlg)."""
    return _dem_pixels(spark, "slope_percent", round_to=6)


def q_dem_slope_zt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem slope -alg ZevenbergenThorne (2-tap central differences)."""
    return _dem_pixels(spark, "slope_zt", round_to=6)


def q_dem_aspect_zt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem aspect -alg ZevenbergenThorne (compass azimuth)."""
    return _dem_pixels(spark, "aspect_zt", round_to=6)


def q_dem_hillshade_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem hillshade -combined (GDALHillshadeCombinedAlg,
    gdaldem_lib.cpp:1113): acos-angle shading attenuated by slope."""
    return _dem_pixels(spark, "hillshade_combined", round_to=None)


def q_dem_hillshade_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem hillshade -multidirectional (gdaldem_lib.cpp:1208, USGS
    OF 92-422): 4 azimuths weighted by sin^2(aspect - az)."""
    return _dem_pixels(spark, "hillshade_multidirectional", round_to=None)


def q_dem_hillshade_igor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem hillshade -igor (GDALHillshadeIgorAlg, gdaldem_lib.cpp:883):
    shadowness = 1 - slopeStrength * aspectStrength."""
    return _dem_pixels(spark, "hillshade_igor", round_to=None)


# The world4326 fixture is closed-form, so the oracle can recompute the
# whole stencil in SQL: val(px,py) = trunc((sin(px*.19)+cos(py*.13))*60+128).
def _dem_oracle(expr: str) -> str:
    def v(dx: int, dy: int) -> str:
        fx = f"(px + {dx})" if dx else "px"
        fy = f"(py + {dy})" if dy else "py"
        return f"trunc((sin({fx} * 0.19) + cos({fy} * 0.13)) * 60.0 + 128.0)"

    win = {
        "a": v(-1, -1), "b": v(0, -1), "c": v(1, -1),
        "d": v(-1, 0), "e": v(0, 0), "f": v(1, 0),
        "g": v(-1, 1), "h": v(0, 1), "i": v(1, 1),
    }
    cells = ",\n".join(f"  {win[k]} AS {k}" for k in win)
    return f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(1, 254) x(px)
          CROSS JOIN generate_series(1, 254) y(py)
        ),
        win AS (
          SELECT px, py,
{cells}
          FROM pix
        ),
        horn AS (
          SELECT px, py, a, b, c, d, e, f, g, h, i,
            ((c + 2.0 * f + i) - (a + 2.0 * d + g)) / (8.0 * 1.40625) AS dzdx,
            ((g + 2.0 * h + i) - (a + 2.0 * b + c)) / (8.0 * -0.703125) AS dzdy,
            ((a + 2.0 * d + g) - (c + 2.0 * f + i)) / 1.40625 AS gx,
            ((g + 2.0 * h + i) - (a + 2.0 * b + c)) / -0.703125 AS gy
          FROM win
        )
        SELECT px, py, {expr}
        FROM horn
    """


def _explode_px(tiles: DataFrame, tile: int = 64) -> DataFrame:
    """Tile table -> (px, py, v) global-pixel rows, JVM-side."""
    ex = tiles.select(
        "tile_x", "tile_y", "tile_w",
        F.posexplode("pixels").alias("pos", "v"),
    )
    px = (F.col("tile_x") * tile + F.col("pos") % F.col("tile_w")).cast("long")
    py = (F.col("tile_y") * tile
          + (F.col("pos") / F.col("tile_w")).cast("int")).cast("long")
    return ex.select(px.alias("px"), py.alias("py"), "v")


def q_grid_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW grid interpolation (gdalgrid.cpp:127) over events-derived points:
    cell-bucketed gather + vectorized (pixels x points) kernel."""
    from lib_gdal_spark.operators import grid as GR
    from lib_gdal_spark.operators.rasterize import GridSpec

    pts = _points(spark, sf_dir).select(
        F.col("lon").alias("x"), F.col("lat").alias("y"),
        (F.col("pid") % 97).cast("double").alias("v"),
    )
    grid = GridSpec((-180.0, 5.625, 0.0, 90.0, 0.0, -2.8125), 64, 64, 16)
    tiles = GR.grid_interpolate(pts, grid, alg="invdist", radius=15.0)
    out = _explode_px(tiles, tile=16)
    return out.select("px", "py", F.round("v", 4).alias("idw"))


def q_vrt_pixelfuncs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named VRT pixel-function registry (all 17 names of
    GDALRegisterDefaultPixelFunc, pixelfunctions.cpp): sum + dB here,
    dispatched by name, pure JVM column math."""
    from lib_gdal_spark.functions import pixelfn as PF

    tiles = RS.multiband_tiles(spark, n=128, tile=64)
    s = _explode_px(PF.apply_pixel_function(tiles, "sum", [1, 2])) \
        .select("px", "py", F.col("v").alias("s"))
    db = _explode_px(PF.apply_pixel_function(tiles, "dB", [2])) \
        .select("px", "py", F.round("v", 6).alias("db"))
    return s.join(db, ["px", "py"])


def q_mbtiles_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MBTiles SINK round trip (mbtilesdataset.cpp schema, TMS row flip,
    real PNG payloads): write a z2 tile set to an actual .mbtiles SQLite
    file, read it back, and emit per-tile pixel sums — distributed PNG
    encode, single-writer file (inherent to the format)."""
    import tempfile

    from lib_gdal_spark.sinks import tilestore as TS

    rows = []
    for ty in range(4):
        for tx in range(4):
            j, i = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
            arr = ((i + j + 17 * tx + 29 * ty) % 256).astype(np.float64)
            rows.append(dict(
                raster_id="m", band=1, zoom=2, tile_x=tx, tile_y=ty,
                dtype="uint8", tile_w=64, tile_h=64,
                gt0=0.0, gt1=1.0, gt2=0.0, gt3=0.0, gt4=0.0, gt5=-1.0,
                nodata=None, pixels=arr.ravel().tolist(),
            ))
    tiles = spark.createDataFrame(pd.DataFrame(rows),
                                  schema=RS.RASTER_SCHEMA)
    # read_mbtiles collects the file on the driver, so it can go at once
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/m.mbtiles"
        TS.write_mbtiles(tiles, path, "m")
        back = TS.read_mbtiles(spark, path)

    def sums(batches):
        for b in batches:
            out = []
            for _, r in b.iterrows():
                arr = TS.decode_png_gray(bytes(r["png"]))
                out.append((int(r["tile_x"]), int(r["tile_y"]),
                            int(arr.astype(np.int64).sum())))
            yield pd.DataFrame(out, columns=["tx", "ty", "px_sum"])

    return back.mapInPandas(sums, schema="tx int, ty int, px_sum long")


def q_curve_linearize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curve-type linearization (getLinearGeometry): a full-circle
    CURVEPOLYGON strokes at the 4-degree default step with the reference's
    constant-angle loop (GetCurveParmeters circumcenter + StrokeArc,
    ogrgeometryfactory.cpp:4649) — every stroked vertex value-checked."""
    from lib_gdal_spark.functions import curves as CV
    from lib_gdal_spark.functions import wkt as WX

    src = spark.range(1)

    def work(batches):
        from lib_gdal_spark.functions import geometry as GG
        for b in batches:
            if len(b) == 0:
                continue
            wkb = WX.wkt_to_wkb("CURVEPOLYGON (CIRCULARSTRING (0 0, 2 0, 0 0))")
            base, rings = GG.parse_wkb(CV.curve_to_line(wkb))
            ring = rings[0]
            yield pd.DataFrame({
                "idx": np.arange(len(ring)),
                "x": ring[:, 0], "y": ring[:, 1],
            })

    out = src.mapInPandas(work, schema="idx long, x double, y double")
    return out.select("idx", F.round("x", 9).alias("x"),
                      F.round("y", 9).alias("y"))


def q_enhance_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalenhance -equalize (apps/gdalenhance.cpp): per-band histogram
    equalization — distributed histogram -> reference LUT arithmetic
    (extremes zeroed, cum = before + h//2, clamp(cum*bins//total)) ->
    JVM element_at LUT application."""
    from lib_gdal_spark.operators.color import equalize

    tiles = RS.fixture_rasters(spark).where(
        F.col("raster_id") == "gradient256"
    )
    out = equalize(tiles)
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_grid_avgdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-distance data metric (gdalgrid.cpp:1211): mean node->point
    distance over the search circle — the round-3 metric parity gap."""
    from lib_gdal_spark.operators import grid as GR
    from lib_gdal_spark.operators.rasterize import GridSpec

    pts = _points(spark, sf_dir).select(
        F.col("lon").alias("x"), F.col("lat").alias("y"),
        F.lit(0.0).alias("v"),
    )
    grid = GridSpec((-180.0, 5.625, 0.0, 90.0, 0.0, -2.8125), 64, 64, 16)
    tiles = GR.grid_interpolate(pts, grid, alg="average_distance",
                                radius=15.0)
    out = _explode_px(tiles, tile=16)
    return out.select("px", "py", F.round("v", 4).alias("ad"))


def q_translate_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -srcwin 37 21 150 100 -outsize 75 50 (nearest)."""
    from lib_gdal_spark.operators import translate as T

    tiles = RS.fixture_rasters(spark)
    out = T.translate_window(tiles, "gradient256", (37, 21, 150, 100),
                             outsize=(75, 50))
    return _explode_px(out).select("px", "py", F.col("v").cast("long").alias("v"))


def q_translate_projwin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -projwin -100 50 -30 10 on world4326: world window ->
    srcwin (56, 56, 50, 57) via the reference's floor(+0.001)/floor(+0.5)
    conversion; the oracle hardcodes the expected pixel window."""
    from lib_gdal_spark.operators import translate as T

    tiles = RS.fixture_rasters(spark)
    out = T.translate_projwin(
        tiles, "world4326", (-100.0, 50.0, -30.0, 10.0),
        gt=(-180.0, 1.40625, 0.0, 90.0, 0.0, -0.703125))
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v"))


def q_location_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdallocationinfo: world coord -> tile join -> pixel lookup."""
    from lib_gdal_spark.operators import translate as T

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "gradient256")
    q = local_df(
        spark,
        [(1, 10.2, 200.7), (2, 100.9, 119.3), (3, 255.2, 100.1),
         (4, 0.4, 255.6), (5, 199.5, 140.25)],
        "qid long, x double, y double",
    )
    out = T.location_info(tiles, q)
    return out.select("qid", "px", "py", F.col("value").cast("long").alias("v"))


def q_mosaic_lastwins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalbuildvrt compositing: later source wins except nodata."""
    from lib_gdal_spark.operators import rasterize as RZ
    from lib_gdal_spark.operators import translate as T

    grid = RZ.world_grid(256, 256, 64)

    def box_df(fid, minx, miny, maxx, maxy, burn):
        ring = G.box_ring(minx, miny, maxx, maxy)
        return local_df(
            spark, [(fid, bytearray(G.wkb_polygon([ring])), burn)],
            "fid long, geom_wkb binary, burn double",
        )

    ta = RZ.rasterize_polygons(box_df(1, -30.063, -20.063, 10.063, 20.063, 5.0),
                               grid, raster_id="a")
    tb = RZ.rasterize_polygons(box_df(1, -10.063, -10.063, 30.063, 30.063, 9.0),
                               grid, raster_id="b")
    m = T.mosaic(ta.unionByName(tb), ["a", "b"], nodata=0.0)
    out = _explode_px(m)
    return out.where(F.col("v") != 0.0).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_nearest_z2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp: EPSG:4326 -> web-mercator z2 tiles, nearest kernel
    (gdalwarpkernel.cpp nearest path; dst centers +0.5)."""
    tiles = RS.fixture_rasters(spark)
    out = RAST.warp_to_mercator_tiles_dist(tiles, z=2, alg="nearest", tile=64,
                                           raster_id="world4326")
    return _explode_px(out).select("px", "py", F.col("v").cast("long").alias("v"))


# method boxes for the layer-algebra overlay (non-lattice bounds so no
# degenerate touch cases against the 0.01-lattice point boxes)
METHOD_BOXES: dict[int, tuple[float, float, float, float]] = {
    10: (-80.063, 30.063, -60.063, 50.063),
    11: (0.063, 40.063, 20.063, 55.063),
    12: (100.063, -45.063, 130.063, -15.063),
}


def q_polygon_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rook adjacency table over a 12x10 shared-lattice box layer:
    canonical-segment decomposition (Arrow map) -> one equi-join on the
    4-double segment key -> combinable groupBy. The oracle is the
    analytic grid adjacency (horizontal pairs share the 1.5 edge,
    vertical pairs the 2.0 edge; diagonals share nothing)."""
    from collections.abc import Iterator as _It

    from lib_gdal_spark.operators.layer_algebra import polygon_neighbors

    def boxes(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            rows = []
            for k in b["id"]:
                i, j = int(k) % 12, int(k) // 12
                ring = G.box_ring(i * 2.0, j * 1.5,
                                  i * 2.0 + 2.0, j * 1.5 + 1.5)
                rows.append({"fid": j * 16 + i,
                             "geom_wkb": G.wkb_polygon([ring])})
            yield pd.DataFrame(rows, columns=["fid", "geom_wkb"])

    layer = spark.range(0, 120).mapInPandas(
        boxes, schema="fid long, geom_wkb binary")
    return polygon_neighbors(layer)


def q_layer_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR layer-algebra Intersection (ogrlayer.cpp:2062): cell-cover join +
    envelope pre-test + Sutherland-Hodgman clip; areas oracle-checked via
    the closed-form box-overlap formula."""
    from collections.abc import Iterator as _It

    from lib_gdal_spark.operators import layer_algebra as LA

    pts = _points(spark, sf_dir)

    def boxes(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            rows = []
            for pid, lon, lat in zip(b["pid"], b["lon"], b["lat"]):
                ring = G.box_ring(lon - 2.0, lat - 1.5, lon + 2.0, lat + 1.5)
                rows.append({"fid": pid, "geom_wkb": G.wkb_polygon([ring])})
            yield pd.DataFrame(rows, columns=["fid", "geom_wkb"])

    inputs = pts.mapInPandas(boxes, schema="fid long, geom_wkb binary")
    methods = local_df(
        spark,
        [(mid, bytearray(G.wkb_polygon([G.box_ring(*bb)])))
         for mid, bb in METHOD_BOXES.items()],
        "fid long, geom_wkb binary",
    )
    out = LA.intersection(inputs, methods, res=5)
    return out.select("in_fid", "m_fid", F.round("area", 6).alias("area"))


def _areal_layers(spark: SparkSession, sf_dir: str):
    """Source boxes (4x3 deg around the event points, val = pid%97+1)
    and the 3 METHOD_BOXES target zones for areal interpolation."""
    from collections.abc import Iterator as _It

    pts = _points(spark, sf_dir)

    def boxes(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            rows = []
            for pid, lon, lat in zip(b["pid"], b["lon"], b["lat"]):
                ring = G.box_ring(lon - 2.0, lat - 1.5, lon + 2.0, lat + 1.5)
                rows.append({"fid": pid, "geom_wkb": G.wkb_polygon([ring]),
                             "val": float(int(pid) % 97 + 1)})
            yield pd.DataFrame(rows, columns=["fid", "geom_wkb", "val"])

    source = pts.mapInPandas(
        boxes, schema="fid long, geom_wkb binary, val double")
    target = local_df(
        spark,
        [(mid, bytearray(G.wkb_polygon([G.box_ring(*bb)])))
         for mid, bb in METHOD_BOXES.items()],
        "fid long, geom_wkb binary",
    )
    return source, target


def q_areal_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extensive areal interpolation (mass-preserving attribute transfer
    between incongruent zone layers; the rasterize->zonal-stats composition
    in the reference done as ONE overlay): per-piece contributions
    integer-quantized at 1e-6 so the distributed sum is order-exact."""
    from lib_gdal_spark.operators import layer_algebra as LA

    source, target = _areal_layers(spark, sf_dir)
    # unit 1/(12e6): extensive contributions are val*overlap/12 with
    # overlap on the 1e-6 decimal lattice, so ideal values are exact
    # multiples of this unit — no rounding ties between engines
    out = LA.areal_interpolate(source, target, ["val"], res=5,
                               mode="extensive", quantize=1.0 / 12e6)
    return out.select("fid", F.round("val", 6).alias("val"))


def q_areal_interp_intensive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intensive areal interpolation: piece-area-weighted mean of a
    density attribute onto the target zones (same quantized-int64 sums)."""
    from lib_gdal_spark.operators import layer_algebra as LA

    source, target = _areal_layers(spark, sf_dir)
    out = LA.areal_interpolate(source, target, ["val"], res=5,
                               mode="intensive", quantize=1e-6)
    return out.select("fid", F.round("val", 6).alias("val"))


def _q_warp_stat(alg: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        tiles = RS.fixture_rasters(spark)
        out = RAST.warp_to_mercator_tiles_dist(tiles, z=2, alg=alg, tile=64,
                                               raster_id="world4326")
        return _explode_px(out).select(
            "px", "py", F.col("v").cast("long").alias("v")
        )
    q.__doc__ = (f"gdalwarp aggregate resampling '{alg}' "
                 "(GWKAverageOrMode, gdalwarpkernel.cpp:5696)")
    return q


def _q_warp_kernel(alg: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        tiles = RS.fixture_rasters(spark)
        out = RAST.warp_to_mercator_tiles_dist(tiles, z=2, alg=alg, tile=64,
                                               raster_id="world4326")
        return _explode_px(out).select(
            "px", "py", F.col("v").cast("long").alias("v")
        )
    q.__doc__ = f"gdalwarp '{alg}' convolution kernel (gdalwarpkernel.cpp)"
    return q


q_warp_cubic_z2 = _q_warp_kernel("cubic")
q_warp_cubicspline_z2 = _q_warp_kernel("cubicspline")
q_warp_lanczos_z2 = _q_warp_kernel("lanczos")

q_warp_average_z2 = _q_warp_stat("average")
q_warp_median_z2 = _q_warp_stat("median")
q_warp_q3_z2 = _q_warp_stat("q3")
q_warp_mode_z2 = _q_warp_stat("mode")
q_warp_max_z2 = _q_warp_stat("maximum")
q_warp_sum_z2 = _q_warp_stat("sum")
q_warp_rms_z2 = _q_warp_stat("rms")


def q_sieve_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sieve filter (gdalsievefilter.cpp:200): the sub-threshold pentagon
    dissolves into the background; per-value pixel counts are oracle-exact."""
    from lib_gdal_spark.operators import rasterize as RZ
    from lib_gdal_spark.operators import sieve as SV

    grid = RZ.world_grid(256, 256, 64)
    tiles = RZ.rasterize_polygons(_raster_polys_df(spark), grid, dense=True)
    out = SV.sieve(tiles, spark, grid_w=256, threshold=500, tile=64)
    return (
        out.select(F.explode("pixels").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_pixels"))
    )


def q_fillnodata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill nodata (rasterfill.cpp): value-150 pixels of world4326 become
    the hole; IDW(power 2, radius 6) from the remaining pixels fills them."""
    from collections.abc import Iterator as _It

    from lib_gdal_spark.operators import fillnodata as FN

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")

    def punch(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            b = b.copy()
            b["pixels"] = b["pixels"].map(
                lambda p: np.where(
                    (a := np.asarray(p, dtype=np.float64)) == 150.0,
                    -9999.0, a,
                )
            )
            b["nodata"] = -9999.0
            yield b

    holed = tiles.mapInPandas(punch, schema=RS.RASTER_SCHEMA)
    out = FN.fillnodata(holed, max_dist=6.0, nodata=-9999.0, tile=64)
    ex = _explode_px(out)
    return ex.select("px", "py", F.round("v", 4).alias("v"))


def q_pansharpen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-Brovey pansharpen (gdalpansharpen.cpp:416-460) — pivot +
    zip_with arithmetic, zero Python."""
    from lib_gdal_spark.operators import pansharpen as PS

    tiles = RS.multiband_tiles(spark)
    out = PS.pansharpen(tiles, spectral_bands=[1, 2, 3], pan_band=4)
    ex = out.select(
        "band", "tile_x", "tile_y", "tile_w",
        F.posexplode("pixels").alias("pos", "v"),
    )
    px = (F.col("tile_x") * 64 + F.col("pos") % F.col("tile_w")).cast("long")
    py = (F.col("tile_y") * 64
          + (F.col("pos") / F.col("tile_w")).cast("int")).cast("long")
    return ex.select("band", px.alias("px"), py.alias("py"),
                     F.round("v", 6).alias("v"))


def q_least_cost_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-cost path (r.drain analog) from the nearest of three seeds
    to (10, 35) over the world4326 [1,40]^2 cost window: deterministic
    predecessor tree (ties break to the smallest predecessor id), then
    a log-round jump-table backtrack. The oracle re-derives the same
    prev tree from the relaxation fixpoint (row_number over exact
    du + w = dv matches) and walks it with a recursive CTE."""
    from lib_gdal_spark.operators.proximity import least_cost_path

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return least_cost_path(tiles, [(5, 5), (38, 20), (20, 38)], (10, 35),
                           lo=1, hi=40)


def q_cost_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulated cost distance (GRASS r.cost analog — proximity's
    weighted generalization) over world4326 [1,40]^2 from three seeds:
    grid-graph edges weighted (cu+cv)/2 (x sqrt(2) diagonal), then the
    multi-source Bellman-Ford relaxation to fixpoint (37 synchronous
    rounds here). The oracle unrolls 44 relaxation rounds over the
    identical edges; every path sum folds left-to-right in both
    engines, so the fixpoint minima are bit-identical before the 9-dp
    round."""
    from lib_gdal_spark.operators.proximity import cost_distance

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return cost_distance(tiles, [(5, 5), (38, 20), (20, 38)], lo=1, hi=40)


def q_cost_corridor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-cost corridor (ArcGIS Corridor tool semantics): per cell,
    accumulated cost to the nearest A-seed PLUS to the nearest B-seed,
    over the same world4326 [1,40]^2 cost window as cost_distance. The
    raster min of ``corridor`` is the least A->B path cost; thresholding
    at min+delta yields the routing envelope. Pure composition of two
    cost_distance fixpoints joined on the cell key — the oracle unrolls
    both relaxation chains (60 rounds each, fixpoint earlier) over the
    identical (cu+cv)/2 x sqrt(2) grid-graph edges."""
    from lib_gdal_spark.operators.proximity import cost_corridor

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return cost_corridor(tiles, [(5, 5), (20, 38)], [(38, 20)], lo=1, hi=40)


def q_cost_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost allocation (weighted-Voronoi partition by accumulated cost)
    over the same world4326 [1,40]^2 window and three seeds as
    cost_distance: the relaxation carries (dist, seed) with the
    lexicographic struct minimum (cost ties to the smallest seed key).
    The oracle unrolls the same 44 rounds with a per-round
    (dist, seed) row_number argmin."""
    from lib_gdal_spark.operators.proximity import cost_allocation

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return cost_allocation(tiles, [(5, 5), (38, 20), (20, 38)],
                           lo=1, hi=40)


def q_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity raster (gdalproximity.cpp): exact distance to the nearest
    value-150 pixel of world4326, bounded at 10 px."""
    from lib_gdal_spark.operators import proximity as PX

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = PX.proximity(tiles, target_values=[150.0], max_dist=10.0)
    return _explode_px(out).select(
        "px", "py", F.round("v", 6).alias("dist")
    )


def q_proximity_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean allocation (GRASS r.grow.distance value= semantics; the
    companion of gdalproximity.cpp's distance output): every world4326
    pixel gets the VALUE of its nearest target pixel (targets = values
    100/150), bounded at 12 px. Nearest-target choice is an exact
    int64 argmin over the packed key d2*2^32 + ty*2^16 + tx, so ties
    are deterministic and the oracle's arg_min reproduces them."""
    from lib_gdal_spark.operators import proximity as PX

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = PX.allocation(tiles, target_values=[100.0, 150.0], max_dist=12.0)
    return out.select("px", "py", "alloc", "d2")


def q_layer_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR layer-algebra Erase (ogrlayer.cpp:4079): convex-difference
    decomposition; remaining areas oracle-checked closed-form."""
    from collections.abc import Iterator as _It

    from lib_gdal_spark.operators import layer_algebra as LA

    pts = _points(spark, sf_dir)

    def boxes(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            rows = []
            for pid, lon, lat in zip(b["pid"], b["lon"], b["lat"]):
                ring = G.box_ring(lon - 2.0, lat - 1.5, lon + 2.0, lat + 1.5)
                rows.append({"fid": pid, "geom_wkb": G.wkb_polygon([ring])})
            yield pd.DataFrame(rows, columns=["fid", "geom_wkb"])

    inputs = pts.mapInPandas(boxes, schema="fid long, geom_wkb binary")
    methods = local_df(
        spark,
        [(mid, bytearray(G.wkb_polygon([G.box_ring(*bb)])))
         for mid, bb in METHOD_BOXES.items()],
        "fid long, geom_wkb binary",
    )
    out = LA.erase(inputs, methods)
    return out.select("in_fid", F.round("area", 6).alias("area")).where(
        F.col("area") > 0.0
    )


def q_pyramid_mode_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE overview step (overview.cpp:1038; smallest-wins ties)."""
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "gradient256")
    lvl1 = RAST.pyramid_level(tiles, alg="mode", tile=64)
    return _explode_px(lvl1).select("px", "py", F.col("v").cast("long").alias("v"))


def q_pyramid_gauss_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAUSS overview step (1-2-1 kernel; per-parent-mosaic edges, no halo
    — boundary taps clip at each 128px parent window, mirrored in SQL)."""
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "gradient256")
    lvl1 = RAST.pyramid_level(tiles, alg="gauss", tile=64)
    return _explode_px(lvl1).select("px", "py", F.col("v").cast("long").alias("v"))


def q_contour_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares contour (contour.cpp) on world4326: the distinct
    segment endpoints are exactly the iso-level edge crossings, which the
    oracle recomputes per grid edge in SQL."""
    from lib_gdal_spark.operators import contour as CO

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    segs = CO.contour_segments(tiles, [128.5, 150.5])
    p1 = segs.select("level", F.col("x1").alias("x"), F.col("y1").alias("y"))
    p2 = segs.select("level", F.col("x2").alias("x"), F.col("y2").alias("y"))

    # explicit floor(x*1e6+0.5)/1e6: crossing coords can land exactly on
    # half-way rounding boundaries where Spark (HALF_UP) and DuckDB
    # disagree; this formula is identical IEEE in both engines.
    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    return (
        p1.unionByName(p2)
        .select("level", r6(F.col("x")).alias("x"), r6(F.col("y")).alias("y"))
        .distinct()
    )


def q_pyramid_avg_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One AVERAGE pyramid step on gradient256 (overview.cpp:352 with
    integer round-half-up), children->parent groupBy reduce."""
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "gradient256")
    lvl1 = RAST.pyramid_level(tiles, alg="average", tile=64)
    return _explode_px(lvl1).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_pyramid_rms_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One RMS pyramid step on gradient256 (overview.cpp "RMS" QuadraticMean,
    GDAL >= 3.3): sqrt(mean(v^2)) per 2x2 box, round half-up."""
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "gradient256")
    lvl1 = RAST.pyramid_level(tiles, alg="rms", tile=64)
    return _explode_px(lvl1).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_bilinear_z2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp bilinear (triangle kernel r=1 around srcX-0.5,
    gdalwarpkernel.cpp:3054) to web-mercator z2."""
    tiles = RS.fixture_rasters(spark)
    out = RAST.warp_to_mercator_tiles_dist(tiles, z=2, alg="bilinear", tile=64,
                                           raster_id="world4326")
    return _explode_px(out).select("px", "py", F.col("v").cast("long").alias("v"))


# ---------------------------------------------------------------------------
# queries: document text fingerprint
# ---------------------------------------------------------------------------


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select("doc_id", F.md5(norm).alias("fp"))


def q_layer_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogrdissolve: per-group union of overlapping boxes (even-odd
    boolean fold) — union areas closed-form (two w x 2 boxes overlapping
    by 2 -> area 4w - 4)."""
    from lib_gdal_spark.operators.layer_algebra import dissolve

    def boxes(batches):
        for b in batches:
            rows = []
            for g in b["id"]:
                g = int(g)
                w = 4.0 + g % 3
                x0 = 10.0 * g
                rows.append((g, G.wkb_polygon(
                    [G.box_ring(x0, 0.0, x0 + w, 2.0)])))
                rows.append((g, G.wkb_polygon(
                    [G.box_ring(x0 + w - 2.0, 0.0, x0 + 2 * w - 2.0, 2.0)])))
            yield pd.DataFrame(rows, columns=["grp", "geom_wkb"])

    layer = spark.range(50).mapInPandas(
        boxes, schema="grp long, geom_wkb binary")
    out = dissolve(layer, "grp")
    return out.select("grp", F.round("area", 6).alias("area"), "n_parts") \
        .orderBy("grp")


def q_cell_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-style cell-set compaction (minimal quadtree cover): fully
    present sibling quads cascade into parents — per level one
    keys-only groupBy, pure JVM bit math."""
    from lib_gdal_spark.functions import cells as C

    pts = _points(spark, sf_dir)
    cells = pts.select(
        C.cell_expr(F.col("lon"), F.col("lat"), 6).alias("cell")
    ).distinct()
    return C.compact_cells(cells).orderBy("cell")


def q_s2_ring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 cell-covering expansion join (north rule): all point pairs within
    80 km via own-cell + 8 cross-face-wrapped ring-1 neighbors at level 6;
    the brute-force cross join is the oracle, so COMPLETENESS (no pair
    missed at face edges/corners) is what the gate checks."""
    from lib_gdal_spark.operators import knn as KN

    pts = _points(spark, sf_dir)
    return KN.s2_ring_pairs(pts, max_km=80.0, level=6)


def q_s2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-style cell ids at level 12 (cube face + quadratic ST + Hilbert):
    the second index family of the north rule's "H3/S2". The oracle spells
    the whole chain — sphere->face->uv->st->ij->12-step Hilbert — in SQL."""
    from lib_gdal_spark.functions import s2cells as S2

    pts = _points(spark, sf_dir)
    out = S2.with_s2_cell(pts, level=12, out_col="cell")
    face, pos = S2._face_pos(F.col("cell"), 12)
    return out.select("pid", face.alias("face"), pos.alias("pos"), "cell")


def q_s2_parent_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 hierarchy: level-12 cells roll up to level-6 parents by pure bit
    math (Hilbert prefix property); the oracle recomputes level-6 cells
    INDEPENDENTLY from the coarser ij grid, so the rollup identity is what
    is actually being checked."""
    from lib_gdal_spark.functions import s2cells as S2

    pts = _points(spark, sf_dir)
    out = S2.with_s2_cell(pts, level=12, out_col="cell")
    parent = S2.s2_parent(F.col("cell"), 12, 6)
    return (
        out.select(parent.alias("parent"), "cell")
        .groupBy("parent")
        .agg(F.count(F.lit(1)).alias("n_points"),
             F.countDistinct("cell").alias("n_cells"))
    )


def q_great_circle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR great-circle navigation (ogr_geo_utils.cpp:55,72,135): spherical
    distance, initial heading, and dead-reckoned position, all as JVM
    column expressions with the reference's exact constants and guards."""
    from lib_gdal_spark.functions import greatcircle as GC

    pts = _points(spark, sf_dir)
    lat_b = F.col("lat") * 0.5 + 10.0
    lon_b = F.col("lon") * 0.5 + 20.0
    d = GC.great_circle_distance(F.col("lat"), F.col("lon"), lat_b, lon_b)
    h = GC.great_circle_initial_heading(F.col("lat"), F.col("lon"),
                                        lat_b, lon_b)
    pos = GC.great_circle_extend_position(F.col("lat"), F.col("lon"), d, h)
    return pts.select(
        "pid",
        F.round(d, 2).alias("dist_m"),
        F.round(h, 6).alias("heading"),
        F.round(pos["lat"], 6).alias("lat_b"),
        F.round(pos["lon"], 6).alias("lon_b"),
    )


def q_vincenty_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vincenty inverse geodesic distance on the WGS84 ellipsoid
    (Vincenty 1975; beyond the reference's spherical-only
    ogr_geo_utils.cpp) over the same A->B pairs as great_circle. The
    lambda fixed point is a FIXED 10-step unroll (withColumn chain in
    Spark, CTE ladder in the oracle) so both engines run identical IEEE
    op sequences regardless of convergence."""
    from lib_gdal_spark.functions import greatcircle as GC

    pts = _points(spark, sf_dir)
    df = pts.select(
        "pid", F.col("lat").alias("la"), F.col("lon").alias("loa"),
        (F.col("lat") * 0.5 + 10.0).alias("lb"),
        (F.col("lon") * 0.5 + 20.0).alias("lob"),
    )
    out = GC.with_vincenty(df, "la", "loa", "lb", "lob", "vm")
    return out.select("pid", F.round("vm", 3).alias("dist_m"))


def q_geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash base-32 Morton prefix codes (Niemeyer 2008; the string
    spatial key companion of the repo's tile/Z-order/Hilbert/S2 keys):
    encode at precision 12 + 6, decode back to the cell center — all
    pure JVM bit math (the zorder spread-bits magic), no UDF. The oracle
    spells the same spread chain and alphabet lookups in SQL, and its
    center comes from the pre-interleave quantized coords, so equality
    proves encode AND decode invert exactly."""
    from lib_gdal_spark.functions import cells as C

    pts = _points(spark, sf_dir)
    gh12 = C.geohash_encode(F.col("lon"), F.col("lat"), 12)
    out = pts.select("pid", gh12.alias("gh12"),
                     C.geohash_encode(F.col("lon"), F.col("lat"), 6)
                     .alias("gh6"))
    dec = C.geohash_decode(F.col("gh12"), 12)
    return out.select(
        "pid", "gh12", "gh6",
        F.round(dec["lon"], 9).alias("center_lon"),
        F.round(dec["lat"], 9).alias("center_lat"),
    )


def q_hexbin_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Axial hexagonal binning (cube-rounding construction) — the
    hex-grid companion of the repo's geohash/quadkey/Hilbert/S2 keys,
    H3-style aggregation without the icosahedral projection: every op is
    +,-,*,/ / floor / abs, so the DuckDB oracle replays the identical
    IEEE sequence and the integer cell ids match bit-for-bit. Bins the
    synthetic point cloud at a coarse (R=4 deg) and fine (R=0.5 deg)
    resolution, then reports per-coarse-cell point count, distinct fine
    cells occupied, and the exact lattice center. GroupBy on integer
    (q, r) keys is a plain combinable hash aggregate — one keys-only
    shuffle at any scale."""
    from lib_gdal_spark.functions import cells as C

    pts = _points(spark, sf_dir)
    coarse = C.hex_axial_expr(F.col("lon"), F.col("lat"), 4.0)
    fine = C.hex_axial_expr(F.col("lon"), F.col("lat"), 0.5)
    d = pts.select(
        coarse["q"].alias("hq"), coarse["r"].alias("hr"),
        (fine["q"] * 100000 + fine["r"]).alias("fk"))
    out = d.groupBy("hq", "hr").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.countDistinct("fk").alias("n_fine"))
    cx, cy = C.hex_center_expr(F.col("hq"), F.col("hr"), 4.0)
    return out.select(
        "hq", "hr", "n_points", "n_fine",
        F.round(cx, 9).alias("center_lon"),
        F.round(cy, 9).alias("center_lat"))


def q_toponym_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer toponym resolution (geotagging): dictionary place-name
    mentions extracted from document text, each document resolved to its
    most-populous matched place (population-prior baseline), and the
    resolved location keyed into the axial hex grid. The gazetteer here
    derives deterministically from the corpus vocabulary (no external
    fixture); in production it is a broadcast GeoNames-style dim table
    of the same schema. Tokenize is a narrow map, the gazetteer join is
    broadcast, disambiguation is one doc_id-keyed window — the only
    shuffles are keys-only."""
    from lib_gdal_spark.functions import cells as C
    from lib_gdal_spark.operators import toponym as T

    docs = _t(spark, sf_dir, "documents")
    gaz = T.corpus_gazetteer(docs)
    res = T.toponym_resolve(docs, gaz)
    h = C.hex_axial_expr(F.col("lon"), F.col("lat"), 4.0)
    return res.select(
        "doc_id", "place", "pop", "lat", "lon", "n_mentions", "n_places",
        h["q"].alias("hq"), h["r"].alias("hr"))


def q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot change detection over the input-hint (url,
    warc_ts) shape: three synthetic crawls of the documents corpus
    (each crawl drops (doc_id+c)%11==0 urls; doc_id%4==0 pages change
    content every crawl via an md5 version salt), classified per row as
    new/changed/unchanged by a url-keyed lag window, plus 'gone' rows
    for urls absent from the final crawl. md5 is identical across
    engines, so the oracle replays the exact same hashes."""
    from lib_gdal_spark.operators import snapshots as S

    return S.snapshot_delta(_snaps_fixture(spark, sf_dir), last_crawl=2)


def _snaps_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl_delta snapshot fixture, shared with url_history."""
    docs = _t(spark, sf_dir, "documents")
    return (docs
            .select("doc_id", "text",
                    F.explode(F.sequence(F.lit(0), F.lit(2)))
                    .alias("crawl"))
            .filter((F.col("doc_id") + F.col("crawl")) % 11 != 0)
            .select(
                F.concat(F.lit("https://ex.com/"),
                         F.col("doc_id").cast("string")).alias("url"),
                "crawl",
                F.md5(F.concat(
                    F.col("text"), F.lit("|"),
                    F.when(F.col("doc_id") % 4 == 0, F.col("crawl"))
                    .otherwise(F.lit(0)).cast("string")))
                .alias("content_hash")))


def q_url_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals over the same three-crawl fixture as
    crawl_delta: consecutive same-hash captures collapse to one
    (url, version, content_hash, from_crawl, to_crawl, n_captures,
    is_current) row — the time-travel side of snapshot change
    detection. Pure url-keyed windows, identical SQL in the oracle."""
    from lib_gdal_spark.operators import snapshots as S

    return S.snapshot_intervals(_snaps_fixture(spark, sf_dir))


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (deterministic min-tie synchronous
    LPA, 4 rounds) on a planted-partition graph: 15 blocks of 20 nodes,
    each block a degree-8 circulant (+1..+4 chords), blocks joined in a
    sparse ring by one bridge edge each. LPA recovers the 15 blocks
    EXACTLY (purity 1.0) while connected components would see ONE
    component — asserted in tests/test_lpa.py. Oracle unrolls the
    vote/count/rank rounds."""
    from lib_gdal_spark.operators import graph as GG

    r = spark.range(0, 300)
    blk = F.floor(F.col("id") / 20)
    e = None
    for d in (1, 2, 3, 4):
        ed = r.select(F.col("id").alias("u"),
                      (blk * 20 + (F.col("id") + d) % 20).alias("v"))
        e = ed if e is None else e.unionByName(ed)
    bridges = r.where(F.col("id") % 20 == 0).select(
        F.col("id").alias("u"), ((F.col("id") + 20) % 300).alias("v"))
    return GG.lpa_communities(e.unionByName(bridges))


def q_jsonld_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-metadata geocoordinate mining: every third document
    carries a schema.org Place JSON-LD block (integer micro-degree
    coordinates), every third+1 a non-Place block, the rest none; the
    operator extracts the script body, keeps Place geo only, and
    assigns the axial hex cell. The oracle runs the SAME regex + JSON
    path in DuckDB (both engines' behavior pinned in pytest)."""
    from lib_gdal_spark.operators.geo import jsonld_geo

    d = _t(spark, sf_dir, "documents")
    lat_i = ((F.col("doc_id") * 104729) % 1700000 - 850000).cast("long")
    lon_i = ((F.col("doc_id") * 7919) % 3600000 - 1800000).cast("long")
    place = F.concat(
        F.lit('<html><head><script type="application/ld+json">'
              '{"@type":"Place","geo":{"latitude":'),
        lat_i.cast("string"), F.lit(',"longitude":'),
        lon_i.cast("string"),
        F.lit('}}</script></head><body>x</body></html>'))
    article = F.lit(
        '<html><head><script type="application/ld+json">'
        '{"@type":"Article","headline":"h"}</script></head></html>')
    none = F.lit("<html><body>plain</body></html>")
    pages = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, place)
        .when(F.col("doc_id") % 3 == 1, article)
        .otherwise(none).alias("html"))
    return jsonld_geo(pages, id_col="doc_id")


def q_hex_kring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex k-ring expansion pair join (H3-style kRing on the axial
    lattice): every point pair within 0.45 deg found through a 7-cell
    ring-1 covering join at R=0.5 — never a cross product. The oracle
    is the brute-force cross join, so equality PROVES the ring-1
    covering is complete (max_dist < circumradius bound)."""
    from lib_gdal_spark.operators.knn import hex_ring_pairs

    # compress the Kronecker point cloud 4x per axis so the 0.45-deg
    # radius actually captures pairs (9,081 at sf0.01)
    pts = _points(spark, sf_dir).select(
        "pid", (F.col("lon") / 4.0).alias("lon"),
        (F.col("lat") / 4.0).alias("lat"))
    return hex_ring_pairs(pts, max_dist=0.45, size=0.5)


def _skewed_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """City-skew fixture: 80% of points pile into cell 0, the rest
    spread over cells 1..99 — the hot-key shape the north rule's
    salting clause targets."""
    pts = _points(spark, sf_dir)
    return pts.select(
        "pid", "lon", "lat",
        F.when(F.col("pid") % 5 != 0, F.lit(0))
        .otherwise(F.col("pid") % 100).cast("long").alias("cell"))


def q_salted_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-cell salted join (the north rule's cell-key salting made
    first-class): the 80%-in-one-cell point table joins a 100-row cell
    dim through skew.salted_join (n_salt=8 — the big side salts on a
    row hash, the dim replicates 8x), spreading the hot cell across 8
    shuffle partitions. The oracle is the PLAIN join, so equality
    proves salting is semantically invisible."""
    from lib_gdal_spark.operators.skew import salted_join

    pts = _skewed_cells(spark, sf_dir)
    dim = spark.range(0, 100).select(
        F.col("id").alias("cell"),
        (F.col("id") * 31 % 97).alias("zone"),
        F.concat(F.lit("region-"), (F.col("id") % 7).cast("string"))
        .alias("region"))
    out = salted_join(pts.select("pid", "cell"), dim, "cell", n_salt=8)
    return out.select("pid", "cell", "zone", "region")


def q_hot_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key detection over the same skewed fixture: cells whose row
    count exceeds 10x the mean cell count (one combinable aggregation
    pass) — the trigger side of the salting remedy."""
    from lib_gdal_spark.operators.skew import detect_hot_keys

    return detect_hot_keys(_skewed_cells(spark, sf_dir), "cell",
                           threshold_ratio=10.0)


def q_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed DBSCAN (eps=0.2, min_pts=3) over the 8x-compressed
    point lattice: (pid, role core/border/noise, cluster = min core id
    of the density-connected component, NULL for noise). At sf0.01 the
    mix is 8,175 cores / 889 components (max size 10) — the oracle
    unrolls min-label propagation to a fixed 12 rounds, which the <=10
    component size makes provably convergent (diameter <= 9)."""
    from lib_gdal_spark.operators.cluster import dbscan

    pts = _points(spark, sf_dir).select(
        "pid", (F.col("lon") / 8.0).alias("lon"),
        (F.col("lat") / 8.0).alias("lat"))
    return dbscan(pts, eps=0.2, min_pts=3, size=0.25)


def q_st_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST-DBSCAN (Birant & Kut 2007) over the same compressed lattice
    with event timestamps: neighbours must be within eps_s=0.2 AND 4
    days (exact microsecond filter); the time predicate only removes
    edges, so the dbscan oracle's 12-round min-label convergence bound
    still holds. Returns (pid, role, cluster)."""
    from lib_gdal_spark.operators.cluster import st_dbscan

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("pid"), "ts")
    pts = _points(spark, sf_dir).select(
        "pid", (F.col("lon") / 8.0).alias("lon"),
        (F.col("lat") / 8.0).alias("lat")).join(ev, "pid")
    return st_dbscan(pts, eps_s=0.2, eps_t_s=4 * 86400.0, min_pts=3,
                     size=0.25)


def q_polyline_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Google Encoded Polyline Format over the point lattice bucketed
    into 200 tracks (line = pid % 200, vertex order = pid): quantize ->
    delta -> zigzag -> 5-bit varint chunks, all JVM column math; the
    oracle spells the identical shift/mask/substr arithmetic and
    string_agg's in the same vertex order, so equality proves the wire
    bytes. Spec worked example anchored in tests/test_polyline.py."""
    from lib_gdal_spark.functions.polyline import polyline_encode

    pts = _points(spark, sf_dir).select(
        (F.col("pid") % 200).alias("line_id"), F.col("pid").alias("seq"),
        "lon", "lat")
    return polyline_encode(pts)


def q_rhumb_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loxodrome distance + constant compass bearing (the navigation
    companion of the reference's great-circle trio, beyond
    ogr_geo_utils.cpp): inverse-Mercator dpsi form with short-way
    antimeridian wrap, pure JVM column math over the same A->B pairs as
    the great_circle query; the oracle spells the identical expressions."""
    from lib_gdal_spark.functions import greatcircle as GC

    pts = _points(spark, sf_dir)
    lat_b = F.col("lat") * 0.5 + 10.0
    lon_b = F.col("lon") * 0.5 + 20.0
    d = GC.rhumb_distance(F.col("lat"), F.col("lon"), lat_b, lon_b)
    b = GC.rhumb_bearing(F.col("lat"), F.col("lon"), lat_b, lon_b)
    return pts.select(
        "pid",
        F.round(d, 2).alias("dist_m"),
        F.round(b, 6).alias("bearing"),
    )


def q_mgrs_polar_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polar MGRS (UPS A/B/Y/Z lettering; GEOTRANS scheme, constant
    table + skip rules from the public GEOTRANS source the reference
    vendors at drivers/raster/nitf/mgrs.c:222,900,1007 — closes the
    round-4 TODO #7 now that the verbatim table is available). Encode
    synthetic in-cap UPS coordinates at 1 m precision, decode the
    string back; the output carries the DECODED easting/northing, so
    equality with the oracle's raw synthesis proves encode and the
    string decode invert exactly. The UPS projection itself is gated
    separately (warp_ups_nearest / warp_ps_nearest)."""
    import numpy as np
    from lib_gdal_spark.functions import cells as C

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_id").alias("pid"),
        (F.col("event_id") % 2 == 0).alias("north"),
        F.when(F.col("event_id") % 2 == 0,
               (F.col("event_id") * 9973) % 1320000 + 1340000)
         .otherwise((F.col("event_id") * 9973) % 2200000 + 900000)
         .alias("e_in"),
        F.when(F.col("event_id") % 2 == 0,
               (F.col("event_id") * 104729) % 1320000 + 1340000)
         .otherwise((F.col("event_id") * 104729) % 2200000 + 900000)
         .alias("n_in"),
    )

    def enc(batches):
        for b in batches:
            if not len(b):
                continue
            north = b["north"].to_numpy(dtype=bool)
            E = b["e_in"].to_numpy(np.float64)
            N = b["n_in"].to_numpy(np.float64)
            codes = C.mgrs_polar_from_ups(north, E, N, precision=5)
            nb, Eb, Nb = C.mgrs_polar_to_ups(codes, precision=5)
            yield pd.DataFrame({
                "pid": b["pid"], "mgrs": codes.astype(str),
                "north": nb,
                "easting": Eb.astype(np.int64),
                "northing": Nb.astype(np.int64),
            })

    return base.mapInPandas(
        enc, schema="pid long, mgrs string, north boolean, "
                    "easting long, northing long")


def q_mgrs_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MGRS (NGA TM 8358.1 / GEOTRANS MGRS.c) — the NATO alphabetic key
    over UTM coordinates, companion of the repo's geohash/tile/Hilbert/S2
    string+integer keys: encode at 1 m and 100 m precision, then decode
    the 1 m reference back (zone/band/easting + the northing resolved
    across the 2,000 km row-letter cycle with the GEOTRANS band-minimum
    table). All lettering is pure JVM integer/substr math, no UDF; the
    oracle spells the identical arithmetic, and its decode column comes
    from closed-form congruence math (not string parsing), so equality
    proves encode AND the string-parse decode invert exactly."""
    from lib_gdal_spark.functions import cells as C

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_id").alias("pid"),
        ((F.col("event_id") * 7) % 60 + 1).alias("zone"),
        ((F.col("event_id") * 13) % 20).alias("band_idx"),
        ((F.col("event_id") * 9973) % 800000 + 100000).alias("easting"),
        ((F.col("event_id") * 104729) % 9000000).alias("northing"),
    )
    enc = base.select(
        "pid", "zone", "band_idx", "easting", "northing",
        C.mgrs_encode(F.col("zone"), F.col("band_idx"),
                      F.col("easting"), F.col("northing"), 5).alias("m5"),
        C.mgrs_encode(F.col("zone"), F.col("band_idx"),
                      F.col("easting"), F.col("northing"), 3).alias("m3"),
    )
    dec = enc.select("pid", "m5", "m3",
                     C.mgrs_decode(F.col("m5"), 5).alias("d"))
    return dec.select(
        "pid", "m5", "m3",
        F.col("d.zone").alias("d_zone"),
        F.col("d.band_idx").alias("d_band"),
        F.col("d.easting").alias("d_east"),
        F.col("d.northing").alias("d_north"),
    )


def q_plus_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open Location Codes (Google's open "plus codes" spec) — the third
    string spatial key beside geohash and MGRS: 10-char (1/8000° cell)
    and 11-char (4x5 grid refinement) encode, then decode the 10-char
    code back to its cell center. Pure JVM base-20 quantization math, no
    UDF; the oracle spells the identical digit/substr arithmetic and
    derives the center from the pre-encode quantized values, so equality
    proves encode AND the string-parse decode invert exactly. Anchored
    in pytest to the spec's published Zurich example 8FVC9G8F+6X."""
    from lib_gdal_spark.functions import cells as C

    pts = _points(spark, sf_dir)
    enc = pts.select(
        "pid",
        C.olc_encode(F.col("lon"), F.col("lat"), 10).alias("olc10"),
        C.olc_encode(F.col("lon"), F.col("lat"), 11).alias("olc11"),
    )
    dec = enc.select("pid", "olc10", "olc11",
                     C.olc_decode(F.col("olc10"), 10).alias("d"))
    return dec.select(
        "pid", "olc10", "olc11",
        F.round(F.col("d.lat_c"), 9).alias("clat"),
        F.round(F.col("d.lon_c"), 9).alias("clon"),
    )


def q_quadkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bing-maps quadkeys (the published Microsoft tile-system string
    key) over the engine's web-mercator tile grid: encode z12, the z9
    parent via the 9-char PREFIX property (checked against re-encoding
    the right-shifted tile), and decode back. Pure JVM bit/substr math;
    the oracle spells the identical digit chain with DuckDB bit ops."""
    from lib_gdal_spark.functions import cells as C

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_id").alias("pid"),
        ((F.col("event_id") * 37) % 4096).alias("tx"),
        ((F.col("event_id") * 59) % 4096).alias("ty"),
    )
    enc = base.select(
        "pid", "tx", "ty",
        C.quadkey_encode(12, F.col("tx"), F.col("ty")).alias("qk12"),
        C.quadkey_encode(
            9, F.shiftright(F.col("tx"), 3), F.shiftright(F.col("ty"), 3)
        ).alias("qk9"),
    )
    dec = enc.select("pid", "qk12", "qk9",
                     C.quadkey_decode(F.col("qk12"), 12).alias("d"))
    return dec.select(
        "pid", "qk12", "qk9",
        F.col("d.x").alias("dx"), F.col("d.y").alias("dy"),
    )


_GEOD_TH = 2.0 * math.pi / 12.0


def q_gc_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rest of the aviation formulary (Ed Williams) beyond the
    reference's distance/heading/extend: great-circle INTERMEDIATE
    points (slerp), signed CROSS-TRACK and ALONG-TRACK distances —
    pure JVM column math over the same deterministic A->B pairs as
    great_circle, with P a third derived point; the oracle spells the
    identical expressions (same clamps, same constant derivations)."""
    from lib_gdal_spark.functions import greatcircle as GC

    pts = _points(spark, sf_dir)
    la, loa = F.col("lat"), F.col("lon")
    lb = F.col("lat") * 0.5 + 10.0
    lob = F.col("lon") * 0.5 + 20.0
    lp = F.col("lat") * 0.25 + 5.0
    lop = F.col("lon") * 0.75 + 8.0
    mid = GC.gc_intermediate_point(la, loa, lb, lob, F.lit(0.25))
    # stage the shared building blocks ONCE (the generic
    # cross/along_track helpers each recompute distance+headings; that
    # cost the suite its new slowest query — same arithmetic, so the
    # oracle is untouched)
    c1 = pts.select(
        "pid", mid.alias("m"),
        (GC.great_circle_distance(la, loa, lp, lop)
         * GC.METER2RAD).alias("d_ap"),
        GC.great_circle_initial_heading(la, loa, lp, lop).alias("h_ap"),
        GC.great_circle_initial_heading(la, loa, lb, lob).alias("h_ab"),
        F.rand(42).alias("_nd"),  # collapse barrier (see with_vincenty)
    )
    c2 = c1.select(
        "pid", "m", "d_ap",
        (F.asin(F.least(F.greatest(
            F.sin(F.col("d_ap"))
            * F.sin(F.radians(F.col("h_ap")) - F.radians(F.col("h_ab"))),
            F.lit(-1.0)), F.lit(1.0))) * GC.RAD2METER).alias("xtd"),
        F.rand(42).alias("_nd2"),
    )
    d = c2.select(
        "pid", "m", "xtd",
        (F.acos(F.least(F.greatest(
            F.cos(F.col("d_ap"))
            / F.cos(F.col("xtd") * GC.METER2RAD),
            F.lit(-1.0)), F.lit(1.0))) * GC.RAD2METER).alias("atd"),
    )
    return d.select(
        "pid",
        F.round(F.col("m.lat"), 9).alias("mid_lat"),
        F.round(F.col("m.lon"), 9).alias("mid_lon"),
        F.round("xtd", 3).alias("xtd_m"),
        F.round("atd", 3).alias("atd_m"),
    )


def q_rhumb_destination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct rhumb-line problem (dead-reckoning on a constant compass
    course — the loxodrome counterpart of the reference's
    ExtendPosition): standard direct form with the isometric-latitude
    q-guard and (-180, 180] wrap; the oracle spells the identical
    expressions (pi()/4 and 2*pi() are exact power-of-two scalings)."""
    from lib_gdal_spark.functions import greatcircle as GC

    pts = _points(spark, sf_dir)
    b = ((F.col("pid") * 7) % 360).cast("double") + 0.5
    # cap the leg so no track dead-reckons past a pole (max lat 85
    # + 400.5 km = 3.6 deg < 90): the direct form is undefined beyond
    dist = ((F.col("pid") % 400) * 1000).cast("double") + 500.0
    dest = GC.rhumb_destination(F.col("lat"), F.col("lon"), b, dist)
    return pts.select(
        "pid", dest.alias("p"),
    ).select(
        "pid",
        F.round(F.col("p.lat"), 9).alias("dlat"),
        F.round(F.col("p.lon"), 9).alias("dlon"),
    )


def q_geodesic_ring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical polygon area + perimeter per ring (beyond the reference —
    its ogr_geo_utils.cpp stops at distance/heading): the exact
    Bevis & Cambareri (1987) edge-excess sum and the great-circle
    perimeter over 200 synthetic 12-gon rings. Pure JVM column math,
    one combinable groupBy; the oracle spells the identical edge terms."""
    from lib_gdal_spark.functions import greatcircle as GC

    nv = 12
    ids = spark.range(200 * nv)
    k = F.floor(F.col("id") / nv).cast("long")
    j = F.col("id") % nv

    clon = F.lit(-150.0) + (k % 20).cast("double") * F.lit(15.3)
    clat = F.lit(-60.0) + F.floor(k / 20).cast("double") * F.lit(12.4)
    r = F.lit(0.5) + (k % 7).cast("double") * F.lit(0.7)

    def vtx(jc):
        th = jc.cast("double") * F.lit(_GEOD_TH)
        lon = clon + r * F.cos(th) / F.cos(F.radians(clat))
        lat = clat + r * F.sin(th)
        return lon, lat

    lon1, lat1 = vtx(j)
    lon2, lat2 = vtx((j + 1) % nv)
    edges = ids.select(
        k.alias("poly_id"),
        lon1.alias("lon"), lat1.alias("lat"),
        lon2.alias("lon2"), lat2.alias("lat2"),
    )
    out = GC.ring_geodesy(edges)
    return out.select(
        F.col("poly_id").cast("long").alias("poly_id"),
        F.round(F.col("area_m2") / 1e6, 3).alias("area_km2"),
        F.round("perimeter_m", 3).alias("perim_m"),
    )


def q_tpch_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo-revenue share per brand: lineitem joins the
    small part dim via an explicit broadcast (zero corpus shuffle on the
    join side; the groupBy is map-side combinable). Revenue sums run in
    DECIMAL so they are exact and shuffle-order-independent — the standard
    trick for float-sum determinism at any parallelism."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice",
                                              "l_discount")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(18,4)")
              - F.col("l_discount").cast("decimal(18,4)")))
    j = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    out = j.groupBy("p_brand").agg(
        F.sum(F.when(F.col("p_type") == "ECONOMY", rev)
              .otherwise(F.lit(0).cast("decimal(18,4)"))).alias("__er"),
        F.sum(rev).alias("__tr"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return out.select(
        "p_brand", "n_items",
        F.round(F.lit(100.0) * F.col("__er").cast("double")
                / F.col("__tr").cast("double"), 6).alias("economy_share"),
    )


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=8, 4 iters) over the embeddings table in exact
    integer micro-unit arithmetic: (vec_id, cid, dist2)."""
    from lib_gdal_spark.operators import cluster as CLU

    emb = _t(spark, sf_dir, "embeddings")
    return CLU.kmeans(emb, k=8, iters=4)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: within-k-means-cluster cosine near-dup marking."""
    from lib_gdal_spark.operators import cluster as CLU

    emb = _t(spark, sf_dir, "embeddings")
    return CLU.semantic_dedup(emb, k=8, iters=4, threshold=0.3)


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al. TPAMI 2011): 64-dim embeddings
    -> 4 subspaces x 4 centroids (2 Lloyd iters each, exact int64
    micro-units) -> (vec_id, code_0..code_3, total reconstruction
    dist2). The oracle unrolls all four independent k-means chains over
    list_slice'd subvectors."""
    from lib_gdal_spark.operators import cluster as CLU

    emb = _t(spark, sf_dir, "embeddings")
    return CLU.pq_encode(emb, m=4, k=4, iters=2)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-20 for query vec_id=0: the scan reads
    ONLY the 4 code columns plus a broadcast 4x4 integer LUT folded into
    the plan (element_at over code) — never the raw vectors; true
    quantized distance reported beside the estimate. Oracle re-derives
    the codebooks (same Lloyd chains) and the integer LUT sums."""
    from lib_gdal_spark.operators import cluster as CLU

    emb = _t(spark, sf_dir, "embeddings")
    return CLU.pq_topk(emb, query_id=0, topk=20, m=4, k=4, iters=2)


def q_skyline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier (Borzsony et al. ICDE 2001) document
    selection: MAXIMIZE token count, MINIMIZE char length (information
    density) — every doc not dominated on both criteria. Combinable
    local-skyline partials + one guarded merge task; the oracle is the
    literal NOT EXISTS dominance definition."""
    from lib_gdal_spark.operators.skyline import skyline

    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda x: x != F.lit(""),
    ))
    dd = d.select("doc_id", toks.alias("n_tokens"), F.col("n_chars"))
    return skyline(dd, [("n_tokens", "max"), ("n_chars", "min")],
                   keep_cols=["doc_id"])


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of lineitem extendedprice: leading
    digit via floor(x / 10^floor(log10 x)) — identical doubles in both
    engines — exact counts, Benford expectations, per-digit chi-square
    terms."""
    from lib_gdal_spark.operators.quantiles import benford_test

    return benford_test(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of lineitem (quantity,
    extendedprice, discount, tax) in one pass of exact cent-quantized
    integer moments; each corr is one float expression over HUGEINT-
    exact sums."""
    from lib_gdal_spark.operators.quantiles import corr_matrix

    return corr_matrix(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order statistics without a global sort: iterative histogram
    refinement (driver sees only <=4096-row histograms per pass; matches
    DuckDB quantile_disc's type-1 convention exactly). final_limit is
    lowered so sf0.01 genuinely exercises the multi-pass path."""
    from lib_gdal_spark.operators import quantiles as Q

    d = _t(spark, sf_dir, "lineitem")
    return Q.exact_quantiles(
        d, "l_extendedprice", [0.25, 0.5, 0.75, 0.95], final_limit=500
    )


def q_raster_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDAL image checksum as a distributed aggregate (gdalchecksum.cpp)."""
    tiles = RS.fixture_rasters(spark)
    return RAST.checksum_rasters(tiles).orderBy("raster_id", "band", "zoom")


def q_raster_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-pyramid reduce (overview.cpp AVERAGE) + per-level checksums."""
    tiles = RS.fixture_rasters(spark)
    pyr = RAST.build_pyramid(tiles.where(F.col("raster_id") == "gradient256"),
                             levels=2, alg="average")
    return RAST.checksum_rasters(pyr).orderBy("raster_id", "band", "zoom")


def q_pages_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC-style pages pipeline: html -> text/coords/cell; per-lang counts.

    Pages are the north-rule input table (BASELINE.json input_hint),
    synthesized deterministically (sources.pages).
    """
    n = 20_000
    pg = PG.generate_pages(spark, n)
    enr = GEO.enrich_pages(pg)
    return (
        enr.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.count("cell").alias("n_geo"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# round-2 queries: general overlays, CRS warp, stats, pyramid conv, grids,
# rasterize variants, constructive geometry, graph, nearblack
# ---------------------------------------------------------------------------

def q_polygonize_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygonize with WKB ring tracing (polygonize.cpp:826): the shoelace
    area of each component's rings must equal its pixel count exactly."""
    from lib_gdal_spark.operators import polygonize as PZ
    from lib_gdal_spark.operators import rasterize as RZ

    grid = RZ.world_grid(256, 256, 64)
    tiles = RZ.rasterize_polygons(_raster_polys_df(spark), grid)
    out = PZ.polygonize_rings(tiles, spark, grid_w=grid.width, tile=grid.tile)
    return out.select(
        "component", "value", "n_pixels",
        F.col("n_rings").cast("long").alias("n_rings"),
        F.round("area_px", 6).alias("area_px"),
    )


def q_contour_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_contour -p (POLYGONIZE mode) with SUB-PIXEL band boundaries
    (alg/marching_squares/polygon_ring_appender.h): level-band polygons
    over an integer-radius-squared bullseye, so each band is a provable
    annulus. Boundaries interpolate at exact level crossings; the oracle
    recomputes each band's area by Green's theorem over the directed
    marching-squares segments spelled in SQL (ring stitching preserves the
    segment set, so the shoelace over stitched rings equals the segment
    cross-product sum exactly)."""
    from lib_gdal_spark.operators import contour as CT

    base = spark.range(4).select(
        (F.col("id") % 2).cast("int").alias("tile_x"),
        (F.col("id") / 2).cast("int").alias("tile_y"),
    )

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for tx, ty in zip(b["tile_x"], b["tile_y"]):
                yy, xx = np.meshgrid(np.arange(64), np.arange(64),
                                     indexing="ij")
                gx = tx * 64 + xx
                gy = ty * 64 + yy
                rr = ((gx - 64.0) ** 2 + (gy - 64.0) ** 2)
                rows.append({"raster_id": "bullseye", "band": 1, "zoom": 0,
                             "tile_x": int(tx), "tile_y": int(ty),
                             "dtype": "float64",
                             "tile_w": 64, "tile_h": 64,
                             "gt0": 0.0, "gt1": 1.0, "gt2": 0.0,
                             "gt3": 0.0, "gt4": 0.0, "gt5": 1.0,
                             "nodata": float("nan"),
                             "pixels": rr.ravel().tolist()})
            yield pd.DataFrame(rows)

    tiles = base.mapInPandas(
        make, schema="raster_id string, band int, zoom int, "
                     "tile_x int, tile_y int, dtype string, "
                     "tile_w int, tile_h int, "
                     "gt0 double, gt1 double, gt2 double, "
                     "gt3 double, gt4 double, gt5 double, "
                     "nodata double, pixels array<double>")
    out = CT.contour_polygons_subpixel(
        tiles, [256.0, 1024.0, 2304.0], grid_w=128, grid_h=128, tile=64)
    return out.groupBy("band").agg(
        F.first("elev_min").alias("elev_min"),
        F.first("elev_max").alias("elev_max"),
        F.count("*").cast("long").alias("n_polys"),
        F.sum("n_rings").cast("long").alias("n_rings"),
        F.sum("n_holes").cast("long").alias("n_holes"),
        F.round(F.sum("area_px"), 4).alias("area_px"),
    )


def q_raster_footprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_footprint (apps/gdal_footprint.cpp): valid-data mask binarized
    JVM-side, polygonized, footprint area in world units via |det(gt)|."""
    from lib_gdal_spark.operators import footprint as FPT
    from lib_gdal_spark.operators import rasterize as RZ

    grid = RZ.world_grid(256, 256, 64)
    tiles = RZ.rasterize_polygons(_raster_polys_df(spark), grid)
    out = FPT.footprint(tiles, spark, grid_w=grid.width, tile=grid.tile,
                        nodata=0.0, gt=grid.gt)
    return out.select(
        "component", "n_pixels",
        F.col("n_rings").cast("long").alias("n_rings"),
        F.round("area", 6).alias("area"),
    )


def q_raster_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalcompare (osgeo_utils/gdalcompare.py): per-band pixel-difference
    stats between world4326 and gradient256 via one tile-key equi-join +
    JVM zip_with/aggregate (no Python, no explode)."""
    from lib_gdal_spark.operators import compare as CMPR

    tiles = RS.fixture_rasters(spark)
    a = tiles.where(F.col("raster_id") == "world4326")
    b = tiles.where(F.col("raster_id") == "gradient256")
    out = CMPR.compare_rasters(a, b)
    return out.select(
        F.col("band").cast("long").alias("band"),
        "n_pixels", "n_diff",
        F.round("max_abs_diff", 6).alias("max_abs_diff"),
        F.round("sum_abs_diff", 6).alias("sum_abs_diff"),
    )


# Literal overlay fixture: rectangles + a concave, HOLED method polygon.
# The method region decomposes into axis-aligned rectangles, so the oracle
# areas come from independent rectangle arithmetic (not the slab kernel).
_OV_C_SHAPE = [
    (0.0, 0.0), (6.0, 0.0), (6.0, 2.0), (2.0, 2.0), (2.0, 4.0),
    (6.0, 4.0), (6.0, 6.0), (0.0, 6.0), (0.0, 0.0),
]
_OV_HOLE = (0.5, 4.5, 1.5, 5.5)
# C-shape == union of these disjoint rectangles, minus the hole rectangle
_OV_METHOD_RECTS = [(0, 0, 6, 2), (0, 2, 2, 4), (0, 4, 6, 6)]
_OV_INPUT_BOXES = {1: (-2.0, -2.0, 3.0, 3.0), 2: (2.0, 1.0, 8.0, 5.0),
                   3: (20.0, 20.0, 22.0, 21.0)}


def _rect_inter_area(a, b) -> float:
    w = min(a[2], b[2]) - max(a[0], b[0])
    h = min(a[3], b[3]) - max(a[1], b[1])
    return w * h if (w > 0 and h > 0) else 0.0


def _ov_method_inter(box) -> float:
    """area(box ∩ method) by rectangle arithmetic (holes subtract)."""
    return (sum(_rect_inter_area(box, r) for r in _OV_METHOD_RECTS)
            - _rect_inter_area(box, _OV_HOLE))


def _ov_layers(spark: SparkSession):
    ring = np.array(_OV_C_SHAPE, dtype=np.float64)
    hole = G.box_ring(*_OV_HOLE)
    inputs = local_df(
        spark,
        [(fid, bytearray(G.wkb_polygon([G.box_ring(*bb)])))
         for fid, bb in _OV_INPUT_BOXES.items()],
        "fid long, geom_wkb binary",
    )
    method = local_df(
        spark, [(7, bytearray(G.wkb_polygon([ring, hole])))],
        "fid long, geom_wkb binary",
    )
    return inputs, method


def _ov_area(box) -> float:
    return (box[2] - box[0]) * (box[3] - box[1])


def _ov_expected_union() -> list[tuple]:
    """(in_fid, m_fid, area) rows by rectangle inclusion-exclusion."""
    rows = []
    for fid, bb in _OV_INPUT_BOXES.items():
        ai = _ov_method_inter(bb)
        if ai > 0:
            rows.append((fid, 7, ai))
        rows.append((fid, None, _ov_area(bb) - ai))
    # method minus union(inputs): inclusion-exclusion over the input boxes
    boxes = list(_OV_INPUT_BOXES.values())
    inter_total = 0.0
    import itertools
    for r in range(1, len(boxes) + 1):
        for combo in itertools.combinations(boxes, r):
            cb = combo[0]
            for nxt in combo[1:]:
                cb = (max(cb[0], nxt[0]), max(cb[1], nxt[1]),
                      min(cb[2], nxt[2]), min(cb[3], nxt[3]))
                if cb[2] <= cb[0] or cb[3] <= cb[1]:
                    cb = None
                    break
            if cb is None:
                continue
            inter_total += ((-1) ** (r + 1)) * _ov_method_inter(cb)
    method_area = (sum(_ov_area(r) for r in _OV_METHOD_RECTS)
                   - _ov_area(_OV_HOLE))
    rows.append((None, 7, method_area - inter_total))
    return [(f, m, round(a, 6)) for f, m, a in rows if a > 0]


def q_layer_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR Union overlay (ogrlayer.cpp:2408) with a CONCAVE, HOLED method
    layer — round-2 general boolean kernel; oracle = independent rectangle
    inclusion-exclusion."""
    from lib_gdal_spark.operators import layer_algebra as LA

    inputs, method = _ov_layers(spark)
    out = LA.union_overlay(inputs, method, res=3)
    return out.select("in_fid", "m_fid", F.round("area", 6).alias("area"))


def q_layer_symdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR SymDifference (ogrlayer.cpp:2838), concave + holed method."""
    from lib_gdal_spark.operators import layer_algebra as LA

    inputs, method = _ov_layers(spark)
    out = LA.sym_difference(inputs, method, res=3)
    return out.select("fid", "src", F.round("area", 6).alias("area"))


_UTM31_DST_GT = (150_000.0, 5500.0, 0.0, 5_350_000.0, 0.0, -8500.0)


def q_warp_utm_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:32631 (UTM zone 31): arbitrary-CRS reprojection
    via the Krüger flattening series (ogrct.cpp / gdaltransformer.cpp:1070
    role), distributed per-dst-tile source windows."""
    from lib_gdal_spark.functions import crs as CRS

    tm = CRS.utm_zone(31)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _UTM31_DST_GT, 128, 128, tm.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


_PS3031_DST_GT = (-2_880_000.0, 45_000.0, 0.0, 2_880_000.0, 0.0, -45_000.0)
_AEA5070_DST_GT = (-2_250_000.0, 35_000.0, 0.0, 3_200_000.0, 0.0, -22_500.0)


def q_warp_ps_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:3031 (Antarctic Polar Stereographic, Snyder §21
    variant B) through the get_crs_transform registry — the pole sits
    inside the grid, exercising the exact full-center source-window path."""
    from lib_gdal_spark.functions import crs as CRS

    ps = CRS.get_crs_transform(3031)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _PS3031_DST_GT, 128, 128, ps.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_albers_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:5070 (NAD83 CONUS Albers equal-area, Snyder §14,
    GRS80 ellipsoid) through the get_crs_transform registry."""
    from lib_gdal_spark.functions import crs as CRS

    aea = CRS.get_crs_transform(5070)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _AEA5070_DST_GT, 128, 128, aea.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


_MOLL_DST_GT = (-17_600_000.0, 275_000.0, 0.0, 8_800_000.0, 0.0, -137_500.0)
_SINU_DST_GT = (-17_500_000.0, 273_437.5, 0.0, 8_750_000.0, 0.0, -136_718.75)
_BNG_DST_GT = (0.0, 5_468.75, 0.0, 1_250_000.0, 0.0, -9_765.625)
_LAEA_DST_GT = (2_500_000.0, 27_343.75, 0.0, 5_500_000.0, 0.0, -31_250.0)
_RD_DST_GT = (0.0, 2_343.75, 0.0, 650_000.0, 0.0, -2_734.375)
_KROVAK_DST_GT = (-920_000.0, 3_906.25, 0.0, -920_000.0, 0.0, -3_906.25)
# Trinidad grid in Clarke's LINKS: 800k-link (~161 km) frame over the island
_CASS_DST_GT = (0.0, 6_250.0, 0.0, 800_000.0, 0.0, -6_250.0)
# Brazil Polyconic frame straddling the equator (no pixel-center row can
# hit N == FN exactly: (py+0.5)*15625 == 600000 has no integer solution)
_POLY_DST_GT = (2_800_000.0, 34_375.0, 0.0, 10_600_000.0, 0.0, -15_625.0)
# World Mercator (3395) and plate-carree (4087) global frames
_MERC3395_DST_GT = (-20_000_000.0, 312_500.0, 0.0, 15_000_000.0, 0.0,
                    -234_375.0)
_EQC_DST_GT = (-20_000_000.0, 312_500.0, 0.0, 9_400_000.0, 0.0, -146_875.0)
# RSO Borneo frame (Hotine variant B, meters)
_OMERC_DST_GT = (-200_000.0, 14_062.5, 0.0, 1_200_000.0, 0.0, -10_937.5)
# UPS North frame around the pole (false origin 2,000,000 / 2,000,000)
_UPS_DST_GT = (1_300_000.0, 10_937.5, 0.0, 2_700_000.0, 0.0, -10_937.5)


def q_warp_bng_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:27700 (British National Grid): Airy-ellipsoid
    Krüger TM inverse with the 49N natural origin PLUS the full 7-param
    OSGB36->WGS84 Helmert datum leg (position vector, EPSG 9606) — the
    complete dst->src pipeline a datum-shifted -t_srs builds; the oracle
    spells TM series + Helmert matrix + Bowring, all closed-form."""
    from lib_gdal_spark.functions import crs as CRS

    inv = CRS.datum_aware_inverse(27700)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _BNG_DST_GT, 128, 128, inv, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_laea_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:3035 (ETRS89 / LAEA Europe — ellipsoidal
    Lambert azimuthal equal-area, Snyder §24 / EPSG method 9820, the
    pan-European statistical grid) through the registry. The inverse is
    fully closed-form (rho/ce/beta + the authalic-to-geodetic series),
    spelled literally in the DuckDB oracle."""
    from lib_gdal_spark.functions import crs as CRS

    laea = CRS.get_crs_transform(3035)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _LAEA_DST_GT, 128, 128, laea.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_rdnew_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:28992 (Amersfoort / RD New — oblique
    stereographic double projection, EPSG method 9809, Bessel 1841)
    PLUS the 7-param Amersfoort->WGS84 Helmert datum leg: the complete
    dst->src pipeline for the Dutch national grid. The oracle spells the
    GN7-2 g/h/i/j inverse, the 6-step unrolled isometric-latitude fixed
    point, the Helmert matrix, and Bowring — all closed-form."""
    from lib_gdal_spark.functions import crs as CRS

    inv = CRS.datum_aware_inverse(28992)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _RD_DST_GT, 128, 128, inv, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_cassini_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:30200 (Trinidad 1903 / Trinidad grid —
    Cassini-Soldner, EPSG method 9806, Clarke 1858 in Clarke's LINKS;
    the registry forward reproduces the GN7-2 worked example
    66644.94 / 82536.22 exactly, pinned in pytest). The inverse is
    fully closed-form (footpoint-latitude rectifying series + the D
    polynomial — no fixed point), spelled literally in the oracle."""
    from lib_gdal_spark.functions import crs as CRS

    cass = CRS.get_crs_transform(30200)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _CASS_DST_GT, 128, 128, cass.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_polyconic_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:29101 (SAD69 / Brazil Polyconic — American
    Polyconic, EPSG method 9818, GRS 1967; the forward reproduces
    Snyder's §18 numerical example to 0.1 m, pinned in pytest). The
    inverse is Snyder's 18-21 Newton-Raphson unrolled to the class's
    fixed 10 steps — the oracle spells every step's named intermediates
    (s2 / C / Ma / Mp) literally, so both engines run identical IEEE
    sequences regardless of convergence rate."""
    from lib_gdal_spark.functions import crs as CRS

    poly = CRS.get_crs_transform(29101)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _POLY_DST_GT, 128, 128, poly.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_mercator_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:3395 (WGS84 World Mercator — ELLIPSOIDAL
    Mercator, EPSG method 9804; the registry's 1SP kernel reproduces the
    GN7-2 Makassar/NEIEZ worked example 5009726.58/569150.82 exactly,
    pinned in pytest). The inverse's isometric-latitude fixed point is
    unrolled to the class's fixed 10 steps in the oracle (same scheme as
    the RD New oracle)."""
    from lib_gdal_spark.functions import crs as CRS

    merc = CRS.get_crs_transform(3395)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _MERC3395_DST_GT, 128, 128, merc.inverse, alg="nearest",
        tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_eqc_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:4087 (WGS84 World Equidistant Cylindrical,
    EPSG method 1028 — the global-DEM plate-carree grid): N is the true
    meridian arc, so the inverse is FULLY closed-form via the rectifying
    footpoint series, spelled literally in the oracle."""
    from lib_gdal_spark.functions import crs as CRS

    eqc = CRS.get_crs_transform(4087)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _EQC_DST_GT, 128, 128, eqc.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


# NAD83 State Plane frames (meters): Maryland (LCC 2SP), Texas Central
# (LCC 2SP, FN 3,000,000), New Jersey (TM k0=0.9999, lat0 38°50') — zone
# parameters from functions/stateplane_data (public EPSG/ESRI registry
# values vendored by the reference as data/esri_StatePlane_extra.wkt)
_SP_MD_DST_GT = (0.0, 6_250.0, 0.0, 250_000.0, 0.0, -1_953.125)
_SP_TX_DST_GT = (0.0, 10_937.5, 0.0, 3_200_000.0, 0.0, -3_125.0)
_SP_NJ_DST_GT = (0.0, 2_343.75, 0.0, 400_000.0, 0.0, -3_125.0)


def q_warp_stateplane_md(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:26985 (NAD83 / Maryland SPCS, LCC 2SP on
    GRS80) through the state-plane registry
    (crs._state_plane / stateplane_data): the oracle spells the Snyder
    §15 inverse — rho/theta closed form, t = (rho/aF)^(1/n), then the
    conformal-latitude fixed point (15-9) unrolled — with n/F/rho0 as
    literals from the SAME constructor the Spark query uses."""
    from lib_gdal_spark.functions import crs as CRS

    t = CRS.get_crs_transform(26985)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _SP_MD_DST_GT, 128, 128, t.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_stateplane_tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:32139 (NAD83 / Texas Central SPCS, LCC 2SP
    with the 3,000,000 m false northing) — second LCC zone so the
    false-origin handling is exercised off zero."""
    from lib_gdal_spark.functions import crs as CRS

    t = CRS.get_crs_transform(32139)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _SP_TX_DST_GT, 128, 128, t.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_stateplane_nj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:32111 (NAD83 / New Jersey SPCS, TM k0=0.9999
    with a 38°50' natural origin): the warp_bng Krüger-inverse pattern
    on GRS80 with the meridian-arc-adjusted false northing, minus the
    datum leg (NAD83 is zero-shift to WGS84, the 26901-23 convention)."""
    from lib_gdal_spark.functions import crs as CRS

    t = CRS.get_crs_transform(32111)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _SP_NJ_DST_GT, 128, 128, t.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_ups_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:32661 (Universal Polar Stereographic North —
    variant A, k0 = 0.994 AT THE POLE, false origin 2,000,000 m; the
    MGRS polar companion grid). Same conformal-latitude fixed point as
    the 3031 oracle, but through the k0 rho-factor and the north
    (no-negation) branch; pole-scale and pole-origin anchors in
    pytest."""
    from lib_gdal_spark.functions import crs as CRS

    ups = CRS.get_crs_transform(32661)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _UPS_DST_GT, 128, 128, ups.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_omerc_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:29873 (Timbalai 1948 / RSO Borneo — Hotine
    Oblique Mercator variant B, EPSG method 9815, Everest 1830; the
    registry kernel reproduces the GN7-2 worked example
    679245.73/596562.78 exactly, pinned in pytest). The oracle spells
    the full aposphere inverse (skew rotation, Q/S/T/V/U chain, the
    1/B power) with the conformal-latitude fixed point unrolled to the
    class's 10 steps."""
    from lib_gdal_spark.functions import crs as CRS

    om = CRS.get_crs_transform(29873)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _OMERC_DST_GT, 128, 128, om.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_krovak_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into EPSG:5514 (S-JTSK / Krovak East North — oblique
    conformal conic, EPSG method 9819, Bessel 1841) PLUS the 3-param
    S-JTSK->WGS84 Helmert leg. The oracle spells the GN7-2 inverse
    (r/theta -> T/U/V on the oblique sphere, pow-based conic unroll, the
    6-step conformal-latitude fixed point) + Helmert + Bowring."""
    from lib_gdal_spark.functions import crs as CRS

    inv = CRS.datum_aware_inverse(5514)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _KROVAK_DST_GT, 128, 128, inv, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_mollweide_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into ESRI:54009 World Mollweide (Snyder §31, spherical on
    the WGS84 semi-major like PROJ's moll) through the get_crs_transform
    registry; the closed-form Mollweide inverse is spelled in the oracle."""
    from lib_gdal_spark.functions import crs as CRS

    mo = CRS.get_crs_transform(54009)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _MOLL_DST_GT, 128, 128, mo.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_sinusoidal_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp into the MODIS sinusoidal grid (Snyder §30 sphere,
    R=6371007.181 — PROJ +proj=sinu +R=6371007.181) — the equal-area
    projection MODIS land products ship in."""
    from lib_gdal_spark.functions import crs as CRS

    si = CRS.modis_sinusoidal()
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _SINU_DST_GT, 128, 128, si.inverse, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_warp_datum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogr2ogr -s_srs EPSG:4267 -t_srs EPSG:4326: NAD27 -> WGS84 datum
    shift (towgs84 geocentric translations, EPSG method 9603; the PROJ
    +towgs84 pipeline leg of core/ogr/ogrct.cpp) over a point layer —
    geodetic -> Clarke-1866 ECEF -> Helmert -> Bowring -> WGS84 geodetic,
    every step mirrored closed-form in the DuckDB oracle."""
    from collections.abc import Iterator as _It

    from lib_gdal_spark.functions import crs as CRS

    pts = _points(spark, sf_dir).where(F.col("pid") < 3000)

    def to_wkb(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame({
                "fid": b["pid"],
                "geom_wkb": [
                    G.wkb_point(lo, la)
                    for lo, la in zip(b["lon"], b["lat"])
                ],
            })

    layer = pts.mapInPandas(to_wkb, schema="fid long, geom_wkb binary")
    out = CRS.reproject_layer(layer, 4267, 4326)

    def coords(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            xy = [G.parse_wkb(bytes(w))[1] for w in b["geom_wkb"]]
            yield pd.DataFrame({
                "fid": b["fid"],
                "lon": [p[0] for p in xy],
                "lat": [p[1] for p in xy],
            })

    dec = out.mapInPandas(coords, schema="fid long, lon double, lat double")
    # floor(x*1e7+0.5)/1e7 in BOTH engines (Spark round() is half-even,
    # DuckDB's is half-away — this form is identical in each)
    return dec.select(
        "fid",
        (F.floor(F.col("lon") * 1e7 + 0.5) / 1e7).alias("lon"),
        (F.floor(F.col("lat") * 1e7 + 0.5) / 1e7).alias("lat"),
    )


def _explode_complex(tiles: DataFrame, tile: int = 64) -> DataFrame:
    """Complex tile table -> (px, py, re, im) logical-pixel rows, JVM-side."""
    from lib_gdal_spark.functions import complexfn as CF

    z = tiles.select(
        "tile_x", "tile_y", "tile_w",
        F.posexplode(
            F.arrays_zip(
                CF.real(F.col("pixels")).alias("re"),
                CF.imag(F.col("pixels")).alias("im"),
            )
        ).alias("pos", "c"),
    )
    px = (F.col("tile_x") * tile + F.col("pos") % F.col("tile_w")).cast("long")
    py = (F.col("tile_y") * tile
          + (F.col("pos") / F.col("tile_w")).cast("int")).cast("long")
    return z.select(px.alias("px"), py.alias("py"),
                    F.col("c.re").alias("re"), F.col("c.im").alias("im"))


def q_raster_checksum_complex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDAL checksum over the complex dtype family — interleaved-word prime
    phase (gdalchecksum.cpp nCount = nXSize*2); the four byte.tif complex
    variants anchor at 5028 (test_gdal_gtiff.cpp:70-82)."""
    tiles = RS.fixture_complex_rasters(spark)
    return RAST.checksum_rasters(tiles).select("raster_id", "checksum") \
        .orderBy("raster_id")


def q_pyramid_magphase_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGE_MAGPHASE overview step (overview.cpp:2621): component means
    rescaled to the mean magnitude, float32 intermediates — word-exact."""
    tiles = RS.fixture_complex_rasters(spark).where(
        F.col("raster_id") == "cplx128"
    )
    out = RAST.pyramid_level_complex(tiles, alg="average_magphase", tile=64)
    return _explode_complex(out).where(F.col("px") < 64)


def q_complex_pixelfuncs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VRT complex pixel functions mod/phase/intensity as JVM lambda
    expressions (pixelfunctions.cpp:36-121) over the analytic fixture."""
    from lib_gdal_spark.functions import complexfn as CF

    tiles = RS.fixture_complex_rasters(spark).where(
        F.col("raster_id") == "cplx128"
    )
    z = tiles.select(
        "tile_x", "tile_y", "tile_w",
        F.posexplode(
            F.arrays_zip(
                CF.modulus(F.col("pixels")).alias("mod"),
                CF.phase(F.col("pixels")).alias("ph"),
                CF.intensity(F.col("pixels")).alias("inten"),
            )
        ).alias("pos", "c"),
    )
    px = (F.col("tile_x") * 64 + F.col("pos") % F.col("tile_w")).cast("long")
    py = (F.col("tile_y") * 64
          + (F.col("pos") / F.col("tile_w")).cast("int")).cast("long")
    return z.select(
        px.alias("px"), py.alias("py"),
        F.round("c.mod", 6).alias("mod"),
        F.round("c.ph", 6).alias("ph"),
        F.round("c.inten", 6).alias("inten"),
    )


_GCP_DST_GT = (0.0, 4.0, 0.0, 512.0, 0.0, -4.0)
# six exact GCPs of an affine dst-plane -> lon/lat georeferencing
_GCP_AFFINE = (0.01, 0.002, -20.0, -0.003, 0.008, 10.0)


def _gcp_points():
    a1, a2, a0, b1, b2, b0 = _GCP_AFFINE
    pts = [(0.0, 0.0), (512.0, 0.0), (0.0, 512.0), (512.0, 512.0),
           (256.0, 128.0), (128.0, 384.0)]
    return np.array([
        (X, Y, a1 * X + a2 * Y + a0, b1 * X + b2 * Y + b0)
        for X, Y in pts
    ])


def q_warp_gcp_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp with GCP georeferencing (order-1 polynomial — the
    GenImgProj GCP path, gdaltransformer.cpp): six exact ground control
    points fit the dst->lon/lat polynomial and drive the SAME distributed
    per-dst-tile warp as the CRS paths."""
    from lib_gdal_spark.functions import transforms as T

    inv = T.gcp_transform(_gcp_points(), order=1)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, _GCP_DST_GT, 128, 128, inv, alg="nearest", tile=64
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_raster_quantile_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency raster classification of world4326 into 5
    classes at the exact type-1 quintile breaks (exact_quantiles'
    iterative histogram refinement; classification is a zero-shuffle
    JVM projection). Oracle: DuckDB quantile_disc breaks + the
    identical sum(v > break) rule."""
    from lib_gdal_spark.operators.stats import classify_quantiles

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return classify_quantiles(tiles, k=5)


def q_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster band statistics (gdalrasterband.cpp:3821 ComputeStatistics):
    JVM-side per-tile moments, closed-form fixtures oracle."""
    from lib_gdal_spark.operators import stats as ST

    tiles = RS.fixture_rasters(spark).where(
        F.col("raster_id").isin("gradient256", "world4326", "checker64")
    )
    out = ST.band_statistics(tiles)
    return out.select(
        "raster_id", "n", "min", "max",
        F.round("mean", 6).alias("mean"),
        F.round("stddev", 6).alias("stddev"),
    )


def q_band_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetHistogram: 16 buckets over [0, 256) of the gradient fixture."""
    from lib_gdal_spark.operators import stats as ST

    tiles = RS.fixture_rasters(spark).where(
        F.col("raster_id") == "gradient256"
    )
    out = ST.band_histogram(tiles, 0.0, 256.0, buckets=16)
    return out.select("bucket", "count")


def q_hypsometric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypsometric curve (Strahler 1952) over the world4326 fixture: 32
    elevation bands of [0, 256), per-band cell count + cumulative
    area fraction at-or-above the band; int64 counts divide exactly in
    both engines."""
    from lib_gdal_spark.operators import stats as ST

    tiles = RS.fixture_rasters(spark).where(
        F.col("raster_id") == "world4326"
    )
    out = ST.hypsometric(tiles, 0.0, 256.0, buckets=32)
    return out.select("bucket", "count", "elev_lo", "frac_above")


def q_pyramid_cubic_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBIC convolution overview step (overview.cpp:2429): halo-strip
    pyramid; interior pixels oracle-exact (the scaled Catmull-Rom weights
    are exact binary fractions, so the 64-term SQL sum matches bitwise)."""
    tiles = RS.fixture_rasters(spark).where(
        F.col("raster_id") == "gradient256"
    )
    out = RAST.pyramid_level_conv(tiles, alg="cubic", tile=64)
    ex = _explode_px(out)
    return ex.where(
        F.col("px").between(2, 125) & F.col("py").between(2, 125)
    ).select("px", "py", F.col("v").cast("long").alias("v"))


def q_translate_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -srcwin 16 16 192 192 -outsize 96 96 -r cubic: the
    non-nearest resampled READ path (GRIORA_Cubic, rasterio.cpp:821) wired
    through the convolution kernel; interior pixels bit-exact (dyadic
    Catmull-Rom weights x integer gradient => exact doubles)."""
    from lib_gdal_spark.operators import translate as TR

    tiles = RS.fixture_rasters(spark).where(
        F.col("raster_id") == "gradient256"
    )
    out = TR.translate_window(tiles, "gradient256", (16, 16, 192, 192),
                              outsize=(96, 96), alg="cubic")
    ex = _explode_px(out)
    return ex.where(
        F.col("px").between(2, 93) & F.col("py").between(2, 93)
    ).select("px", "py", "v")


def q_grid_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_grid 'linear' (Delaunay + barycentric, gdalgrid.cpp:542): a
    linear field is reproduced exactly inside the hull — closed-form
    oracle over the interior box."""
    from lib_gdal_spark.operators import grid as GR
    from lib_gdal_spark.operators.rasterize import GridSpec

    pts = _points(spark, sf_dir).select(
        F.col("lon").alias("x"), F.col("lat").alias("y"),
        (F.col("lon") * 2.0 + F.col("lat") * 3.0).alias("v"),
    )
    grid = GridSpec((-180.0, 5.625, 0.0, 90.0, 0.0, -2.8125), 64, 64, 16)
    tiles = GR.grid_linear(pts, grid, nodata=float("nan"))
    out = _explode_px(tiles, tile=16)
    return out.where(
        F.col("px").between(6, 57) & F.col("py").between(8, 55)
    ).select("px", "py", F.round("v", 6).alias("v"))


def q_grid_invdistnn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_grid 'invdistnn' (gdalgrid.cpp:260): IDW over the 6 nearest
    in-radius points; full SQL oracle via per-pixel distance ranking."""
    from lib_gdal_spark.operators import grid as GR
    from lib_gdal_spark.operators.rasterize import GridSpec

    pts = _points(spark, sf_dir).select(
        F.col("lon").alias("x"), F.col("lat").alias("y"),
        (F.col("pid") % 97).cast("double").alias("v"),
    )
    grid = GridSpec((-180.0, 5.625, 0.0, 90.0, 0.0, -2.8125), 64, 64, 16)
    tiles = GR.grid_invdistnn(pts, grid, radius=15.0, max_points=6,
                              power=2.0, nodata=-1.0)
    out = _explode_px(tiles, tile=16)
    return out.select("px", "py", F.round("v", 4).alias("v"))


def q_grid_kriging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary kriging (Matheron 1963; covariance-form system, spherical
    variogram) over the 3 nearest in-radius points per pixel center. The
    oracle replays the SAME fixed-order pivot-free Gaussian elimination as
    a generated SQL CTE chain, so the prediction matches bit-for-bit
    (compared at round-6)."""
    from lib_gdal_spark.operators import grid as GR
    from lib_gdal_spark.operators.rasterize import GridSpec

    pts = _points(spark, sf_dir).select(
        F.col("pid"), F.col("lon").alias("x"), F.col("lat").alias("y"),
        (F.col("pid") % 97).cast("double").alias("v"),
    )
    grid = GridSpec((-180.0, 5.625, 0.0, 90.0, 0.0, -2.8125), 64, 64, 16)
    tiles = GR.grid_kriging(pts, grid, radius=25.0, max_points=3,
                            min_points=3, nugget=0.0, psill=1.0,
                            vrange=25.0, model="spherical", nodata=-1.0,
                            id_col="pid")
    out = _explode_px(tiles, tile=16)
    return out.select("px", "py", F.round("v", 6).alias("v"))


def _elim_backsub_ctes(n: int, prev: str) -> tuple[list[str], str]:
    """Generate CTEs replaying fixed-order pivot-free Gaussian elimination
    + sequential back-substitution on an n x n system whose entries
    a{r}{c} / rhs b{r} are columns of CTE ``prev`` — the IDENTICAL loop
    structure as the numpy kernels (operators/grid.py grid_kriging /
    grid_gwr), so the float op order cannot drift. Returns (ctes,
    final_cte) with solution columns w0..w{n-1}."""
    cur = {f"a{r}{c}": f"a{r}{c}" for r in range(n) for c in range(n)}
    cur.update({f"b{r}": f"b{r}" for r in range(n)})
    ctes = []
    for col in range(n - 1):
        fdefs = []
        for r in range(col + 1, n):
            fdefs.append(
                f"{cur[f'a{r}{col}']}/{cur[f'a{col}{col}']} AS f{r}_{col}")
        fname = f"ef{col}"
        ctes.append(f"{fname} AS (SELECT *, {', '.join(fdefs)} FROM {prev})")
        udefs = []
        for r in range(col + 1, n):
            for cc in range(col + 1, n):
                new = f"a{r}{cc}_s{col}"
                udefs.append(
                    f"{cur[f'a{r}{cc}']} - f{r}_{col}*{cur[f'a{col}{cc}']}"
                    f" AS {new}")
            newb = f"b{r}_s{col}"
            udefs.append(
                f"{cur[f'b{r}']} - f{r}_{col}*{cur[f'b{col}']} AS {newb}")
        uname = f"eu{col}"
        ctes.append(f"{uname} AS (SELECT *, {', '.join(udefs)} FROM {fname})")
        for r in range(col + 1, n):
            for cc in range(col + 1, n):
                cur[f"a{r}{cc}"] = f"a{r}{cc}_s{col}"
            cur[f"b{r}"] = f"b{r}_s{col}"
        prev = uname
    # back-substitution, sequential subtraction (matches the numpy loop)
    wname = {}
    for i in range(n - 1, -1, -1):
        s = cur[f"b{i}"]
        for j in range(i + 1, n):
            s = f"({s} - {cur[f'a{i}{j}']}*{wname[j]})"
        wname[i] = f"w{i}"
        ctes.append(
            f"bs{i} AS (SELECT *, {s}/{cur[f'a{i}{i}']} AS w{i} FROM {prev})")
        prev = f"bs{i}"
    return ctes, prev


def q_grid_gwr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geographically weighted regression (Fotheringham et al. 2002)
    coefficient surfaces: local bisquare-weighted least squares per pixel
    center; weights snap to 1/4096 dyadics and the predictors are
    integer-valued, so every normal-equation sum is exact and the
    generated SQL elimination oracle matches bit-for-bit."""
    from lib_gdal_spark.operators import grid as GR
    from lib_gdal_spark.operators.rasterize import GridSpec

    pts = _points(spark, sf_dir).select(
        F.col("lon").alias("x"), F.col("lat").alias("y"),
        (F.col("pid") % 23).cast("double").alias("x1"),
        ((F.col("pid") * 7) % 19).cast("double").alias("x2"),
        ((F.col("pid") % 5 + 1) * (F.col("pid") % 23)
         + 2 * ((F.col("pid") * 7) % 19)
         + F.col("pid") % 11).cast("double").alias("resp"),
    )
    grid = GridSpec((-180.0, 11.25, 0.0, 90.0, 0.0, -5.625), 32, 32, 16)
    tiles = GR.grid_gwr(pts, grid, bandwidth=40.0, min_points=8,
                        nodata=-999.0, point_cols=("x", "y"),
                        x_cols=("x1", "x2"), y_col="resp")
    ex = tiles.select(
        "band", "tile_x", "tile_y", "tile_w",
        F.posexplode("pixels").alias("pos", "v"),
    )
    px = (F.col("tile_x") * 16 + F.col("pos") % F.col("tile_w")).cast("long")
    py = (F.col("tile_y") * 16
          + (F.col("pos") / F.col("tile_w")).cast("int")).cast("long")
    return ex.select(F.col("band").cast("long").alias("band"),
                     px.alias("px"), py.alias("py"),
                     F.round("v", 6).alias("v"))


def _gwr_oracle_sql() -> str:
    """GWR oracle: bisquare dyadic weights, exact weighted sums, then the
    generated 3x3 fixed-order elimination (same codegen as kriging) and
    the local-R^2 expression in the numpy kernel's term order."""
    bw2 = repr(40.0 * 40.0)
    ctes, prev = _elim_backsub_ctes(3, "m0")
    elim = ",\n        ".join(ctes)
    r2 = ("1.0 - ((syy - 2.0*(w0*sy + w1*sx1y + w2*sx2y)) + "
          "(w0*w0*sw + w1*w1*sx11 + w2*w2*sx22 + 2.0*w0*w1*sx1 "
          "+ 2.0*w0*w2*sx2 + 2.0*w1*w2*sx12)) "
          "/ (syy - sy*sy/sw)")
    return f"""
        WITH pts AS (
          SELECT lon AS x, lat AS y,
                 CAST(pid % 23 AS DOUBLE) AS x1,
                 CAST((pid * 7) % 19 AS DOUBLE) AS x2,
                 CAST((pid % 5 + 1) * (pid % 23) + 2 * ((pid * 7) % 19)
                      + pid % 11 AS DOUBLE) AS yv
          FROM ({_POINTS_SQL})
        ),
        pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
                 -180.0 + (x.px + 0.5) * 11.25 AS cx,
                 90.0 + (y.py + 0.5) * -5.625 AS cy
          FROM generate_series(0, 31) x(px) CROSS JOIN generate_series(0, 31) y(py)
        ),
        cand AS (
          SELECT px, py, x1, x2, yv,
                 floor((1.0 - ((cx - x) * (cx - x) + (cy - y) * (cy - y))
                              / {bw2})
                       * (1.0 - ((cx - x) * (cx - x) + (cy - y) * (cy - y))
                                / {bw2})
                       * 4096.0 + 0.5) / 4096.0 AS w
          FROM pix CROSS JOIN pts
          WHERE (cx - x) * (cx - x) + (cy - y) * (cy - y) < {bw2}
        ),
        agg AS (
          SELECT px, py, count(*) AS n_in,
                 sum(w) AS sw, sum(w*x1) AS sx1, sum(w*x2) AS sx2,
                 sum(w*x1*x1) AS sx11, sum(w*x1*x2) AS sx12,
                 sum(w*x2*x2) AS sx22,
                 sum(w*yv) AS sy, sum(w*x1*yv) AS sx1y,
                 sum(w*x2*yv) AS sx2y, sum(w*yv*yv) AS syy
          FROM cand GROUP BY px, py
        ),
        m0 AS (
          SELECT px, py, sw, sx1, sx2, sx11, sx12, sx22,
                 sy, sx1y, sx2y, syy,
                 sw AS a00, sx1 AS a01, sx2 AS a02,
                 sx1 AS a10, sx11 AS a11, sx12 AS a12,
                 sx2 AS a20, sx12 AS a21, sx22 AS a22,
                 sy AS b0, sx1y AS b1, sx2y AS b2
          FROM agg WHERE n_in >= 8
        ),
        {elim},
        solved AS (
          SELECT px, py, round(w0, 6) AS c0, round(w1, 6) AS c1,
                 round(w2, 6) AS c2, round({r2}, 6) AS cr2
          FROM {prev}
        ),
        allpix AS (
          SELECT b.band, p.px, p.py
          FROM pix p CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS band) b
        )
        SELECT CAST(a.band AS BIGINT) AS band, a.px, a.py,
               coalesce(CASE a.band WHEN 1 THEN s.c0 WHEN 2 THEN s.c1
                        WHEN 3 THEN s.c2 ELSE s.cr2 END, -999.0) AS v
        FROM allpix a LEFT JOIN solved s ON a.px = s.px AND a.py = s.py
    """


def _kriging_oracle_sql() -> str:
    """Generate the kriging oracle: top-3 neighbors by (d2, pid), then the
    ordinary-kriging covariance system solved by the IDENTICAL fixed-order
    elimination the numpy kernel runs (operators/grid.py grid_kriging) —
    generated with the same loop structure so the op order cannot drift."""
    a, psill, sill = 25.0, 1.0, 1.0

    def cov(h: str) -> str:
        u = f"({h}/{a!r})"
        return (f"(CASE WHEN {h} = 0.0 THEN {sill!r} "
                f"WHEN {h} >= {a!r} THEN 0.0 "
                f"ELSE {psill!r}*(1.0 - (1.5*{u} - 0.5*{u}*{u}*{u})) END)")

    n = 4
    # initial entries in CTE m0 (ranks 1..3 pivot to x1..x3,y1..y3,v1..v3)
    init = {}
    for i in range(3):
        for j in range(3):
            if i == j:
                init[f"a{i}{j}"] = repr(sill)
            else:
                h = (f"sqrt((x{i+1}-x{j+1})*(x{i+1}-x{j+1})"
                     f" + (y{i+1}-y{j+1})*(y{i+1}-y{j+1}))")
                init[f"a{i}{j}"] = cov(h)
        init[f"a{i}3"] = "1.0"
        init[f"a3{i}"] = "1.0"
        init[f"b{i}"] = cov(f"sqrt(d2_{i+1})")
    init["a33"] = "0.0"
    init["b3"] = "1.0"
    m0_cols = ",\n              ".join(
        f"{e} AS {k}" for k, e in init.items())

    ctes, prev = _elim_backsub_ctes(n, "m0")
    elim = ",\n        ".join(ctes)
    return f"""
        WITH pts AS (
          SELECT pid, lon AS x, lat AS y, CAST(pid % 97 AS DOUBLE) AS v
          FROM ({_POINTS_SQL})
        ),
        pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
                 -180.0 + (x.px + 0.5) * 5.625 AS cx,
                 90.0 + (y.py + 0.5) * -2.8125 AS cy
          FROM generate_series(0, 63) x(px) CROSS JOIN generate_series(0, 63) y(py)
        ),
        cand AS (
          SELECT px, py, pid, v, x, y,
                 (cx - x) * (cx - x) + (cy - y) * (cy - y) AS d2
          FROM pix CROSS JOIN pts
          WHERE (cx - x) * (cx - x) + (cy - y) * (cy - y) <= 625.0
        ),
        rk AS (
          SELECT *, row_number() OVER (
            PARTITION BY px, py ORDER BY d2 ASC, pid ASC) AS r
          FROM cand
        ),
        nb AS (
          SELECT px, py, count(*) AS n_in,
                 max(CASE WHEN r=1 THEN x END) AS x1,
                 max(CASE WHEN r=1 THEN y END) AS y1,
                 max(CASE WHEN r=1 THEN v END) AS v1,
                 max(CASE WHEN r=1 THEN d2 END) AS d2_1,
                 max(CASE WHEN r=2 THEN x END) AS x2,
                 max(CASE WHEN r=2 THEN y END) AS y2,
                 max(CASE WHEN r=2 THEN v END) AS v2,
                 max(CASE WHEN r=2 THEN d2 END) AS d2_2,
                 max(CASE WHEN r=3 THEN x END) AS x3,
                 max(CASE WHEN r=3 THEN y END) AS y3,
                 max(CASE WHEN r=3 THEN v END) AS v3,
                 max(CASE WHEN r=3 THEN d2 END) AS d2_3
          FROM rk WHERE r <= 3 GROUP BY px, py
        ),
        m0 AS (
          SELECT px, py, v1, v2, v3,
              {m0_cols}
          FROM nb WHERE n_in >= 3
        ),
        {elim},
        pred AS (
          SELECT px, py, round(w0*v1 + w1*v2 + w2*v3, 6) AS v FROM {prev}
        )
        SELECT p.px, p.py, coalesce(a.v, -1.0) AS v
        FROM pix p LEFT JOIN pred a ON p.px = a.px AND p.py = a.py
    """


def q_rasterize_alltouched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL_TOUCHED rasterize (llrasterize.cpp:411): every cell the polygon
    touches burns; for the box fixtures the cell cover is closed-form."""
    from lib_gdal_spark.operators import rasterize as RZ

    grid = RZ.world_grid(256, 256, 64)
    polys = local_df(
        spark,
        [(mid, bytearray(G.wkb_polygon([G.box_ring(*bb)])), float(mid))
         for mid, bb in METHOD_BOXES.items()],
        "fid long, geom_wkb binary, burn double",
    )
    tiles = RZ.rasterize_polygons(polys, grid, all_touched=True)
    return RZ.burned_pixel_counts(tiles)


# polyline in PIXEL coords: horizontal, vertical, then exact-45° diagonal
_LINE_PIX = [(10.3, 20.2), (50.7, 20.2), (50.7, 60.6), (90.9, 100.8)]


def q_rasterize_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line burn (llrasterize.cpp:277 Bresenham on floored endpoints)."""
    from lib_gdal_spark.operators import rasterize as RZ

    grid = RZ.world_grid(256, 256, 64)
    pts = np.array([
        (-180.0 + px * 1.40625, 90.0 - py * 0.703125)
        for px, py in _LINE_PIX
    ])
    lines = local_df(
        spark, [(1, bytearray(G.wkb_linestring(pts)), 1.0)],
        "fid long, geom_wkb binary, burn double",
    )
    tiles = RZ.rasterize_lines(lines, grid)
    return _explode_px(tiles).where(F.col("v") == 1.0).select("px", "py")


def q_rasterize_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point burn (llrasterize.cpp:254): floor cell, last feature wins."""
    from lib_gdal_spark.operators import rasterize as RZ

    grid = RZ.world_grid(256, 256, 64)
    pts = _points(spark, sf_dir).select(
        F.col("pid").alias("fid"), F.col("lon").alias("x"),
        F.col("lat").alias("y"),
        ((F.col("pid") % 50) + 1).cast("double").alias("burn"),
    )
    tiles = RZ.rasterize_points(pts, grid)
    ex = _explode_px(tiles)
    return ex.where(F.col("v") != 0.0).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_min_rotated_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum rotated (oriented) bounding rectangle — GEOS
    MinimumRotatedRectangle parity via rotating calipers — for the
    three fixture pentagons: candidate directions are all vertex pairs
    (superset of hull edges, optimum guaranteed), width/height/area
    one fixed float chain, ties to the smallest pair key. The oracle
    inlines the same vertex literals and expressions."""
    from lib_gdal_spark.operators.vectorops import min_rotated_rect

    rows = [(fid, i, x, y)
            for fid, vs in POLYGONS.items()
            for i, (x, y) in enumerate(vs)]
    verts = spark.createDataFrame(
        rows, "fid long, idx long, x double, y double")
    return min_rotated_rect(verts)


def q_constructive_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constructive geometry (ogrgeometry.cpp Distance/Centroid/Buffer):
    per point-box distance to a fixed box, centroid, buffer(+1) area —
    all closed-form for rectangles."""
    from collections.abc import Iterator as _It

    from lib_gdal_spark.functions import constructive as CG
    from lib_gdal_spark.functions import overlay as OV

    pts = _points(spark, sf_dir).where(F.col("pid") % 10 == 0)
    mbox = METHOD_BOXES[10]
    mring = G.box_ring(*mbox)

    def work(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            rows = []
            for pid, lon, lat in zip(b["pid"], b["lon"], b["lat"]):
                ring = G.box_ring(lon - 2.0, lat - 1.5, lon + 2.0, lat + 1.5)
                d = CG.distance([ring], [mring])
                cx, cy = CG.centroid([ring])
                buf = CG.buffer_polygon([ring], 1.0, quadsegs=8)
                rows.append({
                    "pid": pid, "dist": round(d, 6),
                    "cx": round(cx, 6), "cy": round(cy, 6),
                    "buf_area": round(OV.polys_area(buf), 6),
                })
            yield pd.DataFrame(
                rows, columns=["pid", "dist", "cx", "cy", "buf_area"]
            )

    return pts.mapInPandas(
        work,
        schema="pid long, dist double, cx double, cy double, buf_area double",
    )


def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GNM shortest-path tree (gnmgraph.cpp:176) on a binary-heap tree
    graph: distributed edge relaxation; oracle = recursive parent-chain
    CTE."""
    from lib_gdal_spark.operators import graph as GG

    edges = spark.range(1, 256).select(
        F.col("id").alias("u"),
        (F.col("id") / 2).cast("long").alias("v"),
        ((F.col("id") % 97) / 10.0 + 1.0).alias("w"),
    )
    out = GG.shortest_path_tree(edges, 0)
    return out.select("node", F.round("dist", 6).alias("dist"))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (4 power iterations, 0.85 damping) on a
    deterministic 300-node functional link graph with dangling nodes
    (every id % 17 == 0 has no out-edges); oracle = the same fixed-point
    arithmetic unrolled as a CTE chain."""
    from lib_gdal_spark.operators import graph as GG

    r = spark.range(0, 300).where(F.col("id") % 17 != 0)
    e1 = r.select(
        F.col("id").alias("u"), ((F.col("id") * 7 + 3) % 300).alias("v")
    )
    e2 = r.select(
        F.col("id").alias("u"), ((F.col("id") * 13 + 5) % 300).alias("v")
    )
    return GG.pagerank(e1.unionByName(e2)).select(
        "node", "rank_units", "rank"
    )


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-core peeling (Seidman 1983) on dense blocks (degree 8) plus an
    attached sparse path with bridges: the path peels in round one and
    the blocks survive intact — (node, core_deg). The oracle unrolls
    four materialized peeling rounds (fixpoint by round two)."""
    from lib_gdal_spark.operators import graph as GG

    r200 = spark.range(0, 200)
    blk = F.floor(F.col("id") / 20)
    e = None
    for d in (1, 2, 3, 4):
        ed = r200.select(F.col("id").alias("u"),
                         (blk * 20 + (F.col("id") + d) % 20).alias("v"))
        e = ed if e is None else e.unionByName(ed)
    path = spark.range(200, 299).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
    bridges = spark.range(0, 10).select(
        (F.col("id") * 20).alias("u"), (200 + F.col("id") * 10).alias("v"))
    return GG.kcore(e.unionByName(path).unionByName(bridges), k=5)


def q_graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-truss (Cohen 2008) on 20 K10 blocks (edge support 8) + a
    30-triangle chain (support 1, peels round one) + clique->chain
    bridges (support 0) + a K5-minus-an-edge gadget whose support-2
    fringe peels first and then starves its inner triangle — a 3-round
    cascade. Only the K10 edges survive, support 8. The oracle unrolls
    four materialized support-count/filter rounds."""
    from lib_gdal_spark.operators import graph as GG

    r = spark.range(0, 200)
    a = r.select(F.col("id").alias("u"), (F.col("id") / 10)
                 .cast("long").alias("ba"))
    b = r.select(F.col("id").alias("v"), (F.col("id") / 10)
                 .cast("long").alias("bb"))
    cliques = (a.join(b, (F.col("ba") == F.col("bb"))
                      & (F.col("u") < F.col("v"))).select("u", "v"))
    tri = spark.range(0, 30).select(
        (200 + F.col("id") * 2).alias("b0"))
    chain = None
    for du, dv in ((0, 1), (1, 2), (0, 2)):
        ed = tri.select((F.col("b0") + du).alias("u"),
                        (F.col("b0") + dv).alias("v"))
        chain = ed if chain is None else chain.unionByName(ed)
    bridges = spark.range(0, 10).select(
        (F.col("id") * 10).alias("u"), (200 + F.col("id") * 2).alias("v"))
    gadget = spark.createDataFrame(
        [(300 + x, 300 + y) for x, y in
         ((0, 2), (0, 3), (0, 4), (1, 2), (1, 3), (1, 4),
          (2, 3), (2, 4), (3, 4))], "u long, v long")
    e = cliques.unionByName(chain).unionByName(bridges).unionByName(gadget)
    return GG.ktruss(e, k=5)


def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph topology summary (reciprocity + Newman degree
    assortativity) on the 300-node functional graph: every Pearson term
    is an exact int64 sum, only the final division/round is floating
    point, spelled with identical parenthesization in the oracle."""
    from lib_gdal_spark.operators import graph as GG

    r = spark.range(0, 300).where(F.col("id") % 17 != 0)
    e1 = r.select(
        F.col("id").alias("u"), ((F.col("id") * 7 + 3) % 300).alias("v")
    )
    e2 = r.select(
        F.col("id").alias("u"), ((F.col("id") * 13 + 5) % 300).alias("v")
    )
    return GG.degree_stats(e1.unionByName(e2))


def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank / TrustRank (teleport + dangling mass land
    only on the seed set node % 60 == 7) on the same 300-node functional
    link graph as pagerank; same exact int64 fixed-point arithmetic,
    oracle = the seeded power iteration unrolled as a CTE chain."""
    from lib_gdal_spark.operators import graph as GG

    r = spark.range(0, 300).where(F.col("id") % 17 != 0)
    e1 = r.select(
        F.col("id").alias("u"), ((F.col("id") * 7 + 3) % 300).alias("v")
    )
    e2 = r.select(
        F.col("id").alias("u"), ((F.col("id") * 13 + 5) % 300).alias("v")
    )
    seeds = spark.range(0, 300).where(F.col("id") % 60 == 7).select(
        F.col("id").alias("node"))
    return GG.personalized_pagerank(e1.unionByName(e2), seeds)


def q_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative spam mass (Gyongyi et al., VLDB 2006) = (PR - TR) / PR
    on the shared 300-node functional link graph with trusted seeds
    node % 60 == 7: both fixed points in the same int64 units, so the
    difference is exact; oracle = both unrolled CTE chains joined."""
    from lib_gdal_spark.operators import graph as GG

    r = spark.range(0, 300).where(F.col("id") % 17 != 0)
    e1 = r.select(
        F.col("id").alias("u"), ((F.col("id") * 7 + 3) % 300).alias("v")
    )
    e2 = r.select(
        F.col("id").alias("u"), ((F.col("id") * 13 + 5) % 300).alias("v")
    )
    seeds = spark.range(0, 300).where(F.col("id") % 60 == 7).select(
        F.col("id").alias("node"))
    return GG.spam_mass(e1.unionByName(e2), seeds)


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact HITS hubs/authorities (4 iterations, L1-normalized
    fixed point) on the same 300-node functional link graph as pagerank;
    oracle = the identical integer arithmetic unrolled as a CTE chain."""
    from lib_gdal_spark.operators import graph as GG

    r = spark.range(0, 300).where(F.col("id") % 17 != 0)
    e1 = r.select(
        F.col("id").alias("u"), ((F.col("id") * 7 + 3) % 300).alias("v")
    )
    e2 = r.select(
        F.col("id").alias("u"), ((F.col("id") * 13 + 5) % 300).alias("v")
    )
    return GG.hits(e1.unionByName(e2)).select(
        "node", "hub_units", "auth_units")


def _link_fixture_edges(spark: SparkSession):
    """The 300-node functional link graph shared by pagerank/hits/salsa/
    harmonic (dangling nodes at id % 17 == 0)."""
    r = spark.range(0, 300).where(F.col("id") % 17 != 0)
    e1 = r.select(
        F.col("id").alias("u"), ((F.col("id") * 7 + 3) % 300).alias("v")
    )
    e2 = r.select(
        F.col("id").alias("u"), ((F.col("id") * 13 + 5) % 300).alias("v")
    )
    return e1.unionByName(e2)


def q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-sampled harmonic centrality (Boldi & Vigna 2014) from 8
    fixed roots on the 300-node functional link graph: one multi-source
    level-synchronous BFS, reciprocal distances summed as exact
    scale-div-d integers; oracle = recursive-CTE BFS with the same
    d < 20 cap (max seed eccentricity is 13)."""
    from lib_gdal_spark.operators import graph as GG

    return GG.harmonic_centrality(
        _link_fixture_edges(spark),
        seeds=[1, 31, 61, 91, 121, 151, 181, 211],
    ).select("node", "harmonic_units")


def q_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood function + exact effective diameter (HyperANF
    statistic, exact on 8 sampled sources) over the functional link
    graph: per-distance exact pair counts, cumulative shares, and the
    cross-multiplied 90% threshold row. The oracle reuses the
    recursive-CTE BFS and the identical window arithmetic."""
    from lib_gdal_spark.operators import graph as GG

    return GG.neighborhood_function(
        _link_fixture_edges(spark),
        seeds=[1, 31, 61, 91, 121, 151, 181, 211])


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-sampled Brandes betweenness (Brandes 2001; Brandes & Pich
    2007 sampling) from 4 fixed sources on the 300-node functional link
    graph: exact int64 shortest-path counts (sigma), then the dependency
    back-propagation in integer fixed point — D(v) = sum over DAG
    successors of (sigma_v * (scale + D(w))) div sigma_w — so every
    stage is order-independent. The oracle unrolls 16 BFS-sigma levels
    forward and 16 dependency levels backward with identical floor
    divisions."""
    from lib_gdal_spark.operators import graph as GG

    return GG.betweenness(_link_fixture_edges(spark),
                          seeds=[1, 31, 61, 91], max_dist=16)


def q_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full coreness decomposition (Batagelj-Zaversnik onion) of the
    functional link graph: incremental peels at k = 2, 3, 4 (the
    4-core is empty), nodes dropped at level k labeled k-1. The oracle
    unrolls six peel rounds per level over the same symmetric edges —
    fixture histogram 270x coreness-3, 28x 2, 2x 1."""
    from lib_gdal_spark.operators import graph as GG

    return GG.coreness(_link_fixture_edges(spark))


def q_degree_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity (Garlaschelli & Loffredo 2004) + out-in degree
    assortativity (Newman 2002) of the functional link graph: exact
    int64/decimal moment sums over edges, two final float expressions.
    The oracle spells identical HUGEINT moments and casts."""
    from lib_gdal_spark.operators import graph as GG

    return GG.degree_mixing(_link_fixture_edges(spark))


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient (Colizza et al. 2006) at k = 2, 3, 4 on
    the undirected view of the functional link graph: exact club-node
    and intra-club edge counts, phi = 2E/(N(N-1)) one float each."""
    from lib_gdal_spark.operators import graph as GG

    return GG.rich_club(_link_fixture_edges(spark), ks=[2, 3, 4])


def q_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact SALSA (Lempel & Moran 2001; 4 iterations of the
    degree-normalized hub/authority walk) on the same functional link
    graph as pagerank/hits; oracle = the identical floor-division
    arithmetic unrolled as a CTE chain."""
    from lib_gdal_spark.operators import graph as GG

    return GG.salsa(_link_fixture_edges(spark)).select(
        "node", "hub_units", "auth_units")


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood link prediction (Liben-Nowell & Kleinberg 2003) on
    the 300-node functional link graph: candidate non-edges scored by
    common-neighbor count, Jaccard, and preferential attachment — all
    integer arithmetic except one per-row rounded division; oracle =
    the identical wedge self-join + anti-join spelled in SQL."""
    from lib_gdal_spark.operators import graph as GG

    return GG.link_prediction(_link_fixture_edges(spark)).select(
        "a", "b", "cn", "deg_a", "deg_b", "jaccard", "pref_attach")


def q_nearblack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nearblack (nearblack_lib.cpp): the border-connected near-black
    collar zeroes; the interior near-black blob survives."""
    from lib_gdal_spark.operators import color as CL

    n, tile = 128, 32
    j, i = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    arr = np.full((n, n), 200.0)
    arr[j < 4] = 6.0
    arr[i < 3] = 9.0
    arr[(j >= 60) & (j < 64) & (i >= 60) & (i < 64)] = 3.0
    rows = []
    for ty in range(0, n, tile):
        for tx in range(0, n, tile):
            p = arr[ty:ty + tile, tx:tx + tile]
            rows.append(dict(
                raster_id="nb", band=1, zoom=0, tile_x=tx // tile,
                tile_y=ty // tile, dtype="float64", tile_w=tile, tile_h=tile,
                gt0=float(tx), gt1=1.0, gt2=0.0, gt3=float(ty), gt4=0.0,
                gt5=1.0, nodata=None, pixels=p.ravel().tolist(),
            ))
    tiles = spark.createDataFrame(pd.DataFrame(rows), schema=RS.RASTER_SCHEMA)
    out = CL.nearblack(tiles, spark, grid_w=n, grid_h=n, near=15.0,
                       target=0.0, tile=tile)
    return _explode_px(out, tile=tile).select("px", "py", "v")


def q_tile_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaltindex (apps/gdaltindex.cpp): one footprint row per raster —
    JVM-only bbox aggregate over the tile table; fixture extents are
    closed-form."""
    from lib_gdal_spark.operators import translate as T

    tiles = RS.fixture_rasters(spark)
    return T.tile_index(tiles).select(
        "raster_id", "minx", "miny", "maxx", "maxy"
    )


# predicate fixture pairs: (name, box_a, box_b) with rectangle-logic truth
_PRED_PAIRS = [
    ("overlap", (0.0, 0.0, 4.0, 4.0), (2.0, 2.0, 6.0, 6.0)),
    ("contain", (0.0, 0.0, 4.0, 4.0), (1.0, 1.0, 3.0, 3.0)),
    ("edge", (0.0, 0.0, 4.0, 4.0), (4.0, 0.0, 8.0, 4.0)),
    ("corner", (0.0, 0.0, 4.0, 4.0), (4.0, 4.0, 6.0, 6.0)),
    ("disjoint", (0.0, 0.0, 4.0, 4.0), (10.0, 10.0, 12.0, 12.0)),
    ("equal", (0.0, 0.0, 4.0, 4.0), (0.0, 0.0, 4.0, 4.0)),
]


def q_spatial_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGC predicates (ogrgeometry.cpp Intersects/Contains/Touches/
    Overlaps/Equals) over the boolean kernel; oracle = independent
    rectangle interval logic."""
    from collections.abc import Iterator as _It

    from lib_gdal_spark.functions import predicates as PR

    rows = [(name, bytearray(G.wkb_polygon([G.box_ring(*a)])),
             bytearray(G.wkb_polygon([G.box_ring(*b)])))
            for name, a, b in _PRED_PAIRS]
    df = local_df(spark, rows, "name string, wa binary, wb binary")

    def work(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            out = []
            for _, r in b.iterrows():
                a = G.polygon_rings(bytes(r["wa"]))
                bb = G.polygon_rings(bytes(r["wb"]))
                out.append({
                    "name": r["name"],
                    "intersects": PR.intersects(a, bb),
                    "contains": PR.contains(a, bb),
                    "touches": PR.touches(a, bb),
                    "overlaps": PR.overlaps(a, bb),
                    "equals": PR.equals(a, bb),
                })
            yield pd.DataFrame(out, columns=[
                "name", "intersects", "contains", "touches", "overlaps",
                "equals",
            ])

    return df.mapInPandas(
        work,
        schema="name string, intersects boolean, contains boolean, "
               "touches boolean, overlaps boolean, equals boolean",
    )


def _pred_expected() -> list[tuple]:
    """Rectangle interval logic, independent of the slab kernel."""
    rows = []
    for name, a, b in _PRED_PAIRS:
        ox = min(a[2], b[2]) - max(a[0], b[0])
        oy = min(a[3], b[3]) - max(a[1], b[1])
        inter_area = max(ox, 0.0) * max(oy, 0.0)
        contact = ox >= 0 and oy >= 0
        area_a = (a[2] - a[0]) * (a[3] - a[1])
        area_b = (b[2] - b[0]) * (b[3] - b[1])
        rows.append((
            name,
            inter_area > 0 or contact,
            inter_area == area_b and area_b > 0,
            inter_area == 0 and contact,
            0 < inter_area < min(area_a, area_b),
            inter_area == area_a == area_b,
        ))
    return rows


def q_contour_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contour per-level segment count + total world length: a chaining-
    invariant summary whose oracle mirrors the FULL 16-case marching
    squares (saddles included) in SQL over the closed-form fixture."""
    from lib_gdal_spark.operators import contour as CO

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    segs = CO.contour_segments(tiles, [128.5, 150.5])
    ln = F.sqrt(
        (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
        + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
    )
    return segs.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.round(F.sum(ln), 4).alias("total_len"),
    )


def q_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-matching: 500 deterministic points snapped to their nearest
    of 40 road segments within 8 units via the covering-cell bucketed
    join; oracle = global brute-force argmin with the identical
    projection arithmetic, so the gate also proves the bucketed
    candidate set is recall-complete."""
    from lib_gdal_spark.operators.mapmatch import match_points

    pts = spark.range(0, 500).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 37 % 997).cast("double") / 10.0).alias("x"),
        ((F.col("id") * 61 % 983).cast("double") / 10.0).alias("y"),
    )
    segs = spark.range(0, 40).select(
        F.col("id").alias("seg_id"),
        ((F.col("id") * 53 % 90).cast("double") + 2.0).alias("x1"),
        ((F.col("id") * 29 % 90).cast("double") + 3.0).alias("y1"),
        ((F.col("id") * 53 % 90).cast("double") + 2.0
         + (F.col("id") * 17 % 21).cast("double") - 10.0).alias("x2"),
        ((F.col("id") * 29 % 90).cast("double") + 3.0
         + (F.col("id") * 11 % 21).cast("double") - 10.0).alias("y2"),
    )
    out = match_points(pts, segs, max_dist=8.0)
    return out.select(
        "pid", "x", "y", "seg_id",
        F.round("t", 9).alias("t"), F.round("dist", 9).alias("dist"))


def q_knn_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-sized exact kNN (density-derived resolution + per-query
    exactness escalation, knn_kring_exact) — must equal brute force, so it
    shares the haversine oracle."""
    q = local_df(spark, KNN_QUERIES, "qid long, qlon double, qlat double")
    t = _points(spark, sf_dir).select(
        F.col("pid").alias("tid"), F.col("lon").alias("tlon"),
        F.col("lat").alias("tlat"),
    )
    out = KNN.knn_kring_exact(q, t, k=5)
    return out.select("qid", "tid", "rank", "dist_km")


def q_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic focal kernel filter (VRT KernelFilteredSource): 3x3
    binomial over the closed-form fixture; interior pixels are exact
    binary-fraction arithmetic, so the 9-term SQL sum matches bitwise."""
    from lib_gdal_spark.operators.dem import focal_convolution

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    k = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], dtype=np.float64) / 16.0
    out = focal_convolution(tiles, k, normalize=True)
    ex = _explode_px(out)
    return ex.where(
        F.col("px").between(1, 254) & F.col("py").between(1, 254)
    ).select("px", "py", F.col("v").alias("v"))


def q_morph_open(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary morphology over the world4326 fixture mask (v >= 128):
    3x3 erosion, dilation, and opening (= dilate(erode), TWO distributed
    halo-exchange rounds — stage two's halo strips come from stage one's
    output tiles, exercising dem_op composition). Interior pixels only;
    the oracle spells the 9-term least/greatest windows and the 81-term
    opening directly over the closed-form fixture."""
    from lib_gdal_spark.operators.dem import dem_op

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    er = dem_op(tiles, "morph_erode", threshold=128.0)
    di = dem_op(tiles, "morph_dilate", threshold=128.0)
    op = dem_op(er, "morph_dilate", threshold=0.5)
    e = _explode_px(er).select(
        "px", "py", F.col("v").cast("int").alias("eroded"))
    d = _explode_px(di).select(
        "px", "py", F.col("v").cast("int").alias("dilated"))
    o = _explode_px(op).select(
        "px", "py", F.col("v").cast("int").alias("opened"))
    return (
        e.join(d, ["px", "py"]).join(o, ["px", "py"])
        .where(F.col("px").between(2, 253) & F.col("py").between(2, 253))
        .select("px", "py", "eroded", "dilated", "opened")
    )


def q_openness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive topographic openness (Yokoyama et al. PE&RS 2002),
    radius L=8: mean over 8 azimuths of (90 - max elevation angle),
    computed through the generalized k-pixel halo exchange (dem_op_k —
    strips are 8 px wide, shuffle stays O(k*perimeter)). Interior
    pixels; the oracle spells all 64 slope samples, per-direction
    greatest, one atan per direction, and the left-fold mean."""
    from lib_gdal_spark.operators.dem import dem_op_k, openness_kernel

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = dem_op_k(tiles, 8, openness_kernel)
    ex = _explode_px(out)
    return ex.where(
        F.col("px").between(8, 247) & F.col("py").between(8, 247)
    ).select("px", "py", F.round("v", 6).alias("openness"))


def q_sky_view_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sky-view factor (Zaksek et al. 2011), radius 8, over world4326:
    trig-free via sin(atan(s)) = s/sqrt(1+s^2) — the oracle is bit-exact
    by construction (max, one fma-free multiply-add, sqrt, division),
    not by libm coincidence."""
    from lib_gdal_spark.operators.dem import dem_op_k, sky_view_factor_kernel

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = dem_op_k(tiles, 8, sky_view_factor_kernel)
    ex = _explode_px(out)
    return ex.where(
        F.col("px").between(8, 247) & F.col("py").between(8, 247)
    ).select("px", "py", F.round("v", 9).alias("svf"))


def q_geomorphons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geomorphon landform classification (Jasiewicz & Stepinski 2013,
    GRASS r.geomorphon), lookup radius L=8, flatness 1 deg, over
    world4326: 8-direction ternary pattern sign(max angle + min angle)
    -> (num_minus, num_plus) -> the paper's 9x9 form lookup. Trig-free
    tangent-space thresholding makes the class decision IEEE-exact in
    both engines (no libm atan at a boundary); the oracle spells all
    128 slope samples, 16 greatest/least reductions, the tangent
    addition rule, and the same lookup table."""
    from lib_gdal_spark.operators.dem import (
        GEOMORPHON_FORMS, dem_op_k, geomorphon_kernel)

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = dem_op_k(tiles, 8, geomorphon_kernel)
    ex = _explode_px(out).where(
        F.col("px").between(8, 247) & F.col("py").between(8, 247))
    form = (F.col("v") % 100).cast("int")
    name = F.when(form == 1, GEOMORPHON_FORMS[0])
    for i, n in enumerate(GEOMORPHON_FORMS[1:], start=2):
        name = name.when(form == i, n)
    return ex.select(
        "px", "py",
        F.floor(F.col("v") / 10000).cast("int").alias("num_minus"),
        (F.floor(F.col("v") / 100).cast("int") % 100).alias("num_plus"),
        form.alias("form"),
        name.alias("landform"),
    )


def q_jenks_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jenks natural breaks (Fisher exact DP), k=5, over world4326:
    exact distributed histogram -> driver DP over integer cumulants
    with the fixed float SSE expression s2 - (s*s)/n and smallest-m
    tie-break. The oracle unrolls the same 5-level DP over the fixture
    histogram in SQL (row_number argmin per level + backtrack chain) —
    equality proves the DP float-for-float."""
    from lib_gdal_spark.operators.stats import jenks_breaks

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return jenks_breaks(tiles, k=5)


def q_tpi_landforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weiss multi-scale TPI landform facets (Weiss 2001) over
    world4326: TPI at radii 2 and 8 quantized to exact 1e-6 units,
    z-scored in the single-division form (q*n - s)/sqrt(n*s2 - s^2)
    over the interior window, classified with Horn slope at 5 deg. The
    oracle spells the 24- and 288-term window sums, the identical
    HUGEINT moments, and the same CASE chain."""
    from lib_gdal_spark.operators.dem import tpi_landforms

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return tpi_landforms(tiles)


def q_otsu_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Otsu automatic threshold (1979) over world4326: exact int64
    histogram + cumulative sums, one float between-class-variance
    expression per present value, argmax with (var DESC, t ASC)
    tie-break. The oracle spells the identical cumulation and argmax
    over the closed-form fixture histogram."""
    from lib_gdal_spark.operators.stats import otsu_threshold

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return otsu_threshold(tiles)


def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal range / population std / majority (r.neighbors analog)
    over the world4326 3x3 windows via the halo exchange. Integer-exact
    range and majority (mode, ties to smallest); std from exact int
    sums with an explicit half-up 1e-6 quantization so both engines
    floor the identical double. The oracle spells all 9 samples, 81
    equality counts, and the same variance expression."""
    from lib_gdal_spark.operators.dem import dem_op_k, focal_stats_kernel

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = dem_op_k(tiles, 1, focal_stats_kernel)
    ex = _explode_px(out).where(
        F.col("px").between(1, 254) & F.col("py").between(1, 254))
    return ex.select(
        "px", "py",
        F.floor(F.col("v") / 1e12).cast("long").alias("f_majority"),
        (F.floor(F.col("v") / 1e9) % 1000).cast("long").alias("f_range"),
        ((F.col("v") % 1e9) / 1e6).alias("f_std"),
    )


def q_dem_vrm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector ruggedness measure (Sappington 2007) over world4326 on the
    k=2 halo path: 9 Horn-gradient unit normals per cell, fixed-order
    fold — squares/sums/sqrt/divisions only, no trig, so the oracle is
    exact by construction."""
    from lib_gdal_spark.operators.dem import dem_op_k, vrm_kernel

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = dem_op_k(tiles, 2, vrm_kernel)
    ex = _explode_px(out)
    return ex.where(
        F.col("px").between(2, 253) & F.col("py").between(2, 253)
    ).select("px", "py", F.round("v", 9).alias("vrm"))


def q_zonal_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster cross-tabulation (GRASS r.cross / confusion-matrix
    primitive): world4326 banded into 8 zones (v//32) crossed with
    gradient256 banded into 4 classes (v//64) — per-pair pixel count
    and ground area (zone raster's |gt1*gt5| = 2025/2048, dyadic so the
    area sum is exact). Co-partitioned tile join + NumPy unique per
    tile; only sparse partials shuffle."""
    from lib_gdal_spark.operators.stats import zonal_crosstab

    rast = RS.fixture_rasters(spark)
    zt = rast.where(F.col("raster_id") == "world4326")
    ct = rast.where(F.col("raster_id") == "gradient256")
    out = zonal_crosstab(zt, ct,
                         zone_fn=lambda a: a // 32.0,
                         class_fn=lambda a: a // 64.0)
    return out.select("zone", "cls", "n",
                      F.round("area", 6).alias("area"))


def q_graph_kshortest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GNM K-shortest paths (gnmgraph.cpp:233, Yen) on a 4x4 grid DAG with
    closed-form weights; the oracle enumerates every simple path by
    recursive CTE and takes the 3 cheapest."""
    from lib_gdal_spark.operators import graph as GG

    rows = []
    for r in range(4):
        for c in range(4):
            u = 4 * r + c
            if c < 3:
                rows.append((u, u + 1, 1.0 + ((u * 7919) % 97) / 89.0))
            if r < 3:
                rows.append((u, u + 4, 1.0 + ((u * 104729) % 89) / 83.0))
    edges = local_df(spark, rows, "u long, v long, w double")
    paths = GG.k_shortest_paths(edges, 0, 15, k=3, directed=True)
    out = [(i + 1, round(cost, 6), "-".join(map(str, path)))
           for i, (path, cost) in enumerate(paths)]
    return local_df(spark, out, "rank int, cost double, path string")


def q_dem_aspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn aspect (gdaldem_lib.cpp aspect branch, compass 0..360)."""
    return _dem_pixels(spark, "aspect", round_to=6)


def q_dem_tri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terrain Ruggedness Index (mean |neighbor - center|)."""
    return _dem_pixels(spark, "tri", round_to=6)


def q_dem_tpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topographic Position Index (center - neighbor mean)."""
    return _dem_pixels(spark, "tpi", round_to=6)


def q_dem_roughness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roughness (window max - min)."""
    return _dem_pixels(spark, "roughness", round_to=6)


def q_translate_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RasterIO auto overview selection (rasterio.cpp:254): a 4x
    decimation of the pyramided gradient picks the zoom-2 overview, whose
    pixels are the closed form 2i + 2j + 1 — read directly, no residual
    resampling."""
    from lib_gdal_spark.operators import translate as T

    base = RS.fixture_rasters(spark).where(F.col("raster_id") == "gradient256")
    pyr = RAST.build_pyramid(base, levels=2, alg="average")
    out = T.translate_window_auto(pyr, "gradient256", (0, 0, 256, 256),
                                  outsize=(64, 64))
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


# TPS warp fixture: the spline interpolates an EXACT affine dst->lonlat
# map (8 control points), so the warp reduces to closed-form sampling; the
# 0.4/0.37-degree offsets keep source pixel coordinates ~0.28 px away from
# cell boundaries, robust to the spline's ~1e-9 reproduction error.
_TPS_AFF = (-179.6, 2.8125, -89.63, 1.40625)  # lon0, dlon/dx, lat0, dlat/dy


def q_warp_tps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp through a thin-plate-spline transformer
    (thinplatespline.cpp -> the warp transform hook): TPS fitted on affine
    GCPs must reproduce the affine warp exactly."""
    from lib_gdal_spark.functions import transforms as TR

    lon0, klon, lat0, klat = _TPS_AFF
    ctrl_src = np.array([[0, 0], [128, 0], [0, 128], [128, 128],
                         [64, 64], [32, 96], [96, 32], [64, 16]],
                        dtype=np.float64)
    ctrl_dst = np.column_stack([
        lon0 + ctrl_src[:, 0] * klon, lat0 + ctrl_src[:, 1] * klat,
    ])
    tps = TR.ThinPlateSpline(ctrl_src, ctrl_dst)
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = RAST.warp_to_crs_tiles_dist(
        tiles, (0.0, 1.0, 0.0, 128.0, 0.0, -1.0), 128, 128, tps,
        alg="nearest", tile=64,
    )
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


# RPC warp fixture: a mild rational camera over a 256px image with
# identity geotransform; the RPC00B polynomials are plain arithmetic, so
# the oracle evaluates them directly.
_RPC_C = dict(
    LAT_OFF=40.0, LAT_SCALE=0.5, LONG_OFF=7.0, LONG_SCALE=0.5,
    HEIGHT_OFF=500.0, HEIGHT_SCALE=500.0,
    LINE_OFF=128.0, LINE_SCALE=120.0, SAMP_OFF=128.0, SAMP_SCALE=120.0,
)


def _rpc_obj():
    from lib_gdal_spark.functions import transforms as TR

    ln = np.zeros(20); ln[2] = 1.0; ln[1] = 0.02; ln[7] = 0.001
    sn = np.zeros(20); sn[1] = 1.0; sn[2] = -0.015; sn[8] = 0.002
    den = np.zeros(20); den[0] = 1.0; den[1] = 0.0005; den[2] = 0.0003
    c = dict(_RPC_C)
    c.update(LINE_NUM=ln, LINE_DEN=den.copy(),
             SAMP_NUM=sn, SAMP_DEN=den.copy())
    return TR.RPCTransformer(c, height=500.0)


def q_warp_rpc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp through the RPC camera transformer (gdal_rpc.cpp): dst is
    a lon/lat grid, the source image lives in sensor pixel space with an
    identity geotransform, and the RPC forward maps dst coords to sensor
    samp/line."""
    rpc = _rpc_obj()
    arr = RS.gradient(256).astype(np.float64)
    rows = RS.tiles_from_array("rpcimg", arr, (0.0, 1.0, 0.0, 0.0, 0.0, 1.0),
                               tile=64)
    tiles = spark.createDataFrame(pd.DataFrame(rows), schema=RS.RASTER_SCHEMA)

    def inverse(x, y):  # dst world = (lon, lat) -> sensor (samp, line)
        return rpc.forward(np.asarray(x), np.asarray(y))

    dst_gt = (6.8, 0.4 / 128, 0.0, 40.2, 0.0, -0.4 / 128)
    out = RAST.warp_to_crs_tiles_dist(tiles, dst_gt, 128, 128, inverse,
                                      alg="nearest", tile=64)
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


# GeoLoc warp fixture: affine geolocation arrays (bilinear interpolation
# of an affine mesh IS the affine), so the Newton inverse has a closed
# form the oracle can mirror: px = (lon - 10.3)/0.05, py = (lat - 45.17)
# / -0.03 with a non-lattice origin keeping samples off cell boundaries.
_GEOLOC_AFF = (10.3, 0.05, 45.17, -0.03)


def q_warp_geoloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp through the geolocation-array transformer
    (gdalgeoloc.cpp): per-pixel lon/lat arrays define the sensor geometry;
    the warp inverse-maps dst lon/lat to sensor pixels via the backmap."""
    from lib_gdal_spark.functions import transforms as TR

    lon0, kx, lat0, ky = _GEOLOC_AFF
    gy, gx = np.meshgrid(np.arange(256), np.arange(256), indexing="ij")
    lon_arr = lon0 + gx * kx
    lat_arr = lat0 + gy * ky
    gl = TR.GeolocTransformer(lon_arr, lat_arr)

    arr = RS.gradient(256).astype(np.float64)
    rows = RS.tiles_from_array("glimg", arr, (0.0, 1.0, 0.0, 0.0, 0.0, 1.0),
                               tile=64)
    tiles = spark.createDataFrame(pd.DataFrame(rows), schema=RS.RASTER_SCHEMA)

    def inverse(x, y):  # dst world (lon, lat) -> sensor pixel
        return gl.inverse(np.asarray(x), np.asarray(y))

    # dst window inside the swath: lon 11..21, lat 38..44
    dst_gt = (11.0, 10.0 / 64, 0.0, 44.0, 0.0, -6.0 / 64)
    out = RAST.warp_to_crs_tiles_dist(tiles, dst_gt, 64, 64, inverse,
                                      alg="nearest", tile=32)
    return _explode_px(out, tile=32).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_layer_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR Identity (ogrlayer.cpp:3183): intersections carry m_fid, the
    erased remainder carries NULL — rectangle-arithmetic oracle."""
    from lib_gdal_spark.operators import layer_algebra as LA

    inputs, method = _ov_layers(spark)
    out = LA.identity_overlay(inputs, method, res=3)
    return out.select("in_fid", "m_fid", F.round("area", 6).alias("area"))


def q_layer_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR Clip (ogrlayer.cpp:3820): per-feature clipped area + pieces."""
    from lib_gdal_spark.operators import layer_algebra as LA

    inputs, method = _ov_layers(spark)
    out = LA.clip(inputs, method, res=3)
    return out.select("in_fid", F.round("area", 6).alias("area"), "n_pieces")


def q_dither_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floyd-Steinberg dither (gdaldither.cpp) with an exact-hit palette:
    a two-color checker maps losslessly to palette indices (zero residual
    error diffuses), so the output is the closed-form parity."""
    from lib_gdal_spark.operators import color as CL

    n, tile = 128, 64
    j, i = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    vals = ((i + j) % 2).astype(np.float64) * 100.0
    rows = []
    for band in (1, 2, 3):
        rows += RS.tiles_from_array("chk", vals,
                                    (0.0, 1.0, 0.0, 0.0, 0.0, 1.0),
                                    tile=tile, band=band)
    tiles = spark.createDataFrame(pd.DataFrame(rows), schema=RS.RASTER_SCHEMA)
    out = CL.dither_rgb_to_pct(tiles, [(0, 0, 0), (100, 100, 100)])
    return _explode_px(out).select(
        "px", "py", F.col("v").cast("long").alias("v")
    )


def q_cutline_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutline blend density (CUTLINE_BLEND_DIST): signed rectangle
    distance has a closed form the oracle mirrors."""
    from lib_gdal_spark.operators.raster import cutline_density_tiles

    cut = [np.array([[16.0, 16.0], [48.0, 16.0], [48.0, 48.0],
                     [16.0, 48.0], [16.0, 16.0]])]
    out = cutline_density_tiles(
        spark, (0.0, 1.0, 0.0, 0.0, 0.0, 1.0), 64, 64, cut,
        blend_dist=4.0, tile=32,
    )
    return _explode_px(out, tile=32).select(
        "px", "py", F.round("v", 6).alias("v")
    )


def q_ogr_execute_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OGR SQL STRING front-end itself (swq_parser.y semantics via
    plans/ogr_parser.execute_sql) — two-valued NULL logic, ci-LIKE and the
    summary mode all through one parsed statement."""
    from lib_gdal_spark.plans.ogr_parser import execute_sql

    tables = {"lineitem": _t(spark, sf_dir, "lineitem")}
    return execute_sql(
        tables,
        "SELECT COUNT(*) AS n, MIN(l_quantity) AS mn, MAX(l_quantity) AS mx "
        "FROM lineitem WHERE NOT l_tax > 0.05 "
        "AND l_returnflag IN ('A', 'R')",
    )


def q_ogr_multijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained multi-JOIN through the OGR SQL string front-end
    (swq_parser.y secondary-table joins): customer->nation->region with
    WHERE + ORDER BY + LIMIT, all from one parsed statement. Unique join
    keys make OGR's first-match-only LEFT JOIN coincide with ANSI."""
    from lib_gdal_spark.plans.ogr_parser import execute_sql

    tables = {
        t: _t(spark, sf_dir, t) for t in ("customer", "nation", "region")
    }
    return execute_sql(
        tables,
        "SELECT c_custkey, c_acctbal, n_name, r_name FROM customer "
        "LEFT JOIN nation ON c_nationkey = n_nationkey "
        "LEFT JOIN region ON n_regionkey = r_regionkey "
        "WHERE c_acctbal > 9000 ORDER BY c_custkey LIMIT 50",
    )


def q_ogr_special_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Special virtual fields FID / OGR_GEOMETRY / OGR_GEOM_AREA /
    OGR_STYLE through the SQL front-end (ogr_p.h:121-128,
    ogrfeature.cpp:1868-1885): geometry-derived columns usable in SELECT,
    WHERE and ORDER BY; area via the shoelace pandas-UDF, type name pure
    JVM from the WKB header."""
    from collections.abc import Iterator as _It

    from lib_gdal_spark.plans.ogr_parser import execute_sql

    pts = _points(spark, sf_dir).where(F.col("pid") < 2000)

    def boxes(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            rows = []
            for pid, lon, lat in zip(b["pid"], b["lon"], b["lat"]):
                wx = 1.0 + (pid % 5) * 0.5
                wy = 0.75 + (pid % 3) * 0.25
                ring = G.box_ring(lon - wx, lat - wy, lon + wx, lat + wy)
                rows.append({
                    "fid": pid,
                    "geom_wkb": G.wkb_polygon([ring]),
                    "ogr_style": f"BRUSH(fc:#{pid % 100:02d})",
                })
            yield pd.DataFrame(rows,
                               columns=["fid", "geom_wkb", "ogr_style"])

    layer = pts.mapInPandas(
        boxes, schema="fid long, geom_wkb binary, ogr_style string"
    )
    out = execute_sql(
        {"boxes": layer},
        "SELECT FID AS fid, OGR_GEOMETRY AS gtype, OGR_GEOM_AREA AS area, "
        "OGR_STYLE AS style FROM boxes "
        "WHERE OGR_GEOM_AREA > 8.2 ORDER BY FID",
        style_col="ogr_style",
    )
    return out.withColumn("area", F.round("area", 6))


def q_ogr_geometry_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-geometry-type layer through the widened WKT->WKB codec
    (ogr_core.h:317-410 type set incl. MultiPoint/MultiLineString/
    GeometryCollection + Z, and the ogr_core.h:456-478 M/ZM measured
    variants) and the special virtual fields. ``dim`` is the ISO
    dimension flag read back from the WKB type word; ``m_max`` is the
    measure range upper bound (measure_bounds), proving M ordinates
    survive the WKT->WKB->parse round trip."""
    from lib_gdal_spark.plans.ogr_parser import execute_sql

    def mk_wkt(fid: int) -> str:
        w = 1.0 + (fid % 4)
        k = fid % 10
        if k == 0:
            return f"POINT ({fid} {fid + 1})"
        if k == 1:
            return f"LINESTRING (0 0, {w} {w}, {2 * w} 0)"
        if k == 2:
            return (f"POLYGON ((0 0, {w} 0, {w} {w}, 0 {w}, 0 0))")
        if k == 3:
            return f"MULTIPOINT (({fid} 0), (0 {fid}), ({w} {w}))"
        if k == 4:
            return (f"MULTILINESTRING ((0 0, {w} 0), (0 1, {w} 1, {w} 2))")
        if k == 5:
            return (f"MULTIPOLYGON (((0 0, {w} 0, {w} {w}, 0 {w}, 0 0)), "
                    f"((9 9, {9 + w / 2} 9, {9 + w / 2} {9 + w / 2}, "
                    f"9 {9 + w / 2}, 9 9)))")
        if k == 6:
            return f"POINT M ({fid} {fid + 1} {fid * 10})"
        if k == 7:
            return f"POINT ZM ({fid} {fid + 1} 5 {fid * 10})"
        if k == 8:
            return f"LINESTRING M (0 0 0, {w} {w} {w}, {2 * w} 0 {2 * w})"
        return (f"POLYGON ZM ((0 0 1 0, {w} 0 1 1, {w} {w} 1 2, "
                f"0 {w} 1 3, 0 0 1 0))")

    pdf = pd.DataFrame({"fid": range(100)})
    pdf["wkt"] = pdf["fid"].map(mk_wkt)
    base = spark.createDataFrame(pdf, schema="fid long, wkt string")

    def to_wkb(batches):
        from lib_gdal_spark.functions.geometry import (measure_bounds,
                                                       wkb_dim_flag)
        from lib_gdal_spark.functions.wkt import wkt_to_wkb
        for b in batches:
            wkbs = b["wkt"].map(lambda s: wkt_to_wkb(s))
            mb = wkbs.map(measure_bounds)
            yield pd.DataFrame({
                "fid": b["fid"],
                "geom_wkb": wkbs,
                "dim": wkbs.map(wkb_dim_flag),
                "m_max": mb.map(lambda t: t[1] if t else None),
            })

    layer = base.mapInPandas(
        to_wkb, schema="fid long, geom_wkb binary, dim string, m_max double")
    out = execute_sql(
        {"lyr": layer},
        "SELECT FID AS fid, OGR_GEOMETRY AS gtype, OGR_GEOM_AREA AS area, "
        "dim, m_max FROM lyr ORDER BY FID",
    )
    return out.withColumn("area", F.round("area", 6))


def q_ogr_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogr2ogr -t_srs: vector-layer reprojection through the EPSG registry
    (every WKB coordinate src.inverse -> dst.forward, Arrow-batched) —
    4326 boxes to web-mercator, envelopes value-checked."""
    from collections.abc import Iterator as _It

    from lib_gdal_spark.functions import crs as CRS

    pts = _points(spark, sf_dir).where(F.col("pid") < 1500)
    # mercator needs |lat| < 90; boxes stay inside +-85
    pts = pts.where((F.col("lat") > -83.0) & (F.col("lat") < 83.0))

    def boxes(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            rows = []
            for pid, lon, lat in zip(b["pid"], b["lon"], b["lat"]):
                ring = G.box_ring(lon - 1.0, lat - 0.5, lon + 1.0, lat + 0.5)
                rows.append({"fid": pid, "geom_wkb": G.wkb_polygon([ring])})
            yield pd.DataFrame(rows, columns=["fid", "geom_wkb"])

    layer = pts.mapInPandas(boxes, schema="fid long, geom_wkb binary")
    out = CRS.reproject_layer(layer, 4326, 3857)

    def envs(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            rows = []
            for fid, wkb in zip(b["fid"], b["geom_wkb"]):
                minx, miny, maxx, maxy = G.envelope(bytes(wkb))
                rows.append((fid, minx, miny, maxx, maxy))
            yield pd.DataFrame(
                rows, columns=["fid", "minx", "miny", "maxx", "maxy"])

    env = out.mapInPandas(
        envs, schema="fid long, minx double, miny double, "
                     "maxx double, maxy double")
    return env.select(
        "fid", F.round("minx", 4).alias("minx"),
        F.round("miny", 4).alias("miny"),
        F.round("maxx", 4).alias("maxx"),
        F.round("maxy", 4).alias("maxy"),
    )


def q_raster_pyramid_cksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGE pyramid levels 0-2 of the gradient fixture, checksummed —
    every level has a closed form ((i+j)//2, i+j, 2i+2j+1), so the GDAL
    checksum (gdalchecksum.cpp mod-primes sum) is SQL-computable."""
    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "gradient256")
    pyr = RAST.build_pyramid(tiles, levels=2, alg="average")
    return RAST.checksum_rasters(pyr).select("zoom", "checksum")


def q_vshift_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalapplyverticalshiftgrid: DEM (feet) + planar shift grid ->
    meters.  The grid's values are LINEAR in world coords, so bilinear
    resampling reproduces the plane exactly and the oracle is the closed
    form (gdalapplyverticalshiftgrid.cpp:284-295)."""
    from lib_gdal_spark.operators.vshift import apply_vertical_shift_grid

    j, i = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
    arr = ((i * 7 + j * 13) % 200).astype(np.float64)
    arr[(i * 31 + j) % 97 == 0] = -1.0
    src = spark.createDataFrame(
        pd.DataFrame(RS.tiles_from_array(
            "dem", arr, (100.0, 2.0, 0.0, 200.0, 0.0, -2.0), nodata=-1.0)),
        schema=RS.RASTER_SCHEMA)
    gj, gi = np.meshgrid(np.arange(16), np.arange(16), indexing="ij")
    grid = spark.createDataFrame(
        pd.DataFrame(RS.tiles_from_array(
            "vgrid", (0.5 * gi + 0.25 * gj).astype(np.float64),
            (0.0, 32.0, 0.0, 256.0, 0.0, -16.0))),
        schema=RS.RASTER_SCHEMA)
    out = apply_vertical_shift_grid(src, grid, src_unit_to_meter=0.3048)
    return _explode_px(out).select(
        "px", "py", F.round("v", 6).alias("v"))


def q_flatten_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalflattenmask: burn mask==0 into nodata via JVM zip_with
    (apps/gdalflattenmask.c:275-295)."""
    from lib_gdal_spark.operators.vshift import flatten_mask

    j, i = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
    data = ((i + j) % 251).astype(np.float64)
    mask = np.where((i // 4 + j // 4) % 2 == 0, 255, 0).astype(np.float64)
    d = spark.createDataFrame(
        pd.DataFrame(RS.tiles_from_array("r", data, (0, 1, 0, 0, 0, -1))),
        schema=RS.RASTER_SCHEMA)
    m = spark.createDataFrame(
        pd.DataFrame(RS.tiles_from_array("r", mask, (0, 1, 0, 0, 0, -1))),
        schema=RS.RASTER_SCHEMA)
    out = flatten_mask(d, m, nodata=-9999.0)
    return _explode_px(out).select("px", "py", F.col("v").cast("long").alias("v"))


def _lineref_tables(spark, n_paths: int = 10):
    """L-path LINESTRING (0 0, 100 0, 100 50) fixture, shifted per path;
    5 repers at measures 1000+40g sit 0.3 off the path at arc 5+35g."""
    from lib_gdal_spark.session import local_df as _ldf

    paths, reps = [], []
    base = np.array([[0.0, 0.0], [100.0, 0.0], [100.0, 50.0]])
    for p in range(n_paths):
        off = 1000.0 * p
        paths.append((f"p{p}", G.wkb_linestring(base + off)))
        for g in range(5):
            m = 1000.0 + 40.0 * g
            d = 5.0 + 35.0 * g
            x, y = (d, 0.3) if d <= 100.0 else (100.3, d - 100.0)
            reps.append((f"p{p}", m, x + off, y + off))
    return (
        _ldf(spark, paths, "path_id string, geom_wkb binary"),
        _ldf(spark, reps, "path_id string, measure double, x double, y double"),
    )


def q_lineref_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogrlineref -create (apps/ogrlineref.cpp:596-1028): picket parts
    with beg/end/scale_factor; closed-form L-path fixture (head/tail
    scale 1.0, interior 35/40 = 0.875, lengths 5 / 17.5)."""
    from lib_gdal_spark.operators import lineref as LR

    path_df, rep_df = _lineref_tables(spark)
    parts = LR.create_parts(path_df, rep_df, step=20.0)

    def lengths(batches):
        for pdf in batches:
            ln = []
            for w in pdf["geom_wkb"]:
                base, pts = G.parse_wkb(bytes(w))
                pts = np.asarray(pts)
                ln.append(float(np.hypot(*np.diff(pts, axis=0).T).sum()))
            pdf = pdf.copy()
            pdf["length"] = ln
            yield pdf[["path_id", "part_id", "beg", "end", "length",
                       "scale_factor"]]

    out = parts.mapInPandas(
        lengths, schema="path_id string, part_id int, beg double, "
                        "end double, length double, scale_factor double")
    return out.select(
        "path_id", "part_id", F.round("beg", 6).alias("beg"),
        F.round("end", 6).alias("end"),
        F.round("length", 6).alias("length"),
        F.round("scale_factor", 6).alias("scale_factor"))


def q_lineref_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogrlineref -get_pos (apps/ogrlineref.cpp:1175-1237): nearest part
    -> beg + proj/scale.  Query points sit y above the horizontal leg, so
    refdist = 1000 + (x-5)/0.875 in closed form."""
    from lib_gdal_spark.operators import lineref as LR
    from lib_gdal_spark.session import local_df as _ldf

    path_df, rep_df = _lineref_tables(spark, n_paths=1)
    parts = LR.create_parts(path_df, rep_df, step=20.0)
    pts = _ldf(
        spark,
        [(q, 6.5 + 2.9 * q, 0.5 + (q % 7) * 0.3) for q in range(30)],
        "point_id int, x double, y double")
    out = LR.get_position(parts, pts)
    return out.select(
        "point_id", "part_id",
        F.round("refdist", 6).alias("refdist"),
        F.round("dist", 6).alias("dist"))


def q_lineref_coord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogrlineref -get_coord (apps/ogrlineref.cpp:1242-1297): part with
    beg < m < end evaluated at (m-beg)*scale; closed-form arc
    d = 5 + (m-1000)*0.875 on the L-path."""
    from lib_gdal_spark.operators import lineref as LR
    from lib_gdal_spark.session import local_df as _ldf

    path_df, rep_df = _lineref_tables(spark, n_paths=1)
    parts = LR.create_parts(path_df, rep_df, step=20.0)
    pos = _ldf(spark, [(q, 1000.5 + 7.25 * q) for q in range(22)],
               "pos_id int, m double")
    out = LR.get_coordinates(parts, pos)
    return out.select(
        "pos_id", "part_id",
        F.round("x", 6).alias("x"), F.round("y", 6).alias("y"))


def q_surf_hessian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One fast-Hessian octave layer of the SURF correlator
    (gdal_octave.cpp:171-226, octave 1 / interval 2 => 13px filter) over a
    40x40 integer fixture.  The oracle rebuilds the integral image with two
    window cumsums (exact integer SATs), evaluates the same eight clamped
    rectangle sums, and keeps the kernel's float op order (casts force
    DOUBLE so DuckDB's DECIMAL literals can't change the arithmetic) —
    det/sign match bitwise."""
    from lib_gdal_spark.operators import matching as MATCH

    yy, xx = np.meshgrid(np.arange(40), np.arange(40), indexing="ij")
    img = ((17 * xx + 31 * yy + xx * yy) % 97).astype(np.float64)
    tiles = spark.createDataFrame(
        pd.DataFrame(RS.tiles_from_array("hess", img, (0, 1, 0, 0, 0, -1))),
        schema=RS.RASTER_SCHEMA)
    out = MATCH.hessian_layer(tiles, octave=1, interval=2, to_gray=False)
    return out.select("r", "c", "det", "sign")


def _match_fixture(n: int = 160) -> np.ndarray:
    """Deterministic texture: integer-hash noise (Knuth multiplicative,
    no RNG state) smoothed once with a 3x3 box so scale-space extrema are
    distinctive but plentiful."""
    yy, xx = np.meshgrid(np.arange(n, dtype=np.int64),
                         np.arange(n, dtype=np.int64), indexing="ij")
    h = (xx * 2654435761 + yy * 2246822519 + xx * yy * 3266489917) % (1 << 32)
    base = h.astype(np.float64) / float(1 << 32)
    img = np.zeros_like(base)
    for di in (-1, 0, 1):
        for dj in (-1, 0, 1):
            img += np.roll(np.roll(base, di, 0), dj, 1)
    return img * (255.0 / 9.0)


def q_feature_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALComputeMatchingPoints end-to-end (gdalmatching.cpp:188-316):
    SURF extraction on both frames of a (7,4)-shifted pair in parallel
    tasks, greedy ratio-test matching in a third, GCPs out.  The matcher
    is order-dependent/sequential by reference semantics, so this entry is
    rows-only checked (no SQL equivalent); exact shift recovery is asserted
    in tests/test_matching.py."""
    from lib_gdal_spark.operators import matching as MATCH

    base = _match_fixture()
    img1 = base[10:138, 10:138]
    img2 = base[6:134, 3:131]   # img2(x+7, y+4) == img1(x, y)

    def df(arr, rid):
        return spark.createDataFrame(
            pd.DataFrame(RS.tiles_from_array(rid, arr, (0, 1, 0, 0, 0, -1))),
            schema=RS.RASTER_SCHEMA)

    out = MATCH.compute_matching_points(
        df(img1, "a"), df(img2, "b"),
        octave_start=1, octave_end=2, surf_threshold=1e-5,
        matching_threshold=0.015)
    return out.select("gcp_id", "pixel", "line", "gcp_x", "gcp_y",
                      F.round("dist", 9).alias("dist"))


def q_gdal_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalinfo report (apps/gdalinfo_lib.cpp): size, UL/LR corner coords
    through the affine transform (GDALInfoReportCorner :1440), band
    min/max/mean/stddev (ComputeStatistics, population stddev). byte20's
    stats row reproduces the reference's published byte.tif statistics
    (mean 126.765 / stddev 22.928) as an independent anchor."""
    from lib_gdal_spark.operators import info as INF

    tiles = RS.fixture_rasters(spark).where(
        F.col("raster_id").isin("byte20", "gradient256", "checker64")
    )
    out = INF.raster_info(tiles)
    return out.select(
        "raster_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "ulx", "uly", "lrx", "lry", "n", "vmin", "vmax", "mean", "stddev",
    )


def q_raster_to_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal2ogr (apps/gdal2ogr.c:269): POINT25D per sampled pixel at the
    cell center (j+.5, i+.5) through the geotransform, z = value,
    -step 3 stride — pure JVM posexplode projection."""
    from lib_gdal_spark.operators import info as INF

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "gradient256")
    out = INF.raster_to_points(tiles, step=3)
    return out.select("fid", "x", "y", F.col("z").cast("long").alias("z"))


def q_dump_overviews(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dumpoverviews (apps/dumpoverviews.cpp): every overview level as its
    own raster — AVERAGE cascade on checker64, levels 0-2 exploded to
    global pixels. Blocks never straddle the 8-px squares through level
    2, so each level is exactly the coarser checkerboard."""
    from lib_gdal_spark.operators import info as INF

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "checker64")
    d = INF.dump_overviews(tiles, 2, alg="average", tile=64)
    ex = d.select("level", "tile_x", "tile_y", "tile_w",
                  F.posexplode("pixels").alias("pos", "v"))
    px = (F.col("tile_x") * 64 + F.col("pos") % F.col("tile_w")).cast("long")
    py = (F.col("tile_y") * 64
          + (F.col("pos") / F.col("tile_w")).cast("int")).cast("long")
    return ex.select(F.col("level").cast("long").alias("level"),
                     px.alias("px"), py.alias("py"),
                     F.col("v").cast("long").alias("v"))


def q_ogr_layer_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogrinfo -so (apps/ogrinfo.cpp): feature count + extent +
    geometry-type tally over a mixed POINT/LINESTRING/POLYGON layer built
    from the deterministic events points; envelopes parsed from WKB in
    one Arrow pass, metadata-sized groupBy."""
    from collections.abc import Iterator as _It

    from lib_gdal_spark.operators import info as INF

    pts = _points(spark, sf_dir)

    def geoms(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as _np

        for b in batches:
            if len(b) == 0:
                continue
            rows = []
            for pid, lon, lat in zip(b["pid"], b["lon"], b["lat"]):
                m = pid % 3
                if m == 0:
                    g = G.wkb_point(lon, lat)
                elif m == 1:
                    g = G.wkb_polygon(
                        [G.box_ring(lon, lat, lon + 2.0, lat + 3.0)]
                    )
                else:
                    g = G.wkb_linestring(
                        _np.array([[lon, lat], [lon + 5.0, lat - 1.0]])
                    )
                rows.append({"fid": pid, "geom_wkb": g})
            yield pd.DataFrame(rows)

    layer = pts.mapInPandas(geoms, schema="fid long, geom_wkb binary")
    return INF.layer_summary(layer).select(
        F.col("geom_type").cast("long").alias("geom_type"),
        "n_features", "minx", "miny", "maxx", "maxy",
    )


_SRS_CODES = [4326, 3857, 32611, 32733, 26910, 25832, 5070, 3577,
              2154, 3347, 3031, 3413, 3976, 3995,
              27700, 2193, 54008, 54009, 4267, 3035, 28992, 5514, 30200,
              29101, 3395, 3002, 4087, 29873, 32661, 32761,
              26985, 32139, 32111]


def q_srs_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalsrsinfo (apps/gdalsrsinfo.cpp): projection method + parameters
    per EPSG code from the registry, evaluated in executors (Arrow
    batch). The polar-stereographic k0 is *derived* (Snyder 21-32..34)
    and the oracle recomputes it independently in SQL."""
    from lib_gdal_spark.functions import crs as CRS

    codes = spark.createDataFrame(
        [(c,) for c in _SRS_CODES], "epsg int"
    ).repartition(4)

    def report(batches):
        for b in batches:
            if len(b) == 0:
                continue
            yield pd.DataFrame([CRS.srs_info(int(e)) for e in b["epsg"]])

    schema = ("epsg int, proj string, a double, f_inv double, lon0 double, "
              "k0 double, lat_ts double, lat0 double, lat1 double, "
              "lat2 double, false_e double, false_n double")
    out = codes.mapInPandas(report, schema=schema)
    num = ["a", "f_inv", "lon0", "k0", "lat_ts", "lat0", "lat1", "lat2",
           "false_e", "false_n"]
    return out.select(
        F.col("epsg").cast("long").alias("epsg"), "proj",
        *[F.when(F.isnan(c), F.lit(None)).otherwise(F.round(c, 6)).alias(c)
          for c in num],
    )


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts (Suri-Vassilvitskii degree-ordered
    wedge join) on a deterministic graph projected from the orders
    table; oracle = DuckDB three-way self-join over u<v edges."""
    from lib_gdal_spark.operators import graph as GG

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_orderkey") % 97).alias("u"),
        (F.col("o_custkey") % 97).alias("v"),
    )
    return GG.triangle_counts(edges)


def q_gpx_track_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPX source (drivers/vector/gpx): 200 synthetic one-track GPX
    documents parsed distributed into the track_points layer; output
    echoes (doc_id, fid, lon, lat, ele) with lon/lat decoded from the
    WKB the parser built."""
    from lib_gdal_spark.sources.gpx import parse_gpx_documents

    base = spark.range(200).select(F.col("id").alias("doc_id"))

    def mk(batches):
        for b in batches:
            docs = []
            for d in b["doc_id"]:
                pts = "".join(
                    f'<trkpt lat="{d % 80}" lon="{(d * 3 + i) % 160}">'
                    f"<ele>{d + i}</ele></trkpt>" for i in range(5)
                )
                docs.append(
                    f'<gpx version="1.1"><trk><name>t{d}</name>'
                    f"<trkseg>{pts}</trkseg></trk></gpx>"
                )
            yield pd.DataFrame({"doc_id": b["doc_id"], "gpx": docs})

    docs = base.mapInPandas(mk, schema="doc_id long, gpx string")
    feats = parse_gpx_documents(docs).where(F.col("layer") == "track_points")

    def decode(batches):
        from lib_gdal_spark.functions import geometry as G
        for b in batches:
            xy = [G.parse_wkb_full(bytes(w))[2] for w in b["geom_wkb"]]
            yield pd.DataFrame({
                "doc_id": b["doc_id"], "fid": b["fid"],
                "lon": [p[0] for p in xy], "lat": [p[1] for p in xy],
                "ele": b["ele"],
            })

    return feats.select("doc_id", "fid", "geom_wkb", "ele").mapInPandas(
        decode, schema="doc_id long, fid long, lon double, lat double, "
                       "ele double")


def q_gtiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTIFF codec (drivers/raster/gtiff): 48 synthetic rasters
    (40×40, v=(7px+13py+r)%251) are ENCODED to real GeoTIFF bytes on the
    executors — cycling all four compressions (none/LZW/deflate/packbits),
    predictor 2, strip vs 16-px-tile layout — then decoded back through
    the binaryFile-path parser into RASTER_SCHEMA tiles and aggregated
    per raster. The oracle recomputes the per-raster stats closed-form:
    any codec bit-slip breaks the sum."""
    from lib_gdal_spark.sources import gtiff as GT

    base = spark.range(48).select(F.col("id").alias("r"))

    def encode(batches):
        px, py = np.meshgrid(np.arange(40), np.arange(40), indexing="xy")
        comps = [GT.COMP_NONE, GT.COMP_LZW, GT.COMP_DEFLATE,
                 GT.COMP_PACKBITS]
        for b in batches:
            out = []
            for r in b["r"]:
                arr = ((7 * px + 13 * py + int(r)) % 251).astype(np.uint8)
                data = GT.write_geotiff(
                    arr, (r * 10.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                    compression=comps[int(r) % 4],
                    predictor=2 if int(r) % 4 in (1, 2) else 1,
                    tile=16 if int(r) % 2 else None)
                out.append((f"g{int(r):02d}", data))
            yield pd.DataFrame(out, columns=["path", "content"])

    files = base.mapInPandas(encode, schema="path string, content binary")
    tiles = GT.parse_geotiff_documents(files, tile=16)
    return tiles.groupBy(F.col("raster_id")).agg(
        F.sum(F.aggregate("pixels", F.lit(0.0),
                          lambda a, x: a + x)).cast("long").alias("sum_v"),
        F.sum(F.size("pixels")).cast("long").alias("n_px"),
        F.min(F.array_min("pixels")).cast("long").alias("min_v"),
        F.max(F.array_max("pixels")).cast("long").alias("max_v"),
        F.min("gt0").alias("gt0"),
    )


def q_georss_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoRSS source (drivers/vector/georss): 100 feeds of 5 items with
    GeoRSS-Simple points in LAT-LON order (the transposed axis convention this
    format alone uses); output echoes decoded lon/lat — a swapped axis
    breaks every row."""
    from lib_gdal_spark.sources.georss import parse_georss_documents

    base = spark.range(100).select(F.col("id").alias("k"))

    def mk(batches):
        for b in batches:
            out = []
            for k in b["k"]:
                k = int(k)
                items = "".join(
                    f"<item><title>t{j}</title><georss:point>"
                    f"{(k + j) % 80 - 40} {(3 * k + j) % 340 - 170}"
                    f"</georss:point></item>" for j in range(5))
                out.append((f"f{k}",
                            '<rss xmlns:georss="http://www.georss.org/'
                            f'georss"><channel>{items}</channel></rss>'))
            yield pd.DataFrame(out, columns=["src", "rss"])

    feats = parse_georss_documents(
        base.mapInPandas(mk, schema="src string, rss string"))

    def decode(batches):
        for b in batches:
            lon, lat = [], []
            for w in b["geom_wkb"]:
                p = G.parse_wkb_full(bytes(w))[2]
                lon.append(p[0])
                lat.append(p[1])
            yield pd.DataFrame({"src": b["src"], "fid": b["fid"],
                                "title": b["title"],
                                "lon": lon, "lat": lat})

    return feats.mapInPandas(
        decode, schema="src string, fid long, title string, lon double, "
                       "lat double")


def q_gtiff_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTIFF export sink (gdal_translate-to-file parity): 20 rasters
    (64×64, v=(9px+5py+r)%200) enter as tile tables, gather through the
    guarded per-raster encode into deflate GeoTIFF blobs, and re-parse;
    the oracle pins size, gt, and pixel sum closed-form."""
    from lib_gdal_spark.sources.gtiff import (
        parse_geotiff, tiles_to_geotiff)
    from lib_gdal_spark.sources.rasters import (
        RASTER_COLS, RASTER_SCHEMA, tiles_from_array)

    base = spark.range(20).select(F.col("id").alias("r"))

    def mk(batches):
        px, py = np.meshgrid(np.arange(64), np.arange(64), indexing="xy")
        for b in batches:
            rows = []
            for r in b["r"]:
                r = int(r)
                arr = ((9 * px + 5 * py + r) % 200).astype(np.uint8)
                rows.extend(tiles_from_array(
                    f"x{r:02d}", arr, (r * 5.0, 1.0, 0.0, 64.0, 0.0,
                                       -1.0), tile=16))
            yield pd.DataFrame(rows, columns=RASTER_COLS)

    tiles = base.mapInPandas(mk, schema=RASTER_SCHEMA)
    blobs = tiles_to_geotiff(tiles, tile=32)

    def reparse(batches):
        for b in batches:
            rows = []
            for rid, blob in zip(b["raster_id"], b["tif"]):
                g = parse_geotiff(bytes(blob))
                a = g.bands[0]
                rows.append((rid, a.shape[1], a.shape[0],
                             float(a.sum(dtype=np.float64)), g.gt[0]))
            yield pd.DataFrame(rows, columns=["raster_id", "w", "h",
                                              "sum_v", "gt0"])

    return blobs.mapInPandas(
        reparse, schema="raster_id string, w int, h int, sum_v double, "
                        "gt0 double")


def q_hilbert_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering keys (the range-partition locality key
    for planet-scale spatial tables): 3000 grid points through the
    16-level rotate-and-accumulate transform; the oracle unrolls the
    same integer algorithm as a 16-step CTE chain."""
    from lib_gdal_spark.functions.cells import hilbert_xy2d

    base = spark.range(3000).select(F.col("id").alias("i"))

    def work(batches):
        for b in batches:
            i = b["i"].to_numpy()
            qx = (7 * i) % 65536
            qy = (13 * i + 5) % 65536
            yield pd.DataFrame({"i": i,
                                "hkey": hilbert_xy2d(qx, qy, 16)})

    return base.mapInPandas(work, schema="i long, hkey long")


def q_hgt_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRTM .hgt codec (drivers/raster/srtmhgt): 25 degree cells whose
    georeference lives only in the FILE NAME (NxxWyyy.hgt), raw
    big-endian int16 grids with the shared-edge half-pixel extent;
    per-cell sum + gt0 must match closed-form."""
    from lib_gdal_spark.sources.hgt import parse_hgt_documents, write_hgt

    base = spark.range(25).select(F.col("id").alias("c"))

    def mk(batches):
        px, py = np.meshgrid(np.arange(121), np.arange(121),
                             indexing="xy")
        for b in batches:
            out = []
            for c in b["c"]:
                c = int(c)
                arr = ((3 * px + 5 * py + c) % 4000 - 200) \
                    .astype(np.float64)
                out.append((f"N{40 + c:02d}W{100 + c:03d}.hgt",
                            write_hgt(arr)))
            yield pd.DataFrame(out, columns=["path", "content"])

    files = base.mapInPandas(mk, schema="path string, content binary")
    tiles = parse_hgt_documents(files, tile=64)
    return tiles.groupBy(F.col("raster_id")).agg(
        F.sum(F.aggregate("pixels", F.lit(0.0),
                          lambda a, x: a + x)).cast("long").alias("sum_v"),
        F.round(F.min("gt0"), 9).alias("gt0"),
    )


def q_dted_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTED elevation codec (drivers/raster/dted, anchor 49187 verified
    in tests): 30 one-degree cells (121×121, v=(7px+11py+c)%900-100 —
    negatives exercise the signed-magnitude encoding) written with real
    record checksums and parsed back distributed; per-cell sum/min plus
    the cell-corner geotransform must match closed-form."""
    from lib_gdal_spark.sources.dted import (
        parse_dted_documents, write_dted)

    base = spark.range(30).select(F.col("id").alias("c"))

    def mk(batches):
        px, py = np.meshgrid(np.arange(121), np.arange(121),
                             indexing="xy")
        for b in batches:
            out = []
            for c in b["c"]:
                c = int(c)
                arr = ((7 * px + 11 * py + c) % 900 - 100) \
                    .astype(np.float64)
                out.append((f"t{c:02d}",
                            write_dted(arr, lon0=c - 15, lat0=40)))
            yield pd.DataFrame(out, columns=["path", "content"])

    files = base.mapInPandas(mk, schema="path string, content binary")
    tiles = parse_dted_documents(files, tile=64)
    return tiles.groupBy(F.col("raster_id")).agg(
        F.sum(F.aggregate("pixels", F.lit(0.0),
                          lambda a, x: a + x)).cast("long").alias("sum_v"),
        F.min(F.array_min("pixels")).cast("long").alias("min_v"),
        F.round(F.min("gt0"), 9).alias("gt0"),
    )


def q_netcdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """netCDF-3 classic codec (drivers/raster/netcdf parity, pure-stdlib
    CDF-1): 24 CF grids (90x120, v=(7px+11py+13c)%500-50) written with
    lon/lat coordinate variables and parsed back distributed; per-file
    sum/min plus the coordinate-derived geotransform origin must match
    closed-form."""
    from lib_gdal_spark.sources.netcdf import (
        parse_netcdf_documents, write_netcdf_grid)

    base = spark.range(24).select(F.col("id").alias("c"))

    def mk(batches):
        px, py = np.meshgrid(np.arange(120), np.arange(90), indexing="xy")
        for b in batches:
            out = []
            for c in b["c"]:
                c = int(c)
                arr = ((7 * px + 11 * py + 13 * c) % 500 - 50) \
                    .astype(np.float64)
                gt = (2.0 * c, 0.5, 0.0, 50.0, 0.0, -0.25)
                out.append((f"n{c:02d}", write_netcdf_grid(arr, gt)))
            yield pd.DataFrame(out, columns=["path", "content"])

    files = base.mapInPandas(mk, schema="path string, content binary")
    tiles = parse_netcdf_documents(files, tile=64)
    return tiles.groupBy(F.col("raster_id")).agg(
        F.sum(F.aggregate("pixels", F.lit(0.0),
                          lambda a, x: a + x)).cast("long").alias("sum_v"),
        F.min(F.array_min("pixels")).cast("long").alias("min_v"),
        F.round(F.min("gt0"), 9).alias("gt0"),
    )


def q_dxf_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DXF source (drivers/vector/dxf): 60 documents with POINT / LINE /
    closed LWPOLYLINE / CIRCLE entities encoded and parsed back; the
    circle linearizes at the reference's 4° arc step, so its shoelace
    area equals the regular-90-gon closed form 45·r²·sin(4°)."""
    from lib_gdal_spark.sources.dxf import parse_dxf_documents, write_dxf

    base = spark.range(60).select(F.col("id").alias("k"))

    def mk(batches):
        for b in batches:
            rows = []
            for k in b["k"]:
                k = int(k)
                s = float(k % 4 + 1)
                ents = [
                    {"type": "POINT", "point": (2.0 * k, float(k % 7))},
                    {"type": "LINE", "pts": [(float(k), 0.0),
                                             (k + 3.0, 2.0)]},
                    {"type": "LWPOLYLINE", "closed": True,
                     "pts": [(0.0, 0.0), (s, 0.0), (s, s), (0.0, s)]},
                    {"type": "CIRCLE", "point": (float(k), float(k)),
                     "radius": float(k % 3 + 1)},
                ]
                rows.append((f"d{k:02d}", write_dxf(ents)))
            yield pd.DataFrame(rows, columns=["src", "dxf"])

    feats = parse_dxf_documents(
        base.mapInPandas(mk, schema="src string, dxf string"))

    def measure(batches):
        for b in batches:
            meas = []
            for ent, w in zip(b["entity"], b["geom_wkb"]):
                wkb = bytes(w)
                if ent in ("LWPOLYLINE", "CIRCLE"):
                    meas.append(G.shoelace_area(G.polygon_rings(wkb)))
                else:
                    _b, _nd, p = G.parse_wkb_full(wkb)
                    pts = [p] if ent == "POINT" else p
                    meas.append(sum(q[0] + 2.0 * q[1] for q in pts))
            yield pd.DataFrame({"src": b["src"], "fid": b["fid"],
                                "entity": b["entity"],
                                "meas": [round(m, 6) for m in meas]})

    return feats.mapInPandas(
        measure, schema="src string, fid long, entity string, meas double")


def q_mvt_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mapbox Vector Tile codec (drivers/vector/mvt): 200 point features
    fan into z=3 tiles (one keyed shuffle), each tile protobuf-encodes
    on its executor, then DECODES BACK and emits every feature's tile
    key + quantized tile-local coords + attribute; the oracle recomputes
    the web-mercator quantization closed-form in SQL."""
    from lib_gdal_spark.sinks.mvt import decode_tile, tile_features

    base = spark.range(200).select(F.col("id").alias("i"))

    def mk(batches):
        for b in batches:
            rows = []
            for i in b["i"]:
                i = int(i)
                lon = -177.25 + (i * 13.7 % 354.0)
                lat = -63.05 + (i * 9.3 % 127.0)
                rows.append((G.wkb_point(lon, lat), {"i": str(i)}))
            yield pd.DataFrame(rows, columns=["geom_wkb", "attrs"])

    feats = base.mapInPandas(mk, schema="geom_wkb binary, "
                                        "attrs map<string,string>")
    tiles = tile_features(feats, z=3, layer="pts")

    def unpack(batches):
        for b in batches:
            rows = []
            for _, r in b.iterrows():
                lay = decode_tile(bytes(r["mvt"]))[0]
                for f in lay["features"]:
                    x, y = (int(v) for v in f["parts"][0][0])
                    rows.append((int(f["attrs"]["i"]), int(r["tx"]),
                                 int(r["ty"]), x, y))
            yield pd.DataFrame(rows, columns=["i", "tx", "ty",
                                              "px", "py"])

    return tiles.mapInPandas(
        unpack, schema="i long, tx int, ty int, px int, py int")


def q_format_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogr2ogr-style format chain (apps/ogr2ogr_lib.cpp): 80 polygons
    (square + hole) travel WKB -> shapefile bytes -> WKB -> GML 3 ->
    WKB -> GeoJSON geometry -> WKB; the final WKB must be BYTE-IDENTICAL
    to the original, and the area must survive every hop."""
    from lib_gdal_spark.sources import shapefile as SHP
    from lib_gdal_spark.sources.geojson import (
        _wkb_to_geojson, geojson_geometry_to_wkb)
    from lib_gdal_spark.sources.gml import gml_to_wkb, wkb_to_gml

    base = spark.range(80).select(F.col("id").alias("k"))

    def work(batches):
        for b in batches:
            rows = []
            for k in b["k"]:
                k = int(k)
                s = float(k % 6 + 2)
                x0, y0 = 3.0 * k, float(k % 9)
                shell = np.array([[x0, y0], [x0, y0 + s], [x0 + s, y0 + s],
                                  [x0 + s, y0], [x0, y0]])
                hole = np.array([[x0 + .5, y0 + .5], [x0 + 1, y0 + .5],
                                 [x0 + 1, y0 + 1], [x0 + .5, y0 + 1],
                                 [x0 + .5, y0 + .5]])
                # shapefile hop: shell CW on disk, holes CCW
                shp = SHP.write_shp([(0, [shell, hole[::-1]])],
                                    SHP.SHP_POLYGON)
                wkb0 = SHP.parse_shp(shp)[0][1]
                wkb1 = gml_to_wkb(wkb_to_gml(wkb0, version=3))
                wkb2 = geojson_geometry_to_wkb(_wkb_to_geojson(wkb1))
                rings = G.polygon_rings(wkb2)
                rows.append((k, int(wkb2 == wkb0), len(rings),
                             G.shoelace_area(rings)))
            yield pd.DataFrame(rows, columns=["k", "bytes_equal",
                                              "n_rings", "area"])

    return base.mapInPandas(
        work, schema="k long, bytes_equal int, n_rings int, area double")


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX/SURT index generation: 800 messy capture URLs (upper-case
    www hosts, default ports, unsorted query params) -> SURT keys +
    14-digit timestamps + md5 content digests, range-ordered; the oracle
    rebuilds every field closed-form including the digest (DuckDB md5)."""
    from lib_gdal_spark.operators.cdx import cdx_index

    g = F.col("id")
    recs = spark.range(800).select(
        F.concat(
            F.lit("https://WWW.H"), (g % 50).cast("string"),
            F.lit(".Example.com"),
            F.when(g % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/P"), g.cast("string"),
            F.when(g % 3 == 0,
                   F.concat(F.lit("?b=2&a="), (g % 7).cast("string")))
            .otherwise(F.lit("")),
        ).alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=g.cast("double"))).alias("warc_ts"),
        F.when(g % 5 == 4, F.lit(404)).otherwise(F.lit(200))
        .alias("http_status"),
        F.lit("text/html").alias("content_type"),
        F.encode(F.expr("repeat('x', 10 + cast(id % 90 as int))"),
                 "utf-8").alias("body"),
    )
    return cdx_index(recs, buckets=8)


def q_ehdr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EHdr/ENVI flat-binary codec (drivers/raster/ehdr): 36 two-band
    rasters (20×20, band c value (5px+9py+r+100c)%251) written raw with
    the interleave cycling BIL/BIP/BSQ plus the center-convention header
    and re-parsed; per-band sums catch any interleave slip."""
    from lib_gdal_spark.sources.ehdr import (
        parse_ehdr_documents, write_ehdr)

    base = spark.range(36).select(F.col("id").alias("r"))

    def mk(batches):
        px, py = np.meshgrid(np.arange(20), np.arange(20), indexing="xy")
        layouts = ["BIL", "BIP", "BSQ"]
        for b in batches:
            out = []
            for r in b["r"]:
                r = int(r)
                bands = [((5 * px + 9 * py + r + 100 * c) % 251)
                         .astype(np.uint8) for c in range(2)]
                hdr, blob = write_ehdr(
                    bands, (r * 3.0, 1.0, 0.0, 20.0, 0.0, -1.0),
                    layout=layouts[r % 3])
                out.append((f"e{r:02d}", hdr, blob))
            yield pd.DataFrame(out, columns=["src", "hdr", "bil"])

    pairs = base.mapInPandas(mk,
                             schema="src string, hdr string, bil binary")
    tiles = parse_ehdr_documents(pairs, tile=16)
    return tiles.groupBy("raster_id", "band").agg(
        F.sum(F.aggregate("pixels", F.lit(0.0),
                          lambda a, x: a + x)).cast("long").alias("sum_v"),
        F.min("gt0").alias("gt0"),
    )


def q_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG codec (drivers/raster/png): 40 RGBA images (24×24, channel c
    value (3px+7py+r+11c)%256) encoded with Up-filtered scanlines on the
    executors, decoded back through the binaryFile-path parser into
    per-band tiles, and aggregated; any filter or channel-deinterleave
    slip breaks the per-band sums."""
    from lib_gdal_spark.sources.png import parse_png_documents, write_png

    base = spark.range(40).select(F.col("id").alias("r"))

    def mk(batches):
        px, py = np.meshgrid(np.arange(24), np.arange(24), indexing="xy")
        for b in batches:
            out = []
            for r in b["r"]:
                r = int(r)
                bands = [((3 * px + 7 * py + r + 11 * c) % 256)
                         .astype(np.uint8) for c in range(4)]
                out.append((f"p{r:02d}", write_png(bands)))
            yield pd.DataFrame(out, columns=["path", "content"])

    files = base.mapInPandas(mk, schema="path string, content binary")
    tiles = parse_png_documents(files, tile=16)
    return tiles.groupBy("raster_id", "band").agg(
        F.sum(F.aggregate("pixels", F.lit(0.0),
                          lambda a, x: a + x)).cast("long").alias("sum_v"),
        F.sum(F.size("pixels")).cast("long").alias("n_px"),
    )


def q_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap protocol source: 120 urlset documents (8 urls each, with
    lastmod/priority on every other url) parsed distributed; the oracle
    reproduces the entry table closed-form."""
    from lib_gdal_spark.sources.sitemap import parse_sitemap_documents

    base = spark.range(120).select(F.col("id").alias("k"))

    def mk(batches):
        for b in batches:
            out = []
            for k in b["k"]:
                k = int(k)
                urls = "".join(
                    f"<url><loc>https://s{k}.example/{i}</loc>"
                    + (f"<lastmod>2024-03-{(k + i) % 28 + 1:02d}"
                       f"</lastmod><priority>0.{(k + i) % 10}"
                       f"</priority>" if i % 2 == 0 else "")
                    + "</url>"
                    for i in range(8))
                out.append((f"s{k}", f"<urlset>{urls}</urlset>"))
            yield pd.DataFrame(out, columns=["src", "sitemap"])

    docs = base.mapInPandas(mk, schema="src string, sitemap string")
    e = parse_sitemap_documents(docs)
    return e.select(
        "src", "loc",
        F.coalesce("lastmod", F.lit("-")).alias("lastmod"),
        F.coalesce(F.col("priority"), F.lit(-1.0)).alias("prio"))


def q_csv_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR CSV vector layer (drivers/vector/csv): WKT geometry column +
    .csvt typing + RFC-4180 quoting (embedded commas/doubled quotes)
    roundtrip on the executors; areas and typed attributes oracle-exact."""
    base = spark.range(50).select(F.col("id").alias("k"))

    def work(batches):
        from lib_gdal_spark.functions import geometry as GG
        from lib_gdal_spark.sources.csvlayer import (
            parse_csv_layer,
            write_csv_layer,
        )
        for b in batches:
            rows = []
            for k in b["k"]:
                k = int(k)
                s = float(k % 5 + 2)
                ring = GG.box_ring(float(k), float(k), k + s, k + s)
                rows.append({
                    "wkb": GG.wkb_polygon([ring]),
                    "name": f'doc,"{k}"',
                    "n": k,
                    "x": k / 4.0,
                })
            text, csvt = write_csv_layer(
                rows, [("name", "String"), ("n", "Integer"), ("x", "Real")])
            out = []
            for fid, r in enumerate(parse_csv_layer(text, csvt)):
                _, payload = GG.parse_wkb(r["wkb"])
                area = GG.shoelace_area(payload)
                out.append((int(b["k"].iloc[fid]), round(area, 6),
                            r["name"], r["n"], r["x"]))
            yield pd.DataFrame(out, columns=["k", "area", "name", "n", "x"])

    return base.mapInPandas(
        work, schema="k long, area double, name string, n long, x double")


def q_mif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapInfo MIF/MID codec (drivers/vector/mitab): 50 document pairs
    (POINT + PLINE + REGION-with-hole, MID attributes) encoded on the
    executors and parsed back; per-feature coordinate/area measures and
    the joined MID attribute must match the closed-form oracle."""
    from lib_gdal_spark.sources.mif import (
        parse_mif_documents, write_mid, write_mif)

    base = spark.range(50).select(F.col("id").alias("k"))

    def mk(batches):
        for b in batches:
            out = []
            for k in b["k"]:
                k = int(k)
                s = float(k % 5 + 2)
                feats = [
                    ("point", (2.0 * k, float(3 * k % 7))),
                    ("pline", [(float(k), 0.0), (k + 1.0, 1.0),
                               (k + 2.0, 3.0)]),
                    ("region", [
                        [(float(k), float(k)), (float(k), k + s),
                         (k + s, k + s), (k + s, float(k)),
                         (float(k), float(k))],
                        [(k + 0.25, k + 0.25), (k + 0.75, k + 0.25),
                         (k + 0.75, k + 0.75), (k + 0.25, k + 0.75),
                         (k + 0.25, k + 0.25)]]),
                ]
                mid = write_mid([[f"f{j}", k * 10 + j] for j in range(3)])
                out.append((f"m{k:02d}",
                            write_mif(feats, [("name", "Char(8)"),
                                              ("pop", "Integer")]), mid))
            yield pd.DataFrame(out, columns=["src", "mif", "mid"])

    pairs = base.mapInPandas(mk, schema="src string, mif string, "
                                        "mid string")
    feats = parse_mif_documents(pairs)

    def measure(batches):
        for b in batches:
            meas = []
            for fid, w in zip(b["fid"], b["geom_wkb"]):
                base_t, _nd, payload = G.parse_wkb_full(bytes(w))
                if int(fid) == 2:
                    meas.append(G.shoelace_area(G.polygon_rings(bytes(w))))
                elif int(fid) == 0:
                    meas.append(payload[0] + 2.0 * payload[1])
                else:
                    meas.append(sum(p[0] + 2.0 * p[1] for p in payload))
            yield pd.DataFrame({
                "src": b["src"], "fid": b["fid"],
                "val": [int(a["pop"]) for a in b["attrs"]],
                "meas": meas})

    return feats.mapInPandas(
        measure, schema="src string, fid long, val long, meas double")


def q_aaigrid_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arc/Info ASCII Grid codec (drivers/raster/aaigrid): 40 grids
    (24×24, v=(11px+3py+r)%53, zeros written as the -9999 nodata value)
    encoded to AAIGrid text on the executors, parsed back through the
    tile-table reader, and aggregated per raster — sum and nodata count
    must match the closed-form oracle."""
    from lib_gdal_spark.sources.asciigrid import (
        parse_aaigrid_documents, write_aaigrid)

    base = spark.range(40).select(F.col("id").alias("r"))

    def mk(batches):
        px, py = np.meshgrid(np.arange(24), np.arange(24), indexing="xy")
        for b in batches:
            out = []
            for r in b["r"]:
                r = int(r)
                v = ((11 * px + 3 * py + r) % 53).astype(np.float64)
                v[v == 0] = -9999.0
                out.append((f"a{r:02d}", write_aaigrid(
                    v, (r * 2.0, 1.0, 0.0, 24.0, 0.0, -1.0),
                    nodata=-9999.0)))
            yield pd.DataFrame(out, columns=["raster_id", "asc"])

    docs = base.mapInPandas(mk, schema="raster_id string, asc string")
    tiles = parse_aaigrid_documents(docs, tile=16)
    return tiles.groupBy("raster_id").agg(
        F.sum(F.aggregate("pixels", F.lit(0.0),
                          lambda a, x: a + x)).cast("long").alias("sum_v"),
        F.sum(F.size(F.filter(
            "pixels", lambda x: x == F.col("nodata")))).cast("long")
        .alias("n_nodata"),
        F.min("gt0").alias("gt0"),
    )


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest head (ISO 28500, the Common-Crawl container): 40
    synthetic .warc.gz files (25 records each, one gzip member per
    record — the CC slicing convention) are encoded on the executors,
    split/parsed back, and shaped into the pages schema; url, HTTP
    status, body length, and the parsed WARC-Date epoch must match the
    closed-form oracle."""
    from lib_gdal_spark.sources.warc import (
        parse_warc_documents, warc_response_pages, write_warc)

    base = spark.range(40).select(F.col("id").alias("k"))

    def mk(batches):
        statuses = [200, 404, 200, 301, 200]
        for b in batches:
            out = []
            for k in b["k"]:
                k = int(k)
                recs = []
                for i in range(25):
                    g = k * 25 + i
                    recs.append({
                        "url": f"https://h{g % 500}.example/{k}/{i}",
                        "date": f"2024-01-01T00:{g // 60:02d}:"
                                f"{g % 60:02d}Z",
                        "status": statuses[i % 5],
                        "body": b"x" * (50 + g % 200),
                    })
                out.append((f"w{k:02d}", write_warc(recs)))
            yield pd.DataFrame(out, columns=["path", "content"])

    files = base.mapInPandas(mk, schema="path string, content binary")
    recs = parse_warc_documents(files)
    pages = warc_response_pages(recs)
    return recs.where(F.col("warc_type") == "response").select(
        "url", "http_status").join(pages, "url").select(
        "url", "http_status",
        F.length("html").cast("long").alias("n_bytes"),
        F.unix_timestamp("warc_ts").alias("ts_epoch"),
    )


def q_wet_wat_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET/WAT sidecar ingest (the Common-Crawl extracted-text +
    metadata formats beside each .warc.gz): 30 synthetic .wet.gz and 30
    .wat.gz files (20 records each) are encoded on the executors,
    parsed back through the shared WARC envelope reader, and the two
    views joined on url; token count (WET text), page title and link
    count (WAT JSON, parsed JVM-side with from_json) must match the
    closed-form oracle."""
    from lib_gdal_spark.sources.warc import (
        parse_warc_documents, wat_metadata_records, wet_text_records,
        write_wat, write_wet)

    base = spark.range(30).select(F.col("id").alias("k"))

    def mk(batches):
        for b in batches:
            out = []
            for k in b["k"]:
                k = int(k)
                wet, wat = [], []
                for i in range(20):
                    g = k * 20 + i
                    url = f"https://h{g % 300}.example/p/{g}"
                    date = f"2024-02-01T00:{g // 60:02d}:{g % 60:02d}Z"
                    wet.append({"url": url, "date": date,
                                "text": " ".join(
                                    f"t{g % 7}" for _ in range(5 + g % 13))})
                    wat.append({"url": url, "date": date,
                                "title": f"Title {g % 50}",
                                "links": [f"https://l{j}.example/{g}"
                                          for j in range(g % 4)]})
                out.append((f"c{k:02d}.wet.gz", write_wet(wet)))
                out.append((f"c{k:02d}.wat.gz", write_wat(wat)))
            yield pd.DataFrame(out, columns=["path", "content"])

    files = base.mapInPandas(mk, schema="path string, content binary")
    recs = parse_warc_documents(files)
    wet = wet_text_records(recs)
    wat = wat_metadata_records(recs)
    return wet.join(wat, ["url", "warc_ts"]).select(
        "url",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        "title",
        F.size("links").cast("long").alias("n_links"),
        F.unix_timestamp("warc_ts").alias("ts_epoch"),
    )


def q_cog_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cloud-Optimized GeoTIFF sink (gtiff overviews / COG layout): 30
    rasters (64×64, v=(3px+5py+r)%97) get 3-level 2×2-average pyramids,
    encoded as multi-IFD COGs (deflate, float predictor, IFDs before
    data) on the executors and re-parsed through the overview-chain
    reader; per-level sums halve by exactly 4× because block-average
    sums telescope."""
    from lib_gdal_spark.sources.gtiff import (
        COMP_DEFLATE, parse_geotiff_all, write_cog)

    base = spark.range(30).select(F.col("id").alias("r"))

    def work(batches):
        px, py = np.meshgrid(np.arange(64), np.arange(64), indexing="xy")
        for b in batches:
            rows = []
            for r in b["r"]:
                r = int(r)
                l0 = ((3 * px + 5 * py + r) % 97).astype(np.float32)
                l1 = l0.reshape(32, 2, 32, 2).mean(
                    axis=(1, 3), dtype=np.float64).astype(np.float32)
                l2 = l1.reshape(16, 2, 16, 2).mean(
                    axis=(1, 3), dtype=np.float64).astype(np.float32)
                data = write_cog([l0, l1, l2], (0.0, 1.0, 0.0, 0.0,
                                                0.0, -1.0),
                                 compression=COMP_DEFLATE, predictor=3,
                                 tile=16)
                for lvl, g in enumerate(parse_geotiff_all(data)):
                    a = g.bands[0]
                    rows.append((f"c{r:02d}", lvl, a.shape[1],
                                 a.shape[0], float(a.sum(dtype=np.float64))))
            yield pd.DataFrame(rows, columns=["raster_id", "level",
                                              "w", "h", "sum_v"])

    return base.mapInPandas(
        work, schema="raster_id string, level int, w int, h int, "
                     "sum_v double")


def q_osm_way_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OSM source (drivers/vector/osm): 100 XML documents; each way
    references 5 nodes from its OWN document plus 3 from the NEXT one,
    so geometry assembly can only succeed through the distributed
    node⋈way equi-join (the Spark-first replacement for the reference's
    in-process node cache). The output's position-weighted coordinate
    checksum pins both the join and the point ordering."""
    from lib_gdal_spark.sources.osm import (
        parse_osm_documents, way_geometries)

    base = spark.range(100).select(F.col("id").alias("d"))

    def mk(batches):
        for b in batches:
            docs = []
            for d in b["d"]:
                d = int(d)
                nodes = "".join(
                    f'<node id="{d * 10 + i}" '
                    f'lon="{(d * 10 + i) * 7 % 360 - 180}" '
                    f'lat="{(d * 10 + i) * 13 % 170 - 85}"/>'
                    for i in range(10))
                refs = [d * 10 + i for i in range(5)] + \
                       [((d + 1) % 100) * 10 + j for j in range(3)]
                nds = "".join(f'<nd ref="{r}"/>' for r in refs)
                docs.append(f'<osm>{nodes}<way id="{d}">{nds}'
                            f'<tag k="highway" v="x"/></way></osm>')
            yield pd.DataFrame({"osm": docs})

    els = parse_osm_documents(base.mapInPandas(mk, schema="osm string"))
    ways = way_geometries(els)

    def chk(batches):
        for b in batches:
            sums = []
            for w in b["geom_wkb"]:
                pts = G.parse_wkb_full(bytes(w))[2]
                sums.append(sum((i + 1) * (p[0] + 2.0 * p[1])
                                for i, p in enumerate(pts)))
            yield pd.DataFrame({"way_id": b["way_id"],
                                "n_pts": b["n_pts"], "wsum": sums})

    return ways.mapInPandas(
        chk, schema="way_id long, n_pts int, wsum double")


def q_kml_placemarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KML source (drivers/vector/kml): 150 synthetic documents with 4
    Point Placemarks each (name + ExtendedData value) parsed distributed;
    output echoes lon/lat decoded from the WKB the parser built plus the
    ExtendedData attribute, all closed-form for the oracle."""
    from lib_gdal_spark.sources.kml import parse_kml_documents

    base = spark.range(150).select(F.col("id").alias("doc_id"))

    def mk(batches):
        for b in batches:
            docs = []
            for d in b["doc_id"]:
                pms = "".join(
                    f"<Placemark><name>pm{j}</name>"
                    f"<Point><coordinates>"
                    f"{(d * 3 + j) % 160 - 80},{(d + j) % 80}"
                    f"</coordinates></Point>"
                    f'<ExtendedData><Data name="v"><value>{d * 10 + j}'
                    f"</value></Data></ExtendedData></Placemark>"
                    for j in range(4))
                docs.append(f'<kml><Document>{pms}</Document></kml>')
            yield pd.DataFrame({"doc_id": b["doc_id"], "kml": docs})

    docs = base.mapInPandas(mk, schema="doc_id long, kml string")
    feats = parse_kml_documents(docs)

    def decode(batches):
        for b in batches:
            xy = [G.parse_wkb_full(bytes(w))[2] for w in b["geom_wkb"]]
            yield pd.DataFrame({
                "doc_id": b["doc_id"], "fid": b["fid"],
                "name": b["name"],
                "lon": [p[0] for p in xy], "lat": [p[1] for p in xy],
                "v": [int(a["v"]) for a in b["attrs"]]})

    return feats.mapInPandas(
        decode, schema="doc_id long, fid long, name string, lon double, "
                       "lat double, v long")


def q_shp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapefile source/sink (drivers/vector/shape): 60 shapefiles are
    ENCODED on the executors (3 polygon features each — clockwise square
    shells, the third with a counter-clockwise hole — plus a dBase .dbf
    with a numeric VAL field), then parsed back through the distributed
    reader; per-feature ring count, shoelace area, and the joined .dbf
    attribute must match the closed-form oracle."""
    from lib_gdal_spark.sources import shapefile as SHP

    base = spark.range(60).select(F.col("id").alias("k"))

    def encode(batches):
        for b in batches:
            out = []
            for k in b["k"]:
                k = int(k)
                geoms, rows = [], []
                for j in range(3):
                    s = float(j + 1)
                    x0, y0 = 2.0 * k, 3.0 * j
                    shell = np.array([  # clockwise = shapefile shell
                        [x0, y0], [x0, y0 + s], [x0 + s, y0 + s],
                        [x0 + s, y0], [x0, y0]])
                    parts = [shell]
                    if j == 2:
                        hx, hy = x0 + 0.25, y0 + 0.25
                        parts.append(np.array([  # CCW = hole
                            [hx, hy], [hx + 0.5, hy], [hx + 0.5, hy + 0.5],
                            [hx, hy + 0.5], [hx, hy]]))
                    geoms.append((0, parts))
                    rows.append([k * 10 + j])
                out.append((f"s{k:02d}",
                            SHP.write_shp(geoms, SHP.SHP_POLYGON),
                            SHP.write_dbf([("VAL", "N", 8)], rows)))
            yield pd.DataFrame(out, columns=["src", "shp", "dbf"])

    pairs = base.mapInPandas(encode,
                             schema="src string, shp binary, dbf binary")
    feats = SHP.parse_shapefile_documents(pairs)

    def measure(batches):
        for b in batches:
            areas, nrings = [], []
            for w in b["geom_wkb"]:
                rings = G.polygon_rings(bytes(w))
                nrings.append(len(rings))
                areas.append(G.shoelace_area(rings))
            yield pd.DataFrame({
                "src": b["src"], "fid": b["fid"],
                "val": [int(a["VAL"]) for a in b["attrs"]],
                "n_rings": nrings, "area": areas})

    return feats.mapInPandas(
        measure, schema="src string, fid long, val long, n_rings int, "
                        "area double")


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics: pentagon zones (even-odd scanline rasterize)
    over an integer-valued synthetic value raster v=(px*7+py*13)%100 —
    per-zone count/sum/min/max/mean. Integer-valued pixels keep every
    float partial exact, so the result is parallelism-invariant."""
    from lib_gdal_spark.operators import rasterize as RZ
    from lib_gdal_spark.operators.stats import zonal_stats

    grid = RZ.world_grid(256, 256, 64)
    zones = RZ.rasterize_polygons(_raster_polys_df(spark), grid)

    base = spark.range(16).select(
        (F.col("id") % 4).cast("int").alias("tile_x"),
        (F.col("id") / 4).cast("int").alias("tile_y"),
    )

    def mk(batches):
        import numpy as np
        for b in batches:
            px_list = []
            for tx, ty in zip(b["tile_x"], b["tile_y"]):
                pyl, pxl = np.meshgrid(np.arange(64), np.arange(64),
                                       indexing="ij")
                v = (((tx * 64 + pxl) * 7 + (ty * 64 + pyl) * 13) % 100)
                px_list.append(v.astype(np.float64).ravel())
            yield pd.DataFrame({
                "tile_x": b["tile_x"], "tile_y": b["tile_y"],
                "pixels": px_list,
            })

    vals = base.mapInPandas(
        mk, schema="tile_x int, tile_y int, pixels array<double>"
    )
    return zonal_stats(zones, vals)


def q_zonal_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical zonal statistics (majority/minority/variety, ties to
    the smallest value) over the same pentagon zones and synthetic
    value raster as zonal_stats — per-(zone, value) exact counts via a
    packed-key np.unique per tile, two window argmins on the aggregated
    table. The oracle groups the identical burned pixels and applies
    the same (count, value) orderings."""
    from lib_gdal_spark.operators import rasterize as RZ
    from lib_gdal_spark.operators.stats import zonal_majority

    grid = RZ.world_grid(256, 256, 64)
    zones = RZ.rasterize_polygons(_raster_polys_df(spark), grid)

    base = spark.range(16).select(
        (F.col("id") % 4).cast("int").alias("tile_x"),
        (F.col("id") / 4).cast("int").alias("tile_y"),
    )

    def mk(batches):
        import numpy as np
        for b in batches:
            px_list = []
            for tx, ty in zip(b["tile_x"], b["tile_y"]):
                pyl, pxl = np.meshgrid(np.arange(64), np.arange(64),
                                       indexing="ij")
                v = (((tx * 64 + pxl) * 7 + (ty * 64 + pyl) * 13) % 100)
                px_list.append(v.astype(np.float64).ravel())
            yield pd.DataFrame({
                "tile_x": b["tile_x"], "tile_y": b["tile_y"],
                "pixels": px_list,
            })

    vals = base.mapInPandas(
        mk, schema="tile_x int, tile_y int, pixels array<double>"
    )
    return zonal_majority(zones, vals)


def q_geojson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON codec parity (drivers/vector/geojson, RFC 7946): every
    geometry survives WKB -> GeoJSON text -> WKB byte-identically; output
    mirrors gml_roundtrip (type, vertex count, shoelace area, identity).
    Arrow-batched narrow map, zero shuffle."""

    def mk_wkt(fid: int) -> str:
        w = 1.0 + (fid % 4)
        k = fid % 6
        if k == 0:
            return f"POINT ({fid} {fid + 1})"
        if k == 1:
            return f"LINESTRING (0 0, {w} {w}, {2 * w} 0)"
        if k == 2:
            return f"POLYGON ((0 0, {w} 0, {w} {w}, 0 {w}, 0 0))"
        if k == 3:
            return f"MULTIPOINT (({fid} 0), (0 {fid}), ({w} {w}))"
        if k == 4:
            return f"MULTILINESTRING ((0 0, {w} 0), (0 1, {w} 1, {w} 2))"
        return (f"MULTIPOLYGON (((0 0, {w} 0, {w} {w}, 0 {w}, 0 0)), "
                f"((9 9, {9 + w / 2} 9, {9 + w / 2} {9 + w / 2}, "
                f"9 {9 + w / 2}, 9 9)))")

    pdf = pd.DataFrame({"fid": range(60)})
    pdf["wkt"] = pdf["fid"].map(mk_wkt)
    base = spark.createDataFrame(pdf, schema="fid long, wkt string")

    def work(batches):
        import json as _json

        import numpy as np
        from lib_gdal_spark.functions import geometry as G
        from lib_gdal_spark.functions.wkt import wkt_to_wkb
        from lib_gdal_spark.sources.geojson import (
            _wkb_to_geojson,
            geojson_geometry_to_wkb,
        )

        names = {G.WKB_POINT: "POINT", G.WKB_LINESTRING: "LINESTRING",
                 G.WKB_POLYGON: "POLYGON", G.WKB_MULTIPOINT: "MULTIPOINT",
                 G.WKB_MULTILINESTRING: "MULTILINESTRING",
                 G.WKB_MULTIPOLYGON: "MULTIPOLYGON"}

        def shoelace(r):
            r = np.asarray(r)
            x, y = r[:, 0], r[:, 1]
            return 0.5 * abs(np.dot(x, np.roll(y, -1))
                             - np.dot(y, np.roll(x, -1)))

        def describe(wkb0):
            txt = _json.dumps(_wkb_to_geojson(wkb0), separators=(",", ":"))
            back = geojson_geometry_to_wkb(_json.loads(txt))
            base_c, _, payload = G.parse_wkb_full(back)
            if base_c == G.WKB_POINT:
                nv, area = 1, 0.0
            elif base_c in (G.WKB_LINESTRING, G.WKB_MULTIPOINT):
                nv, area = len(payload), 0.0
            elif base_c == G.WKB_POLYGON:
                nv = sum(len(r) for r in payload)
                area = shoelace(payload[0]) - sum(
                    shoelace(r) for r in payload[1:])
            elif base_c == G.WKB_MULTILINESTRING:
                nv, area = sum(len(ln) for ln in payload), 0.0
            else:
                nv = sum(len(r) for p in payload for r in p)
                area = sum(shoelace(p[0]) - sum(shoelace(r) for r in p[1:])
                           for p in payload)
            return names[base_c], nv, round(area, 6), int(back == wkb0)

        for b in batches:
            rows = [describe(wkt_to_wkb(s)) for s in b["wkt"]]
            yield pd.DataFrame({
                "fid": b["fid"],
                "gtype": [r[0] for r in rows],
                "nv": np.asarray([r[1] for r in rows], dtype=np.int64),
                "area": [r[2] for r in rows],
                "identical": np.asarray([r[3] for r in rows],
                                        dtype=np.int64),
            })

    return base.mapInPandas(
        work, schema="fid long, gtype string, nv long, area double, "
                     "identical long")


def q_explode_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogr2ogr -explodecollections (ogr2ogr_lib.cpp): one feature per
    collection member over the 6-type WKT fixture."""
    from lib_gdal_spark.operators import vectorops as VO

    def mk_wkt(fid: int) -> str:
        w = 1.0 + (fid % 4)
        k = fid % 6
        if k == 0:
            return f"POINT ({fid} {fid + 1})"
        if k == 1:
            return f"LINESTRING (0 0, {w} {w}, {2 * w} 0)"
        if k == 2:
            return f"POLYGON ((0 0, {w} 0, {w} {w}, 0 {w}, 0 0))"
        if k == 3:
            return f"MULTIPOINT (({fid} 0), (0 {fid}), ({w} {w}))"
        if k == 4:
            return f"MULTILINESTRING ((0 0, {w} 0), (0 1, {w} 1, {w} 2))"
        return (f"MULTIPOLYGON (((0 0, {w} 0, {w} {w}, 0 {w}, 0 0)), "
                f"((9 9, {9 + w / 2} 9, {9 + w / 2} {9 + w / 2}, "
                f"9 {9 + w / 2}, 9 9)))")

    pdf = pd.DataFrame({"fid": range(60)})
    pdf["wkt"] = pdf["fid"].map(mk_wkt)
    base = spark.createDataFrame(pdf, schema="fid long, wkt string")

    def to_wkb(batches):
        from lib_gdal_spark.functions.wkt import wkt_to_wkb
        for b in batches:
            yield pd.DataFrame({
                "fid": b["fid"],
                "geom_wkb": [wkt_to_wkb(s) for s in b["wkt"]],
            })

    feats = base.mapInPandas(to_wkb, schema="fid long, geom_wkb binary")
    parts = VO.explode_collections(feats)

    def describe(batches):
        import numpy as np
        for b in batches:
            rows = []
            for _, r in b.iterrows():
                base_c, _, payload = G.parse_wkb_full(bytes(r["geom_wkb"]))
                if base_c == G.WKB_POINT:
                    g, nv, area = "POINT", 1, 0.0
                elif base_c == G.WKB_LINESTRING:
                    g, nv, area = "LINESTRING", len(payload), 0.0
                else:
                    g = "POLYGON"
                    nv = sum(len(x) for x in payload)
                    area = G.shoelace_area(payload)
                rows.append((int(r["fid"]), int(r["part"]), g, nv,
                             round(area, 6)))
            yield pd.DataFrame(rows, columns=["fid", "part", "gtype",
                                              "nv", "area"])

    return parts.mapInPandas(
        describe,
        schema="fid long, part long, gtype string, nv long, area double")


def q_wrap_dateline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogr2ogr -wrapdateline (OGRGeometryFactory antimeridian split):
    crossing boxes split into two rectangles, crossing lines split at
    lon=180 with the interpolated latitude; a non-crossing control row
    passes through as part 0. All outputs land in [-180, 180]."""
    from lib_gdal_spark.operators import vectorops as VO

    def mk(i: int):
        k = i % 3
        if k == 0:  # crossing box
            a, b2 = i % 5, i % 3
            y0 = -40.0 + (i % 8) * 10.0
            ring = G.box_ring(170.0 + a, y0, 186.0 + b2, y0 + 10.0)
            ring = ring.copy()
            # express east lons as negatives (crossing form): x>180 -> x-360
            ring[:, 0] = np.where(ring[:, 0] > 180.0, ring[:, 0] - 360.0,
                                  ring[:, 0])
            return G.wkb_polygon([ring])
        if k == 1:  # crossing line
            c, d = i % 4, i % 3
            return G.wkb_linestring(np.array(
                [[172.0 + c, 10.0], [-176.0 + d, 30.0]]))
        return G.wkb_polygon([G.box_ring(10.0, 0.0, 20.0, 5.0)])  # control

    pdf = pd.DataFrame({"gid": range(36)})
    pdf["geom_wkb"] = pdf["gid"].map(lambda i: bytearray(mk(int(i))))
    feats = spark.createDataFrame(pdf[["gid", "geom_wkb"]],
                                  schema="gid long, geom_wkb binary")
    parts = VO.wrap_dateline(feats)

    def describe(batches):
        for b in batches:
            rows = []
            for _, r in b.iterrows():
                base_c, _, payload = G.parse_wkb_full(bytes(r["geom_wkb"]))
                if base_c == G.WKB_LINESTRING:
                    pts = np.asarray(payload)
                    g, area = "LINESTRING", 0.0
                else:
                    g = "POLYGON"
                    pts = np.vstack([np.asarray(x) for x in payload])
                    area = G.shoelace_area(payload)
                rows.append((int(r["gid"]), int(r["part"]), g,
                             round(area, 6),
                             round(float(pts[:, 0].min()), 6),
                             round(float(pts[:, 0].max()), 6),
                             round(float(pts[:, 1].min()), 6),
                             round(float(pts[:, 1].max()), 6)))
            yield pd.DataFrame(rows, columns=[
                "gid", "part", "gtype", "area", "minx", "maxx", "miny",
                "maxy"])

    return parts.mapInPandas(
        describe,
        schema="gid long, part long, gtype string, area double, "
               "minx double, maxx double, miny double, maxy double")


def q_gml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GML codec parity (gml2ogrgeometry.cpp / ogr2gmlgeometry.cpp): every
    geometry survives WKB -> GML2 -> WKB -> GML3 -> WKB byte-identically;
    the output reports type name, vertex count, shoelace area, and the
    byte-identity flag. Arrow-batched narrow map, zero shuffle."""

    def mk_wkt(fid: int) -> str:
        w = 1.0 + (fid % 4)
        k = fid % 6
        if k == 0:
            return f"POINT ({fid} {fid + 1})"
        if k == 1:
            return f"LINESTRING (0 0, {w} {w}, {2 * w} 0)"
        if k == 2:
            return f"POLYGON ((0 0, {w} 0, {w} {w}, 0 {w}, 0 0))"
        if k == 3:
            return f"MULTIPOINT (({fid} 0), (0 {fid}), ({w} {w}))"
        if k == 4:
            return f"MULTILINESTRING ((0 0, {w} 0), (0 1, {w} 1, {w} 2))"
        return (f"MULTIPOLYGON (((0 0, {w} 0, {w} {w}, 0 {w}, 0 0)), "
                f"((9 9, {9 + w / 2} 9, {9 + w / 2} {9 + w / 2}, "
                f"9 {9 + w / 2}, 9 9)))")

    pdf = pd.DataFrame({"fid": range(60)})
    pdf["wkt"] = pdf["fid"].map(mk_wkt)
    base = spark.createDataFrame(pdf, schema="fid long, wkt string")

    def work(batches):
        import numpy as np
        from lib_gdal_spark.functions import geometry as G
        from lib_gdal_spark.functions.wkt import wkt_to_wkb
        from lib_gdal_spark.sources.gml import gml_to_wkb, wkb_to_gml

        names = {G.WKB_POINT: "POINT", G.WKB_LINESTRING: "LINESTRING",
                 G.WKB_POLYGON: "POLYGON", G.WKB_MULTIPOINT: "MULTIPOINT",
                 G.WKB_MULTILINESTRING: "MULTILINESTRING",
                 G.WKB_MULTIPOLYGON: "MULTIPOLYGON"}

        def shoelace(r):
            r = np.asarray(r)
            x, y = r[:, 0], r[:, 1]
            return 0.5 * abs(np.dot(x, np.roll(y, -1))
                             - np.dot(y, np.roll(x, -1)))

        def describe(wkb0):
            g2 = gml_to_wkb(wkb_to_gml(wkb0, 2))
            g3 = gml_to_wkb(wkb_to_gml(g2, 3))
            base_c, _, payload = G.parse_wkb_full(g3)
            if base_c == G.WKB_POINT:
                nv, area = 1, 0.0
            elif base_c in (G.WKB_LINESTRING, G.WKB_MULTIPOINT):
                nv, area = len(payload), 0.0
            elif base_c == G.WKB_POLYGON:
                nv = sum(len(r) for r in payload)
                area = shoelace(payload[0]) - sum(
                    shoelace(r) for r in payload[1:])
            elif base_c == G.WKB_MULTILINESTRING:
                nv, area = sum(len(ln) for ln in payload), 0.0
            else:
                nv = sum(len(r) for p in payload for r in p)
                area = sum(shoelace(p[0]) - sum(shoelace(r) for r in p[1:])
                           for p in payload)
            return names[base_c], nv, round(area, 6), int(g3 == wkb0)

        for b in batches:
            rows = [describe(wkt_to_wkb(s)) for s in b["wkt"]]
            yield pd.DataFrame({
                "fid": b["fid"],
                "gtype": [r[0] for r in rows],
                "nv": np.asarray([r[1] for r in rows], dtype=np.int64),
                "area": [r[2] for r in rows],
                "identical": np.asarray([r[3] for r in rows],
                                        dtype=np.int64),
            })

    return base.mapInPandas(
        work, schema="fid long, gtype string, nv long, area double, "
                     "identical long")


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def q_zonal_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal geometry (ArcGIS ZonalGeometry analog): per-zone pixel/ground
    area, ground perimeter from 4-neighbor exposed edges (halo-exchange
    partials), isoperimetric compactness. Box zones -> closed-form
    oracle; every ground term is a dyadic rational, so sums are exact."""
    from lib_gdal_spark.operators import rasterize as RZ
    from lib_gdal_spark.operators.stats import zonal_geometry

    grid = RZ.world_grid(256, 256, 64)
    polys = local_df(
        spark,
        [(mid, bytearray(G.wkb_polygon([G.box_ring(*bb)])), float(mid))
         for mid, bb in METHOD_BOXES.items()],
        "fid long, geom_wkb binary, burn double",
    )
    tiles = RZ.rasterize_polygons(polys, grid)
    return zonal_geometry(tiles)


def _window_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _points(spark, sf_dir)
        .where(
            (F.col("lon") >= 0) & (F.col("lon") < 40)
            & (F.col("lat") >= 0) & (F.col("lat") < 40)
        )
        .select("pid", F.col("lon").alias("x"), F.col("lat").alias("y"))
    )


def q_str_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STR (sort-tile-recursive) balanced spatial partitioning
    (Leutenegger et al. 1997) of the window points into a 4x4 grid of
    equal-count partitions: exact global ranks (range repartition +
    per-partition offsets — no single-reducer window), integer floor
    cuts. The oracle is the same double row_number + div arithmetic."""
    from lib_gdal_spark.operators.skew import str_partition

    return str_partition(_window_points(spark, sf_dir), nx=4, ny=4)


def q_line_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line density raster (ArcGIS Line Density) over 200 hashed unit
    segments in [0,40)^2, radius 1.5, 20x20 cells of size 2: exact
    closed-form segment-disc clip lengths quantized half-up to 1e-9
    units, exact int64 per-cell sums. The oracle cross-joins all
    (segment, cell) pairs with the identical formula."""
    from lib_gdal_spark.operators.grid import line_density

    k = F.col("id")
    segs = spark.range(200).select(
        k.alias("sid"),
        (((k * 7919) % 4000) / 100.0).alias("x0"),
        (((k * 104729) % 4000) / 100.0).alias("y0"),
        ((((k * 7919) % 4000) / 100.0)
         + ((((k * 31 + 7) % 200) - 100) / 100.0)).alias("x1"),
        ((((k * 104729) % 4000) / 100.0)
         + ((((k * 53 + 11) % 200) - 100) / 100.0)).alias("y1"),
    )
    return line_density(segs, radius=1.5, cell=2.0, nx=20, ny=20)


# ---------------------------------------------------------------------------
# session-12: image-processing filters (median / unsharp / Kuwahara /
# histogram matching) — operators/filters.py
# ---------------------------------------------------------------------------

def q_focal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 median filter over world4326 via the halo exchange. Median of
    9 integer samples is the 5th order statistic — integer-exact; the
    oracle sorts the spelled-out window with list_sort."""
    from lib_gdal_spark.operators.dem import dem_op_k
    from lib_gdal_spark.operators.filters import median3_kernel

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = dem_op_k(tiles, 1, median3_kernel)
    ex = _explode_px(out).where(
        F.col("px").between(1, 254) & F.col("py").between(1, 254))
    return ex.select("px", "py", F.col("v").cast("long").alias("f_median"))


def q_unsharp_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsharp mask (binomial 3x3 blur, amount=1/2) over world4326.
    Integer pixels + dyadic weights make every intermediate an exact
    dyadic rational — bit-identical across engines with no rounding."""
    from lib_gdal_spark.operators.dem import dem_op_k
    from lib_gdal_spark.operators.filters import unsharp_kernel

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = dem_op_k(tiles, 1, unsharp_kernel, amount=0.5)
    ex = _explode_px(out).where(
        F.col("px").between(1, 254) & F.col("py").between(1, 254))
    return ex.select("px", "py", F.col("v").alias("f_sharp"))


def q_kuwahara(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuwahara edge-preserving filter (k=2 halo): min-variance quadrant
    mean, variance ranked on the integer 9*s2 - s*s, ties to NW/NE/SW/SE
    order. The packed kernel output carries the chosen quadrant AND its
    integer sum so the oracle verifies the selection itself."""
    from lib_gdal_spark.operators.dem import dem_op_k
    from lib_gdal_spark.operators.filters import kuwahara_kernel

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = dem_op_k(tiles, 2, kuwahara_kernel)
    ex = _explode_px(out).where(
        F.col("px").between(2, 253) & F.col("py").between(2, 253))
    return ex.select(
        "px", "py",
        F.floor(F.col("v") / 4096).cast("long").alias("f_quad"),
        (F.col("v") % 4096).cast("long").alias("f_sum"),
        ((F.col("v") % 4096) / 9.0).alias("f_mean"))


def q_hist_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram matching: remap gradient256 so its value CDF matches
    world4326's. Pure integer counting — dst(v) = min reference value r
    with cdf_ref(r)*n_src >= cdf_src(v)*n_ref, cross-multiplied. Two
    <=256-row histograms + a broadcast range join; no pixel shuffle."""
    from lib_gdal_spark.operators.filters import histogram_match_table

    fx = RS.fixture_rasters(spark)
    src = fx.where(F.col("raster_id") == "gradient256")
    ref = fx.where(F.col("raster_id") == "world4326")
    t = histogram_match_table(src, ref)
    return t.select(F.col("v").alias("src_val"),
                    F.col("n_px").cast("long").alias("n_px"),
                    F.col("dst").cast("long").alias("dst_val"))


# ---------------------------------------------------------------------------
# session-12: line generalization + minimum enclosing circle
# ---------------------------------------------------------------------------

def _tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-vertex tracks from the shared synthetic points: tid = pid//8,
    vertex order pid%8 — derivable identically in SQL."""
    p = _points(spark, sf_dir).where(F.col("pid") < 400)
    return p.select(
        F.floor(F.col("pid") / 8).cast("long").alias("tid"),
        (F.col("pid") % 8).alias("vi"),
        F.col("lon").alias("x"), F.col("lat").alias("y"))


def q_chaikin_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Chaikin corner-cutting passes (8 -> 32 vertices) per track,
    entirely in Catalyst higher-order array functions. Dyadic 1/4-3/4
    weights + identical expression text in SQL = bit-identical
    doubles."""
    from lib_gdal_spark.functions.smooth import chaikin

    tr = (_tracks(spark, sf_dir)
          .groupBy("tid")
          .agg(F.array_sort(
              F.collect_list(F.struct("vi", "x", "y"))).alias("vs")))
    tr = tr.select(
        "tid",
        chaikin(F.transform(F.col("vs"), lambda s: s["x"]), 2).alias("xs"),
        chaikin(F.transform(F.col("vs"), lambda s: s["y"]), 2).alias("ys"))
    z = tr.select("tid", F.posexplode(F.arrays_zip("xs", "ys")))
    return z.select(
        "tid", F.col("pos").cast("long").alias("vi"),
        F.col("col")["xs"].alias("x"), F.col("col")["ys"].alias("y"))


def q_snap_to_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_SnapToGrid + consecutive-duplicate collapse over the tracks:
    snap by explicit half-up floor(v/step + 0.5)*step, drop vertices
    equal to their predecessor, re-number. Pure window relational
    form — no arrays, no UDF."""
    from pyspark.sql import Window
    from lib_gdal_spark.functions.smooth import snap_coord

    t = _tracks(spark, sf_dir)
    s = t.select(
        "tid", "vi",
        snap_coord(F.col("x"), 0.05).alias("sx"),
        snap_coord(F.col("y"), 0.05).alias("sy"))
    w = Window.partitionBy("tid").orderBy("vi")
    keep = (F.lag("sx").over(w).isNull()
            | (F.col("sx") != F.lag("sx").over(w))
            | (F.col("sy") != F.lag("sy").over(w)))
    kept = s.withColumn("keep", keep).where("keep")
    return kept.select(
        "tid",
        (F.row_number().over(w) - 1).cast("long").alias("vi"),
        "sx", "sy")


def q_min_enclosing_circle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum enclosing circle per 12-point group: every diameter-pair
    and circumcircle candidate tested for containment in EXACT integer
    arithmetic (coords bounded < 400 so the sharpest term stays under
    2^63); the winner's center/radius are the only float divisions."""
    from lib_gdal_spark.operators.enclosing import min_enclosing_circles

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 480)
    pts = ev.select(
        F.floor(F.col("event_id") / 12).cast("long").alias("gid"),
        (F.col("event_id") % 12).alias("i"),
        ((F.col("event_id") * 7919) % 400).alias("x"),
        ((F.col("event_id") * 104729) % 400).alias("y"))
    return min_enclosing_circles(pts)


def q_ipf_gravity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-constrained gravity model: 4 IPF iterations over a 12x12
    integer milli-unit seed matrix with equal row/column target
    margins. Every half-step re-quantizes half-up in pure int64, so
    the unrolled 8-stage SQL oracle is bit-identical."""
    from lib_gdal_spark.operators.gravity import ipf_gravity

    z = spark.range(0, 12)
    seed = (z.select(F.col("id").alias("i"))
            .crossJoin(z.select(F.col("id").alias("j")))
            .select("i", "j",
                    ((1 + (F.col("i") * 5 + F.col("j") * 7) % 9) * 1000)
                    .alias("v")))
    row_t = z.select(F.col("id").alias("i"),
                     ((40 + (F.col("id") * 31) % 25) * 1000).alias("t"))
    col_t = z.select(F.col("id").alias("j"),
                     ((40 + (F.col("id") * 31) % 25) * 1000).alias("t"))
    return ipf_gravity(seed, row_t, col_t, rounds=4)


def q_visvalingam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visvalingam-Whyatt simplification: remove the 4 smallest-
    effective-area interior vertices per 10-vertex track (statically
    unrolled window stages, integer doubled areas, (area, index)
    tie-break). The oracle spells the identical 4 lag/lead + argmin
    stages."""
    from lib_gdal_spark.operators.simplify import visvalingam

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 300)
    pts = ev.select(
        F.floor(F.col("event_id") / 10).cast("long").alias("tid"),
        (F.col("event_id") % 10).alias("vi"),
        ((F.col("event_id") * 7919) % 1000).alias("x"),
        ((F.col("event_id") * 104729) % 1000).alias("y"))
    return visvalingam(pts, n_remove=4)


def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance between the two leading 24-char
    windows of each document (both engines ship the textbook DP
    builtin; the near-dup diff primitive at the string level)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    return d.select(
        "doc_id",
        F.levenshtein(F.substring("text", 1, 24),
                      F.substring("text", 25, 24)).alias("dist"))


def q_ransac_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic RANSAC line fit over 1000 points (80% on
    y = 3x + 7 with +-2 jitter, 20% gross outliers): splitmix trial
    anchors, exact integer inlier tests, OLS refit over the winning
    trial's inliers — the oracle replays the identical trial-index
    arithmetic through _mix_sql."""
    from lib_gdal_spark.operators.robustfit import ransac_line

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 1000)
    pts = ev.select(
        F.col("event_id").alias("pid"),
        ((F.col("event_id") * 37) % 1000).alias("x"),
        F.when(F.col("event_id") % 5 == 0,
               (F.col("event_id") * 104729) % 3000)
         .otherwise(3 * ((F.col("event_id") * 37) % 1000) + 7
                    + (F.col("event_id") * 13) % 5 - 2).alias("y"))
    return ransac_line(pts, trials=64, tol=3, seed=42)


def q_compactness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polsby-Popper / Schwartzberg shape compactness over integer
    axis-parallel boxes (one holed): edge lengths are integers, so the
    fixed-order perimeter sum is exact and the oracle's closed forms
    match at round-9."""
    from collections.abc import Iterator as _It

    from lib_gdal_spark.operators.layer_algebra import compactness

    def boxes(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            rows = []
            for k in b["id"]:
                k = int(k)
                w = 10 + (k * 7) % 90
                h = 5 + (k * 13) % 60
                rings = [G.box_ring(k * 200.0, 0.0, k * 200.0 + w, h)]
                if k % 4 == 0 and w > 6 and h > 6:
                    rings.append(G.box_ring(k * 200.0 + 2, 2,
                                            k * 200.0 + 4, 4))
                rows.append({"fid": k,
                             "geom_wkb": G.wkb_polygon(
                                 [np.asarray(r) for r in rings])})
            yield pd.DataFrame(rows, columns=["fid", "geom_wkb"])

    import numpy as np
    layer = spark.range(0, 200).mapInPandas(
        boxes, schema="fid long, geom_wkb binary")
    return compactness(layer)


def q_pca_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of six integer text statistics over
    documents: one exact-integer covariance aggregation + 24 unrolled
    power-iteration steps in fixed-order float arithmetic (IEEE sqrt,
    left-assoc matvec) — the oracle replays every FLOP."""
    from lib_gdal_spark.operators.pca import pca_top_component
    return pca_top_component(_t(spark, sf_dir, "documents"), iters=24)


def q_solar_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solar exposure with cast shadows over world4326 (k=8 halo): an
    eastward horizon scan (max slope ratio vs tan_alt=1/4) gates the
    Horn-normal Lambertian incidence with the (4,0,1)/sqrt(17) sun
    vector. Shadowed cells are -1.0 in the packed band; the oracle
    spells horizon + Horn + incidence with identical fixed ops."""
    from lib_gdal_spark.operators.dem import dem_op_k, solar_exposure_kernel

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    out = dem_op_k(tiles, 8, solar_exposure_kernel)
    ex = _explode_px(out).where(
        F.col("px").between(8, 247) & F.col("py").between(8, 247))
    return ex.select(
        "px", "py",
        (F.col("v") == -1.0).cast("long").alias("shadowed"),
        F.greatest(F.col("v"), F.lit(0.0)).alias("exposure"))


def q_isochrone_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-area isochrones: the cost_distance fixpoint banded at
    20-cost intervals (floor(dist/20) on the 9-dp-rounded distances,
    identical doubles in both engines), with per-band cell counts,
    min/max, and an exact integer nano-unit sum feeding the mean."""
    from lib_gdal_spark.operators.proximity import cost_distance

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    cd = cost_distance(tiles, [(5, 5), (38, 20), (20, 38)], lo=1, hi=40)
    nano = F.round(F.col("dist") * 1e9).cast("long")
    return (cd.groupBy(
        F.floor(F.col("dist") / 20.0).cast("long").alias("band"))
        .agg(F.count(F.lit(1)).alias("n_cells"),
             F.min("dist").alias("d_min"),
             F.max("dist").alias("d_max"),
             F.sum(nano).alias("d_sum_nano"))
        .select("band", "n_cells", "d_min", "d_max",
                F.col("d_sum_nano").cast("long").alias("d_sum_nano"),
                (F.col("d_sum_nano").cast("double") / F.col("n_cells")
                 / F.lit(1000000000.0)).alias("d_mean")))


def q_dem_hand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Height Above Nearest Drainage (Rennó 2008) over the world4326
    [1,126]^2 window: drainage = accumulation >= 40, drainage-stopping
    pointer doubling, HAND = z - z(first drainage downstream) as exact
    integers (NULL + drained=0 where the path dies first). Oracle =
    the flow-accumulation recursive CTE + an 8-stage doubling chain
    over the drainage-aware successor."""
    from lib_gdal_spark.operators.dem import hand

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    return hand(tiles, threshold=40, lo=1, hi=126)


def q_largest_empty_circle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest empty circle in the [0,400]^2 box per 12-point group:
    the full candidate family (circumcenters, bisector x wall
    crossings, corners) with rational centers, integer in-box and
    nearest-point tests; radius = distance to the nearest point, so no
    emptiness filter is needed."""
    from lib_gdal_spark.operators.enclosing import largest_empty_circles

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 480)
    pts = ev.select(
        F.floor(F.col("event_id") / 12).cast("long").alias("gid"),
        (F.col("event_id") % 12).alias("i"),
        ((F.col("event_id") * 7919) % 400).alias("x"),
        ((F.col("event_id") * 104729) % 400).alias("y"))
    return largest_empty_circles(pts, box=400)


def q_morph_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary morphology, the closing side: closing (= erode(dilate)),
    morphological gradient (dilate - erode, the mask's edge band), and
    black tophat (closing - mask, the pepper holes filled by closing).
    Two composed halo-exchange rounds like morph_open; the oracle
    spells the 81-term closing and the differences directly."""
    from lib_gdal_spark.operators.dem import dem_op

    tiles = RS.fixture_rasters(spark).where(F.col("raster_id") == "world4326")
    er = dem_op(tiles, "morph_erode", threshold=128.0)
    di = dem_op(tiles, "morph_dilate", threshold=128.0)
    cl = dem_op(di, "morph_erode", threshold=0.5)
    e = _explode_px(er).select(
        "px", "py", F.col("v").cast("int").alias("eroded"))
    d = _explode_px(di).select(
        "px", "py", F.col("v").cast("int").alias("dilated"))
    c = _explode_px(cl).select(
        "px", "py", F.col("v").cast("int").alias("closed"))
    m = _explode_px(tiles).select(
        "px", "py",
        (F.col("v") >= 128.0).cast("int").alias("mask"))
    j = (c.join(e, ["px", "py"]).join(d, ["px", "py"])
         .join(m, ["px", "py"])
         .where(F.col("px").between(2, 253) & F.col("py").between(2, 253)))
    return j.select(
        "px", "py", F.col("closed").cast("int").alias("closed"),
        (F.col("dilated") - F.col("eroded")).cast("int").alias("gradient"),
        (F.col("closed") - F.col("mask")).cast("int").alias("tophat_black"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: web-mercator tile assignment LEFT-joined with the PIP
    spatial join at sf0.001 — every point keeps its tile; polygon fid is
    attached where the point falls inside a pentagon (NULL otherwise)."""
    sf_dir = "/root/testdata/sf0.001"
    hits = q_pip_join_pentagon(spark, sf_dir)
    tiles = q_tile_assign_z8(spark, sf_dir).withColumn(
        "pid", F.col("pid").cast("string")
    )
    return tiles.join(hits, "pid", "left").select("pid", "fid", "z", "tx", "ty")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "ogr_like_filter": q_ogr_like_filter,
        "ogr_summary_record": q_ogr_summary_record,
        "ogr_count_distinct": q_ogr_count_distinct,
        "ogr_distinct_list": q_ogr_distinct_list,
        "ogr_first_match_join": q_ogr_first_match_join,
        "ogr_order_limit": q_ogr_order_limit,
        "ogr_in_between": q_ogr_in_between,
        "ogr_two_valued_null": q_ogr_two_valued_null,
        "ogr_hstore_get": q_ogr_hstore_get,
        "ogr_scalar_funcs": q_ogr_scalar_funcs,
        "ogr_union_all": q_ogr_union_all,
        "tile_assign_z8": q_tile_assign_z8,
        "cell_pack_parent": q_cell_pack_parent,
        "pip_join_pentagon": q_pip_join_pentagon,
        "rasterize_counts": q_rasterize_counts,
        "polygonize_components": q_polygonize_components,
        "dem_slope": q_dem_slope,
        "dem_hillshade": q_dem_hillshade,
        "viewshed": q_viewshed,
        "grid_idw": q_grid_idw,
        "translate_decimate": q_translate_decimate,
        "location_info": q_location_info,
        "mosaic_lastwins": q_mosaic_lastwins,
        "warp_nearest_z2": q_warp_nearest_z2,
        "warp_bilinear_z2": q_warp_bilinear_z2,
        "warp_cubic_z2": q_warp_cubic_z2,
        "warp_cubicspline_z2": q_warp_cubicspline_z2,
        "warp_lanczos_z2": q_warp_lanczos_z2,
        "warp_average_z2": q_warp_average_z2,
        "warp_median_z2": q_warp_median_z2,
        "warp_q3_z2": q_warp_q3_z2,
        "warp_mode_z2": q_warp_mode_z2,
        "warp_max_z2": q_warp_max_z2,
        "warp_sum_z2": q_warp_sum_z2,
        "warp_rms_z2": q_warp_rms_z2,
        "pyramid_avg_l1": q_pyramid_avg_l1,
        "pyramid_rms_l1": q_pyramid_rms_l1,
        "pyramid_mode_l1": q_pyramid_mode_l1,
        "pyramid_gauss_l1": q_pyramid_gauss_l1,
        "dem_aspect_trig": q_dem_aspect_trig,
        "dem_slope_percent": q_dem_slope_percent,
        "dem_slope_zt": q_dem_slope_zt,
        "dem_aspect_zt": q_dem_aspect_zt,
        "dem_hillshade_combined": q_dem_hillshade_combined,
        "dem_hillshade_multi": q_dem_hillshade_multi,
        "dem_hillshade_igor": q_dem_hillshade_igor,
        "raster_footprint": q_raster_footprint,
        "raster_compare": q_raster_compare,
        "contour_polygons": q_contour_polygons,
        "rasterize_invert": q_rasterize_invert,
        "contour_crossings": q_contour_crossings,
        "layer_intersection": q_layer_intersection,
        "areal_interp": q_areal_interp,
        "areal_interp_intensive": q_areal_interp_intensive,
        "polygon_neighbors": q_polygon_neighbors,
        "layer_erase": q_layer_erase,
        "pansharpen": q_pansharpen,
        "proximity": q_proximity,
        "proximity_allocation": q_proximity_allocation,
        "cost_distance": q_cost_distance,
        "cost_corridor": q_cost_corridor,
        "cost_allocation": q_cost_allocation,
        "least_cost_path": q_least_cost_path,
        "sieve_counts": q_sieve_counts,
        "fillnodata": q_fillnodata,
        "knn_kring": q_knn_kring,
        "knn_bruteforce": q_knn_bruteforce,
        "text_fingerprint": q_text_fingerprint,
        "tpch_promo_share": q_tpch_promo_share,
        "great_circle": q_great_circle,
        "geodesic_ring_stats": q_geodesic_ring_stats,
        "rhumb_line": q_rhumb_line,
        "mgrs_cells": q_mgrs_cells,
        "mgrs_polar_cells": q_mgrs_polar_cells,
        "plus_codes": q_plus_codes,
        "quadkeys": q_quadkeys,
        "geohash_cells": q_geohash_cells,
        "hexbin_cells": q_hexbin_cells,
        "toponym_resolve": q_toponym_resolve,
        "crawl_delta": q_crawl_delta,
        "hex_kring_pairs": q_hex_kring_pairs,
        "dbscan_clusters": q_dbscan_clusters,
        "st_dbscan": q_st_dbscan,
        "polyline_encode": q_polyline_encode,
        "salted_hot_join": q_salted_hot_join,
        "hot_cells": q_hot_cells,
        "jsonld_geo": q_jsonld_geo,
        "url_history": q_url_history,
        "lpa_communities": q_lpa_communities,
        "vincenty_distance": q_vincenty_distance,
        "s2_cells": q_s2_cells,
        "s2_parent_counts": q_s2_parent_counts,
        "s2_ring_pairs": q_s2_ring_pairs,
        "cell_compact": q_cell_compact,
        "layer_dissolve": q_layer_dissolve,
        # round-2 operators
        "polygonize_rings": q_polygonize_rings,
        "layer_union": q_layer_union,
        "layer_symdiff": q_layer_symdiff,
        "warp_utm_nearest": q_warp_utm_nearest,
        "warp_ps_nearest": q_warp_ps_nearest,
        "warp_albers_nearest": q_warp_albers_nearest,
        "warp_mollweide_nearest": q_warp_mollweide_nearest,
        "warp_sinusoidal_nearest": q_warp_sinusoidal_nearest,
        "warp_datum_shift": q_warp_datum_shift,
        "warp_bng_nearest": q_warp_bng_nearest,
        "warp_laea_nearest": q_warp_laea_nearest,
        "warp_rdnew_nearest": q_warp_rdnew_nearest,
        "warp_krovak_nearest": q_warp_krovak_nearest,
        "warp_cassini_nearest": q_warp_cassini_nearest,
        "warp_polyconic_nearest": q_warp_polyconic_nearest,
        "warp_mercator_nearest": q_warp_mercator_nearest,
        "warp_eqc_nearest": q_warp_eqc_nearest,
        "warp_omerc_nearest": q_warp_omerc_nearest,
        "warp_ups_nearest": q_warp_ups_nearest,
        "warp_stateplane_md": q_warp_stateplane_md,
        "warp_stateplane_tx": q_warp_stateplane_tx,
        "warp_stateplane_nj": q_warp_stateplane_nj,
        "warp_gcp_nearest": q_warp_gcp_nearest,
        "raster_checksum_complex": q_raster_checksum_complex,
        "pyramid_magphase_l1": q_pyramid_magphase_l1,
        "complex_pixelfuncs": q_complex_pixelfuncs,
        "band_stats": q_band_stats,
        "raster_quantile_classes": q_raster_quantile_classes,
        "band_histogram": q_band_histogram,
        "hypsometric": q_hypsometric,
        "pyramid_cubic_l1": q_pyramid_cubic_l1,
        "grid_linear": q_grid_linear,
        "grid_invdistnn": q_grid_invdistnn,
        "grid_kriging": q_grid_kriging,
        "grid_gwr": q_grid_gwr,
        "rasterize_alltouched": q_rasterize_alltouched,
        "rasterize_line": q_rasterize_line,
        "rasterize_points": q_rasterize_points,
        "constructive_geom": q_constructive_geom,
        "min_rotated_rect": q_min_rotated_rect,
        "graph_sssp": q_graph_sssp,
        "nearblack": q_nearblack,
        "raster_pyramid_cksum": q_raster_pyramid_cksum,
        "tile_index": q_tile_index,
        "spatial_predicates": q_spatial_predicates,
        "contour_length": q_contour_length,
        "knn_auto": q_knn_auto,
        "map_match": q_map_match,
        "focal_mean": q_focal_mean,
        "graph_kshortest": q_graph_kshortest,
        "dem_aspect": q_dem_aspect,
        "dem_tri": q_dem_tri,
        "dem_tpi": q_dem_tpi,
        "dem_roughness": q_dem_roughness,
        "dem_flowdir": q_dem_flowdir,
        "dem_curv_profile": q_dem_curv_profile,
        "dem_curv_plan": q_dem_curv_plan,
        "dem_curv_total": q_dem_curv_total,
        "dem_basins": q_dem_basins,
        "basin_zonal": q_basin_zonal,
        "flow_accumulation": q_flow_accumulation,
        "flow_length": q_flow_length,
        "flow_length_upstream": q_flow_length_upstream,
        "fill_sinks": q_fill_sinks,
        "dem_twi": q_dem_twi,
        "dem_insolation": q_dem_insolation,
        "strahler_order": q_strahler_order,
        "translate_auto": q_translate_auto,
        "warp_tps": q_warp_tps,
        "warp_rpc": q_warp_rpc,
        "warp_geoloc": q_warp_geoloc,
        "layer_identity": q_layer_identity,
        "layer_clip": q_layer_clip,
        "dither_pct": q_dither_pct,
        "cutline_density": q_cutline_density,
        "ogr_execute_sql": q_ogr_execute_sql,
        "ogr_special_fields": q_ogr_special_fields,
        "ogr_geometry_types": q_ogr_geometry_types,
        "ogr_reproject": q_ogr_reproject,
        "translate_cubic": q_translate_cubic,
        "grid_avgdist": q_grid_avgdist,
        "enhance_equalize": q_enhance_equalize,
        "curve_linearize": q_curve_linearize,
        "mbtiles_roundtrip": q_mbtiles_roundtrip,
        "vrt_pixelfuncs": q_vrt_pixelfuncs,
        "kmeans_clusters": q_kmeans_clusters,
        "semantic_dedup": q_semantic_dedup,
        "gc_navigation": q_gc_navigation,
        "rhumb_destination": q_rhumb_destination,
        "skyline_docs": q_skyline_docs,
        "morph_open": q_morph_open,
        "zonal_crosstab": q_zonal_crosstab,
        "openness": q_openness,
        "sky_view_factor": q_sky_view_factor,
        "geomorphons": q_geomorphons,
        "focal_stats": q_focal_stats,
        "otsu_threshold": q_otsu_threshold,
        "tpi_landforms": q_tpi_landforms,
        "jenks_breaks": q_jenks_breaks,
        "pq_encode": q_pq_encode,
        "pq_topk": q_pq_topk,
        "dem_vrm": q_dem_vrm,
        "ogr_multijoin": q_ogr_multijoin,
        "exact_quantiles": q_exact_quantiles,
        "corr_matrix": q_corr_matrix,
        "benford": q_benford,
        "pagerank": q_pagerank,
        "trustrank": q_trustrank,
        "spam_mass": q_spam_mass,
        "graph_stats": q_graph_stats,
        "graph_kcore": q_graph_kcore,
        "graph_ktruss": q_graph_ktruss,
        "lineref_parts": q_lineref_parts,
        "lineref_pos": q_lineref_pos,
        "lineref_coord": q_lineref_coord,
        "vshift_apply": q_vshift_apply,
        "flatten_mask": q_flatten_mask,
        "raster_checksum": q_raster_checksum,
        "raster_pyramid": q_raster_pyramid,
        "pages_enrich": q_pages_enrich,
        "surf_hessian": q_surf_hessian,
        "feature_matching": q_feature_matching,
        "gdal_info": q_gdal_info,
        "raster_to_points": q_raster_to_points,
        "dump_overviews": q_dump_overviews,
        "ogr_layer_summary": q_ogr_layer_summary,
        "srs_info": q_srs_info,
        "triangle_counts": q_triangle_counts,
        "gml_roundtrip": q_gml_roundtrip,
        "geojson_roundtrip": q_geojson_roundtrip,
        "explode_collections": q_explode_collections,
        "wrap_dateline": q_wrap_dateline,
        "zonal_stats": q_zonal_stats,
        "zonal_majority": q_zonal_majority,
        "gpx_track_points": q_gpx_track_points,
        "gtiff_roundtrip": q_gtiff_roundtrip,
        "shp_roundtrip": q_shp_roundtrip,
        "kml_placemarks": q_kml_placemarks,
        "osm_way_assembly": q_osm_way_assembly,
        "cog_pyramid": q_cog_pyramid,
        "warc_ingest": q_warc_ingest,
        "wet_wat_ingest": q_wet_wat_ingest,
        "aaigrid_roundtrip": q_aaigrid_roundtrip,
        "mif_roundtrip": q_mif_roundtrip,
        "csv_layer": q_csv_layer,
        "translate_projwin": q_translate_projwin,
        "sitemap_entries": q_sitemap_entries,
        "png_roundtrip": q_png_roundtrip,
        "ehdr_roundtrip": q_ehdr_roundtrip,
        "cdx_index": q_cdx_index,
        "format_convert": q_format_convert,
        "mvt_tiles": q_mvt_tiles,
        "dxf_entities": q_dxf_entities,
        "dted_cells": q_dted_cells,
        "netcdf_roundtrip": q_netcdf_roundtrip,
        "hits_scores": q_hits,
        "harmonic_centrality": q_harmonic,
        "betweenness": q_betweenness,
        "neighborhood_function": q_neighborhood_function,
        "degree_mixing": q_degree_mixing,
        "rich_club": q_rich_club,
        "coreness": q_coreness,
        "salsa_scores": q_salsa,
        "link_prediction": q_link_prediction,
        "hgt_cells": q_hgt_cells,
        "hilbert_keys": q_hilbert_keys,
        "gtiff_export": q_gtiff_export,
        "georss_items": q_georss_items,
        "zonal_geometry": q_zonal_geometry,
        "str_partition": q_str_partition,
        "line_density": q_line_density,
        "focal_median": q_focal_median,
        "unsharp_mask": q_unsharp_mask,
        "kuwahara": q_kuwahara,
        "hist_match": q_hist_match,
        "chaikin_smooth": q_chaikin_smooth,
        "snap_to_grid": q_snap_to_grid,
        "min_enclosing_circle": q_min_enclosing_circle,
        "ipf_gravity": q_ipf_gravity,
        "visvalingam": q_visvalingam,
        "edit_distance": q_edit_distance,
        "ransac_line": q_ransac_line,
        "compactness": q_compactness,
        "pca_features": q_pca_features,
        "solar_exposure": q_solar_exposure,
        "isochrone_bands": q_isochrone_bands,
        "dem_hand": q_dem_hand,
        "largest_empty_circle": q_largest_empty_circle,
        "morph_close": q_morph_close,
    }


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}

    sqls["ogr_like_filter"] = (
        "SELECT c_custkey, c_name, c_mktsegment FROM customer "
        "WHERE c_mktsegment ILIKE '%BUILD%'"
    )

    sqls["ogr_summary_record"] = """
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / CAST(count(*) AS BIGINT) AS avg_qty,
               min(l_shipdate) AS min_ship,
               max(l_shipdate) AS max_ship
        FROM lineitem
    """

    sqls["ogr_count_distinct"] = """
        SELECT CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flags,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part
        FROM lineitem
    """

    sqls["ogr_distinct_list"] = (
        "SELECT DISTINCT o_orderpriority FROM orders "
        "ORDER BY o_orderpriority ASC NULLS FIRST"
    )

    sqls["ogr_first_match_join"] = """
        SELECT c_custkey, c_name, o_orderkey, o_totalprice FROM (
          SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
                 row_number() OVER (
                   PARTITION BY c.c_custkey
                   ORDER BY o.o_orderkey ASC NULLS LAST) AS rn
          FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        ) WHERE rn = 1
    """

    sqls["ogr_order_limit"] = (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC LIMIT 10"
    )

    sqls["ogr_in_between"] = (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem "
        "WHERE coalesce(l_quantity >= 10.0 AND l_quantity <= 20.0, false) "
        "AND l_returnflag IN ('A', 'R')"
    )

    sqls["ogr_two_valued_null"] = """
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
        WHERE NOT coalesce(nullif(l_tax, 0.0) > 0.05, false)
        GROUP BY l_returnflag
    """

    sqls["ogr_hstore_get"] = r"""
        SELECT event_id, CAST(nullif(regexp_extract(props, '"k":\s*(\d+)', 1), '')
               AS INTEGER) AS k_val
        FROM events
        WHERE coalesce(CAST(nullif(regexp_extract(props, '"k":\s*(\d+)', 1), '')
              AS INTEGER) > 50, false)
    """

    # note: Spark CAST(double AS int) truncates; DuckDB rounds -> trunc()
    sqls["ogr_scalar_funcs"] = """
        SELECT c_custkey,
               concat(c_name, '#', c_mktsegment) AS tag,
               substr(c_name, 1, 8) AS prefix,
               c_custkey % 7 AS bucket,
               CAST(c_custkey AS DOUBLE) AS key_f,
               CAST(c_acctbal AS VARCHAR) AS bal_s,
               CAST(trunc(c_acctbal) AS INTEGER) AS bal_i
        FROM customer
    """

    sqls["ogr_union_all"] = """
        SELECT c_custkey AS key, c_name AS name, 'customer' AS src FROM customer
        UNION ALL
        SELECT s_suppkey AS key, s_name AS name, 'supplier' AS src FROM supplier
    """

    # mercator tile math mirrors cells.lonlat_to_tile op-for-op
    sqls["tile_assign_z8"] = f"""
        WITH pts AS ({_POINTS_SQL})
        SELECT pid, CAST(8 AS INTEGER) AS z,
          CAST(least(greatest(floor(((lon + 180.0) / 360.0) * 256.0), 0), 255)
               AS BIGINT) AS tx,
          CAST(least(greatest(floor(
            (0.5 - ln((1.0 + sin(radians(lat))) / (1.0 - sin(radians(lat))))
                   / (4.0 * pi())) * 256.0), 0), 255) AS BIGINT) AS ty
        FROM pts
    """

    sqls["cell_pack_parent"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        xy AS (
          SELECT pid,
            CAST(least(greatest(floor(((lon + 180.0) / 360.0) * 1024.0), 0), 1023)
                 AS BIGINT) AS x10,
            CAST(least(greatest(floor(
              (0.5 - ln((1.0 + sin(radians(lat))) / (1.0 - sin(radians(lat))))
                     / (4.0 * pi())) * 1024.0), 0), 1023) AS BIGINT) AS y10
          FROM pts
        )
        SELECT pid,
               10 * 288230376151711744 + x10 * 536870912 + y10 AS cell10,
               5 * 288230376151711744 + (x10 // 32) * 536870912 + (y10 // 32)
                 AS cell5
        FROM xy
    """

    sqls["pip_join_pentagon"] = _pip_oracle()

    burn_parts = " UNION ALL ".join(
        f"SELECT px, py, {fid} AS fid FROM pix WHERE {_inside_sql(verts)}"
        for fid, verts in RASTER_POLYGONS.items()
    )
    sqls["rasterize_counts"] = f"""
        WITH pix AS ({_PIXELS_SQL}),
        burned AS ({burn_parts})
        SELECT CAST(px // 64 AS INTEGER) AS tile_x,
               CAST(py // 64 AS INTEGER) AS tile_y,
               CAST(fid AS DOUBLE) AS burn,
               CAST(count(*) AS BIGINT) AS n_pixels
        FROM burned GROUP BY 1, 2, 3
    """

    sqls["rasterize_invert"] = f"""
        WITH pix AS ({_PIXELS_SQL}),
        burned AS ({burn_parts}),
        cov AS (SELECT count(*) AS n
                FROM (SELECT DISTINCT px, py FROM burned))
        SELECT 1.0 AS value, CAST(65536 - n AS BIGINT) AS n_pixels FROM cov
        UNION ALL
        SELECT 0.0 AS value, CAST(n AS BIGINT) AS n_pixels FROM cov
    """

    sqls["polygonize_components"] = f"""
        WITH pix AS ({_PIXELS_SQL}),
        burned AS ({burn_parts})
        SELECT min(py * 256 + px) AS component,
               CAST(fid AS DOUBLE) AS value,
               CAST(count(*) AS BIGINT) AS n_pixels,
               min(px) AS min_px, min(py) AS min_py,
               max(px) AS max_px, max(py) AS max_py
        FROM burned GROUP BY fid
    """
    sqls["knn_kring"] = _KNN_ORACLE
    sqls["knn_bruteforce"] = _KNN_ORACLE

    sqls["grid_idw"] = f"""
        WITH pts AS (
          SELECT lon, lat, CAST(pid % 97 AS DOUBLE) AS v FROM ({_POINTS_SQL})
        ),
        pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
                 -180.0 + (x.px + 0.5) * 5.625 AS cx,
                 90.0 + (y.py + 0.5) * -2.8125 AS cy
          FROM generate_series(0, 63) x(px) CROSS JOIN generate_series(0, 63) y(py)
        ),
        j AS (
          SELECT px, py,
                 power((cx - lon) * (cx - lon) + (cy - lat) * (cy - lat), -1.0) AS w,
                 v
          FROM pix JOIN pts
          ON (cx - lon) * (cx - lon) + (cy - lat) * (cy - lat) <= 225.0
        ),
        agg AS (SELECT px, py, sum(w * v) / sum(w) AS val FROM j GROUP BY px, py)
        SELECT pix.px, pix.py, round(coalesce(agg.val, 0.0), 4) AS idw
        FROM pix LEFT JOIN agg ON pix.px = agg.px AND pix.py = agg.py
    """

    sqls["vrt_pixelfuncs"] = """
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
          trunc((x.px + y.py) * 0.5)
            + trunc((sin(x.px * 0.19) + cos(y.py * 0.13)) * 60.0 + 128.0) AS s,
          round(20.0 * log10(abs(
            trunc((sin(x.px * 0.19) + cos(y.py * 0.13)) * 60.0 + 128.0))), 6)
            AS db
        FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
    """

    sqls["mbtiles_roundtrip"] = """
        SELECT CAST(tx.v AS INTEGER) AS tx, CAST(ty.v AS INTEGER) AS ty,
               CAST(sum((i.v + j.v + 17 * tx.v + 29 * ty.v) % 256)
                    AS BIGINT) AS px_sum
        FROM generate_series(0, 3) tx(v) CROSS JOIN generate_series(0, 3) ty(v)
        CROSS JOIN generate_series(0, 63) i(v) CROSS JOIN generate_series(0, 63) j(v)
        GROUP BY tx.v, ty.v
    """

    sqls["curve_linearize"] = """
        SELECT CAST(k AS BIGINT) AS idx,
          CASE WHEN k IN (0, 90) THEN 0.0 WHEN k = 45 THEN 2.0
               ELSE round(1.0 + cos(pi() + k * pi() / 45.0), 9) END AS x,
          CASE WHEN k IN (0, 45, 90) THEN 0.0
               ELSE round(sin(pi() + k * pi() / 45.0), 9) END AS y
        FROM generate_series(0, 90) t(k)
    """

    sqls["enhance_equalize"] = """
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
                 CAST((x.px + y.py) // 2 AS BIGINT) AS v
          FROM generate_series(0, 255) x(px) CROSS JOIN generate_series(0, 255) y(py)
        ),
        hist AS (
          SELECT g.v,
                 CASE WHEN g.v IN (0, 255) THEN 0
                      ELSE coalesce(h.c, 0) END AS c
          FROM generate_series(0, 255) g(v)
          LEFT JOIN (SELECT v, count(*) AS c FROM pix GROUP BY v) h
            ON g.v = h.v
        ),
        cum AS (
          SELECT v,
                 coalesce(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + c // 2 AS cm
          FROM hist
        ),
        lut AS (
          SELECT v,
                 least(greatest(cm * 256 // greatest(
                   (SELECT sum(c) FROM hist), 1), 0), 255) AS o
          FROM cum
        )
        SELECT pix.px, pix.py, CAST(lut.o AS BIGINT) AS v
        FROM pix JOIN lut ON pix.v = lut.v
    """

    sqls["grid_avgdist"] = f"""
        WITH pts AS (SELECT lon, lat FROM ({_POINTS_SQL})),
        pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
                 -180.0 + (x.px + 0.5) * 5.625 AS cx,
                 90.0 + (y.py + 0.5) * -2.8125 AS cy
          FROM generate_series(0, 63) x(px) CROSS JOIN generate_series(0, 63) y(py)
        ),
        j AS (
          SELECT px, py,
                 sqrt((cx - lon) * (cx - lon) + (cy - lat) * (cy - lat)) AS d
          FROM pix JOIN pts
          ON (cx - lon) * (cx - lon) + (cy - lat) * (cy - lat) <= 225.0
        ),
        agg AS (SELECT px, py, sum(d) / count(*) AS val FROM j GROUP BY px, py)
        SELECT pix.px, pix.py, round(coalesce(agg.val, 0.0), 4) AS ad
        FROM pix LEFT JOIN agg ON pix.px = agg.px AND pix.py = agg.py
    """

    sqls["translate_decimate"] = """
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               CAST(trunc(((37 + least(trunc(0.5 + x.px * 2.0), 149))
                          + (21 + least(trunc(0.5 + y.py * 2.0), 99))) * 0.5)
                    AS BIGINT) AS v
        FROM generate_series(0, 74) x(px) CROSS JOIN generate_series(0, 49) y(py)
    """

    sqls["translate_projwin"] = """
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               CAST(trunc((sin((56 + x.px) * 0.19)
                           + cos((56 + y.py) * 0.13)) * 60.0 + 128.0)
                    AS BIGINT) AS v
        FROM generate_series(0, 49) x(px) CROSS JOIN generate_series(0, 56) y(py)
    """

    sqls["location_info"] = """
        SELECT qid, CAST(floor(x) AS BIGINT) AS px,
               CAST(floor(256.0 - y) AS BIGINT) AS py,
               CAST(trunc((floor(x) + floor(256.0 - y)) * 0.5) AS BIGINT) AS v
        FROM (VALUES (1, 10.2, 200.7), (2, 100.9, 119.3), (3, 255.2, 100.1),
                     (4, 0.4, 255.6), (5, 199.5, 140.25)) q(qid, x, y)
    """

    sqls["mosaic_lastwins"] = f"""
        WITH pix AS ({_PIXELS_SQL})
        SELECT CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
               CAST(9 AS BIGINT) AS v
        FROM pix WHERE lon > -10.063 AND lon < 30.063
                   AND lat > -10.063 AND lat < 30.063
        UNION ALL
        SELECT CAST(px AS BIGINT), CAST(py AS BIGINT), CAST(5 AS BIGINT)
        FROM pix WHERE lon > -30.063 AND lon < 10.063
                   AND lat > -20.063 AND lat < 20.063
               AND NOT (lon > -10.063 AND lon < 30.063
                        AND lat > -10.063 AND lat < 30.063)
    """

    # warp oracle: every constant is the repr of the identical Python/NumPy
    # float the kernel computes, so the op sequence matches bit-for-bit.
    from lib_gdal_spark.functions import cells as C
    from lib_gdal_spark.kernels import resample as R

    OS = C.ORIGIN_SHIFT
    span = 2.0 * OS / 4
    res = span / 64
    inv = R.gt_invert((-180.0, 360.0 / 256, 0.0, 90.0, 0.0, -180.0 / 256))
    rad2deg = 57.29577951308232  # np.degrees multiplier (180/pi)
    halfpi = 1.5707963267948966
    sqls["warp_nearest_z2"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 255) x(px) CROSS JOIN generate_series(0, 255) y(py)
        ),
        merc AS (
          SELECT px, py,
            ({-OS!r} + (px // 64) * {span!r}) + ((px % 64) + 0.5) * {res!r} AS mx,
            ({OS!r} - (py // 64) * {span!r}) + ((py % 64) + 0.5) * {-res!r} AS my
          FROM pix
        ),
        ll AS (
          SELECT px, py,
            (mx / 6378137.0) * {rad2deg!r} AS lon,
            (2.0 * atan(exp(my / 6378137.0)) - {halfpi!r}) * {rad2deg!r} AS lat
          FROM merc
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({inv[0]!r} + lon * {inv[1]!r} + lat * {inv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({inv[3]!r} + lon * {inv[4]!r} + lat * {inv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0 + 128.0)
                    AS BIGINT) AS v
        FROM sp
    """

    sqls["pyramid_avg_l1"] = """
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               CAST(floor((
                 (((trunc((2 * x.px + 2 * y.py) * 0.5)
                  + trunc((2 * x.px + 1 + 2 * y.py) * 0.5))
                  + trunc((2 * x.px + 2 * y.py + 1) * 0.5))
                  + trunc((2 * x.px + 1 + 2 * y.py + 1) * 0.5))
                 + 2.0) / 4.0) AS BIGINT) AS v
        FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
    """

    sqls["pyramid_rms_l1"] = """
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               CAST(floor(sqrt(
                 (pow(trunc((2 * x.px + 2 * y.py) * 0.5), 2)
                  + pow(trunc((2 * x.px + 1 + 2 * y.py) * 0.5), 2)
                  + pow(trunc((2 * x.px + 2 * y.py + 1) * 0.5), 2)
                  + pow(trunc((2 * x.px + 1 + 2 * y.py + 1) * 0.5), 2))
                 / 4.0) + 0.5) AS BIGINT) AS v
        FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
    """

    # bilinear warp oracle: same float-literal mirroring as the nearest one,
    # with the fractional source coords and the 4-tap triangle accumulation
    # in the kernel's exact loop order (dy outer, dx inner).
    vfun = "trunc((sin({X} * 0.19) + cos({Y} * 0.13)) * 60.0 + 128.0)"
    taps = []
    for dy in (0, 1):
        for dx in (0, 1):
            pxn = f"(x0 + {dx})" if dx else "x0"
            pyn = f"(y0 + {dy})" if dy else "y0"
            w = (f"(CASE WHEN {pyn} >= 0 AND {pyn} < 256 "
                 f"AND {pxn} >= 0 AND {pxn} < 256 THEN "
                 f"greatest(0.0, 1.0 - abs({pyn} - cy)) "
                 f"* greatest(0.0, 1.0 - abs({pxn} - cx)) ELSE 0.0 END)")
            vv = vfun.format(
                X=f"least(greatest({pxn}, 0), 255)",
                Y=f"least(greatest({pyn}, 0), 255)",
            )
            taps.append((w, vv))
    acc = " + ".join(f"{w} * {v}" for w, v in taps)
    wacc = " + ".join(w for w, _ in taps)
    sqls["warp_bilinear_z2"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 255) x(px) CROSS JOIN generate_series(0, 255) y(py)
        ),
        merc AS (
          SELECT px, py,
            ({-OS!r} + (px // 64) * {span!r}) + ((px % 64) + 0.5) * {res!r} AS mx,
            ({OS!r} - (py // 64) * {span!r}) + ((py % 64) + 0.5) * {-res!r} AS my
          FROM pix
        ),
        ll AS (
          SELECT px, py,
            (mx / 6378137.0) * {rad2deg!r} AS lon,
            (2.0 * atan(exp(my / 6378137.0)) - {halfpi!r}) * {rad2deg!r} AS lat
          FROM merc
        ),
        frac AS (
          SELECT px, py,
            ({inv[0]!r} + lon * {inv[1]!r} + lat * {inv[2]!r}) - 0.5 AS cx,
            ({inv[3]!r} + lon * {inv[4]!r} + lat * {inv[5]!r}) - 0.5 AS cy
          FROM ll
        ),
        tap AS (
          SELECT px, py, cx, cy,
                 CAST(floor(cx) AS BIGINT) AS x0,
                 CAST(floor(cy) AS BIGINT) AS y0
          FROM frac
        )
        SELECT px, py,
               CAST(least(greatest(floor(({acc}) / ({wacc}) + 0.5), 0), 255)
                    AS BIGINT) AS v
        FROM tap
    """

    # pyramid mode: gradient 2x2 boxes are [k,k,k,k+1] -> mode k = px+py
    sqls["pyramid_mode_l1"] = """
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               CAST(x.px + y.py AS BIGINT) AS v
        FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
    """

    # pyramid gauss: 1-2-1 kernel at the (2px, 2py) center; taps at dx/dy=-1
    # clip at each parent's 128px mosaic edge (px%64 == 0 / py%64 == 0)
    _gw = {(-1, -1): 1.0, (0, -1): 2.0, (1, -1): 1.0,
           (-1, 0): 2.0, (0, 0): 4.0, (1, 0): 2.0,
           (-1, 1): 1.0, (0, 1): 2.0, (1, 1): 1.0}
    gacc, gwacc = [], []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            conds = []
            if dx == -1:
                conds.append("(x.px % 64) > 0")
            if dy == -1:
                conds.append("(y.py % 64) > 0")
            cond = " AND ".join(conds) if conds else "TRUE"
            w = _gw[(dx, dy)]
            v = f"trunc(((2 * x.px + {dx}) + (2 * y.py + {dy})) * 0.5)"
            gacc.append(f"(CASE WHEN {cond} THEN {w!r} * {v} ELSE 0.0 END)")
            gwacc.append(f"(CASE WHEN {cond} THEN {w!r} ELSE 0.0 END)")
    sqls["pyramid_gauss_l1"] = f"""
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               CAST(floor((({" + ".join(gacc)})
                           + floor(({" + ".join(gwacc)}) / 2.0))
                          / ({" + ".join(gwacc)})) AS BIGINT) AS v
        FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
    """

    # contour oracle: every crossed grid edge yields one interpolated point;
    # v() is the closed-form world4326 pixel value, world coords mirror the
    # kernel's pixel-center transform.
    _V = "trunc((sin({I} * 0.19) + cos({J} * 0.13)) * 60.0 + 128.0)"
    contour_parts = []
    for lvl in ("128.5", "150.5"):
        va = _V.format(I="e.i", J="e.j")
        vbh = _V.format(I="(e.i + 1)", J="e.j")
        vbv = _V.format(I="e.i", J="(e.j + 1)")
        contour_parts.append(f"""
        SELECT {lvl} AS level,
               floor(((-180.0 + (e.i // 64) * 90.0)
                      + (((e.i % 64) + ({lvl} - {va}) / ({vbh} - {va})) + 0.5)
                     * 1.40625) * 1e6 + 0.5) / 1e6 AS x,
               floor(((90.0 + (e.j // 64) * -45.0)
                      + ((e.j % 64) + 0.5) * -0.703125) * 1e6 + 0.5) / 1e6 AS y
        FROM (SELECT a.i, b.j FROM generate_series(0, 254) a(i)
              CROSS JOIN generate_series(0, 255) b(j)) e
        WHERE ({va} >= {lvl}) <> ({vbh} >= {lvl})
        """)
        contour_parts.append(f"""
        SELECT {lvl} AS level,
               floor(((-180.0 + (e.i // 64) * 90.0)
                      + ((e.i % 64) + 0.5) * 1.40625) * 1e6 + 0.5) / 1e6 AS x,
               floor(((90.0 + (e.j // 64) * -45.0)
                      + (((e.j % 64) + ({lvl} - {va}) / ({vbv} - {va})) + 0.5)
                     * -0.703125) * 1e6 + 0.5) / 1e6 AS y
        FROM (SELECT a.i, b.j FROM generate_series(0, 255) a(i)
              CROSS JOIN generate_series(0, 254) b(j)) e
        WHERE ({va} >= {lvl}) <> ({vbv} >= {lvl})
        """)
    sqls["contour_crossings"] = (
        "SELECT DISTINCT level, x, y FROM ("
        + " UNION ALL ".join(contour_parts) + ")"
    )

    box_parts = []
    for mid, (mnx, mny, mxx, mxy) in METHOD_BOXES.items():
        box_parts.append(f"""
        SELECT pid AS in_fid, CAST({mid} AS BIGINT) AS m_fid,
               round((least(lon + 2.0, {mxx!r}) - greatest(lon - 2.0, {mnx!r}))
                     * (least(lat + 1.5, {mxy!r}) - greatest(lat - 1.5, {mny!r})),
                     6) AS area
        FROM pts
        WHERE least(lon + 2.0, {mxx!r}) > greatest(lon - 2.0, {mnx!r})
          AND least(lat + 1.5, {mxy!r}) > greatest(lat - 1.5, {mny!r})
        """)
    # polygon_neighbors: analytic 12x10 grid adjacency — 11*10
    # horizontal pairs share the vertical 1.5 edge, 12*9 vertical pairs
    # the horizontal 2.0 edge (both exact doubles: sqrt(1.5^2) and
    # sqrt(2^2) are exact).
    sqls["polygon_neighbors"] = """
        WITH g AS (
          SELECT i, j FROM range(0, 12) t(i) CROSS JOIN range(0, 10) u(j)
        ),
        h AS (
          SELECT j * 16 + i AS fid_a, j * 16 + i + 1 AS fid_b,
                 1.5 AS shared_len
          FROM g WHERE i < 11
        ),
        v AS (
          SELECT j * 16 + i AS fid_a, (j + 1) * 16 + i AS fid_b,
                 2.0 AS shared_len
          FROM g WHERE j < 9
        )
        SELECT CAST(fid_a AS BIGINT) AS fid_a,
               CAST(fid_b AS BIGINT) AS fid_b,
               CAST(1 AS BIGINT) AS n_edges, shared_len
        FROM (SELECT * FROM h UNION ALL SELECT * FROM v)
    """

    sqls["layer_intersection"] = (
        f"WITH pts AS ({_POINTS_SQL}) " + " UNION ALL ".join(box_parts)
    )

    # areal interpolation: same box-overlap closed form; contributions are
    # snapped to the 1/(12e6) lattice (extensive: val*overlap/12 with
    # overlap a 6-decimal lattice value, so ideal contributions are exact
    # integer multiples of the unit — floor(x/u + 0.5) never sits on a tie)
    # and summed as exact int64 in BOTH engines.
    u_ext = repr(1.0 / 12e6)
    ai_ext, ai_num, ai_den = [], [], []
    for mid, (mnx, mny, mxx, mxy) in METHOD_BOXES.items():
        ov = (f"((least(lon + 2.0, {mxx!r}) - greatest(lon - 2.0, {mnx!r}))"
              f" * (least(lat + 1.5, {mxy!r}) - greatest(lat - 1.5, {mny!r})))")
        cond = (f"least(lon + 2.0, {mxx!r}) > greatest(lon - 2.0, {mnx!r}) "
                f"AND least(lat + 1.5, {mxy!r}) > greatest(lat - 1.5, {mny!r})")
        srcarea = ("(((lon + 2.0) - (lon - 2.0)) * "
                   "((lat + 1.5) - (lat - 1.5)))")
        val = "CAST(pid % 97 + 1 AS DOUBLE)"
        ai_ext.append(
            f"SELECT CAST({mid} AS BIGINT) AS fid, "
            f"CAST(floor({val} * {ov} / {srcarea} / {u_ext} + 0.5) AS BIGINT)"
            f" AS q FROM pts WHERE {cond}")
        ai_num.append(
            f"SELECT CAST({mid} AS BIGINT) AS fid, "
            f"CAST(floor({val} * {ov} / 1e-06 + 0.5) AS BIGINT) AS qn, "
            f"CAST(floor({ov} / 1e-06 + 0.5) AS BIGINT) AS qd "
            f"FROM pts WHERE {cond}")
    sqls["areal_interp"] = (
        f"WITH pts AS ({_POINTS_SQL}), "
        f"c AS ({' UNION ALL '.join(ai_ext)}) "
        f"SELECT fid, round(CAST(sum(q) AS DOUBLE) * {u_ext}, 6) AS val "
        f"FROM c GROUP BY fid"
    )
    sqls["areal_interp_intensive"] = (
        f"WITH pts AS ({_POINTS_SQL}), "
        f"c AS ({' UNION ALL '.join(ai_num)}) "
        f"SELECT fid, round((CAST(sum(qn) AS DOUBLE) * 1e-06) / "
        f"(CAST(sum(qd) AS DOUBLE) * 1e-06), 6) AS val "
        f"FROM c GROUP BY fid"
    )

    # pansharpen oracle: bands are closed forms; weight literal is the repr
    # of Python's 1/3 so the double matches F.lit(1/3) exactly.
    w3 = repr(1.0 / 3.0)
    b1 = "trunc((e.i + e.j) * 0.5)"
    b2 = "trunc((sin(e.i * 0.19) + cos(e.j * 0.13)) * 60.0 + 128.0)"
    b3 = "CAST((e.i * 13 + e.j * 7) % 255 AS DOUBLE)"
    pan = f"trunc((({b1} + {b2}) + {b3}) / 3.0)"
    pseudo = f"((({b1} * {w3}) + {b2} * {w3}) + {b3} * {w3})"
    ratio = f"(CASE WHEN {pseudo} <> 0.0 THEN {pan} / {pseudo} ELSE 1.0 END)"
    pans_parts = [
        f"SELECT {b} AS band, e.i AS px, e.j AS py, "
        f"round({bexpr} * {ratio}, 6) AS v "
        f"FROM (SELECT CAST(a.i AS BIGINT) i, CAST(c.j AS BIGINT) j "
        f"      FROM generate_series(0, 127) a(i) "
        f"      CROSS JOIN generate_series(0, 127) c(j)) e"
        for b, bexpr in ((1, b1), (2, b2), (3, b3))
    ]
    sqls["pansharpen"] = " UNION ALL ".join(pans_parts)

    # sieve oracle: pentagon 1 (470 px < 500) dissolves into background;
    # pentagons 2 and 3 survive with their exact pixel-center counts.
    pent_counts = " UNION ALL ".join(
        f"SELECT CAST({fid} AS DOUBLE) AS v, CAST(count(*) AS BIGINT) AS n "
        f"FROM pix WHERE {_inside_sql(verts)}"
        for fid, verts in RASTER_POLYGONS.items()
    )
    sqls["sieve_counts"] = f"""
        WITH pix AS ({_PIXELS_SQL}),
        pc AS ({pent_counts}),
        survivors AS (SELECT v, n FROM pc WHERE n >= 500)
        SELECT v, n AS n_pixels FROM survivors
        UNION ALL
        SELECT 0.0 AS v,
               65536 - (SELECT CAST(sum(n) AS BIGINT) FROM survivors)
                 AS n_pixels
    """

    sqls["fillnodata"] = """
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 255) x(px) CROSS JOIN generate_series(0, 255) y(py)
        ),
        vals AS (
          SELECT px, py,
                 trunc((sin(px * 0.19) + cos(py * 0.13)) * 60.0 + 128.0) AS v
          FROM pix
        ),
        valid AS (SELECT px AS tx, py AS ty, v FROM vals WHERE v <> 150.0),
        idw AS (
          SELECT h.px, h.py,
                 sum((1.0 / ((h.px - t.tx) * (h.px - t.tx)
                             + (h.py - t.ty) * (h.py - t.ty))) * t.v)
                 / sum(1.0 / ((h.px - t.tx) * (h.px - t.tx)
                              + (h.py - t.ty) * (h.py - t.ty))) AS fv
          FROM (SELECT px, py FROM vals WHERE v = 150.0) h
          JOIN valid t
            ON t.tx BETWEEN h.px - 6 AND h.px + 6
           AND t.ty BETWEEN h.py - 6 AND h.py + 6
          WHERE (h.px - t.tx) * (h.px - t.tx)
                + (h.py - t.ty) * (h.py - t.ty) <= 36.0
          GROUP BY h.px, h.py
        )
        SELECT vals.px, vals.py,
               CASE WHEN vals.v = 150.0
                    THEN round(coalesce(idw.fv, -9999.0), 4)
                    ELSE round(vals.v, 4) END AS v
        FROM vals LEFT JOIN idw ON vals.px = idw.px AND vals.py = idw.py
    """

    sqls["proximity"] = """
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 255) x(px) CROSS JOIN generate_series(0, 255) y(py)
        ),
        tgt AS (
          SELECT px AS tx, py AS ty FROM pix
          WHERE trunc((sin(px * 0.19) + cos(py * 0.13)) * 60.0 + 128.0) = 150.0
        ),
        j AS (
          SELECT p.px, p.py,
                 min(sqrt((p.px - t.tx) * (p.px - t.tx)
                          + (p.py - t.ty) * (p.py - t.ty))) AS d
          FROM pix p JOIN tgt t
            ON t.tx BETWEEN p.px - 10 AND p.px + 10
           AND t.ty BETWEEN p.py - 10 AND p.py + 10
          WHERE (p.px - t.tx) * (p.px - t.tx)
                + (p.py - t.ty) * (p.py - t.ty) <= 100.0
          GROUP BY p.px, p.py
        )
        SELECT p.px, p.py, round(coalesce(j.d, -1.0), 6) AS dist
        FROM pix p LEFT JOIN j ON p.px = j.px AND p.py = j.py
    """

    sqls["proximity_allocation"] = """
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 255) x(px) CROSS JOIN generate_series(0, 255) y(py)
        ),
        val AS (
          SELECT px, py,
                 trunc((sin(px * 0.19) + cos(py * 0.13)) * 60.0 + 128.0) AS v
          FROM pix
        ),
        tgt AS (
          SELECT px AS tx, py AS ty, v AS tv FROM val
          WHERE v IN (100.0, 150.0)
        ),
        j AS (
          SELECT p.px, p.py,
                 min(((p.px - t.tx) * (p.px - t.tx)
                      + (p.py - t.ty) * (p.py - t.ty)) * 4294967296
                     + t.ty * 65536 + t.tx) AS k,
                 arg_min(t.tv,
                         ((p.px - t.tx) * (p.px - t.tx)
                          + (p.py - t.ty) * (p.py - t.ty)) * 4294967296
                         + t.ty * 65536 + t.tx) AS tv
          FROM pix p JOIN tgt t
            ON t.tx BETWEEN p.px - 12 AND p.px + 12
           AND t.ty BETWEEN p.py - 12 AND p.py + 12
          WHERE (p.px - t.tx) * (p.px - t.tx)
                + (p.py - t.ty) * (p.py - t.ty) <= 144
          GROUP BY p.px, p.py
        )
        SELECT p.px, p.py,
               coalesce(j.tv, -1.0) AS alloc,
               CAST(coalesce(j.k // 4294967296, -1) AS BIGINT) AS d2
        FROM pix p LEFT JOIN j ON p.px = j.px AND p.py = j.py
    """

    # convolution-warp oracles (cubic/cubicspline/lanczos): same frac CTEs
    # as bilinear, with the kernel's weight formula mirrored op-for-op and
    # taps accumulated in the kernel's loop order (dy outer, dx inner).
    def _wsql(alg: str, t: str) -> str:
        a = f"abs({t})"
        if alg == "cubic":  # Catmull-Rom a=-0.5 (gdalwarpkernel.cpp:3092)
            return (f"(CASE WHEN {a} <= 1.0 THEN "
                    f"({a} * {a}) * (1.5 * {a} - 2.5) + 1.0 "
                    f"WHEN {a} <= 2.0 THEN "
                    f"({a} * {a}) * (-0.5 * {a} + 2.5) - 4.0 * {a} + 2.0 "
                    f"ELSE 0.0 END)")
        if alg == "cubicspline":  # cubic B-spline (:3164)
            return (f"(CASE WHEN {a} <= 1.0 THEN "
                    f"(4.0 - 6.0 * {a} * {a} + (({a} * {a}) * {a}) * 3.0"
                    f") / 6.0 "
                    f"WHEN {a} <= 2.0 THEN "
                    f"(((2.0 - {a}) * (2.0 - {a})) * (2.0 - {a})) / 6.0 "
                    f"ELSE 0.0 END)")
        # lanczos a=3 (:3020)
        return (f"(CASE WHEN {a} <= 1e-12 THEN 1.0 "
                f"WHEN {a} < 3.0 THEN "
                f"3.0 * sin(pi() * {a}) * sin((pi() * {a}) / 3.0) "
                f"/ ((pi() * {a}) * (pi() * {a})) "
                f"ELSE 0.0 END)")

    for alg, radius in (("cubic", 2), ("cubicspline", 2), ("lanczos", 3)):
        kacc, kwacc = [], []
        for dy in range(-radius + 1, radius + 1):
            pyn = f"(y0 + {dy})" if dy else "y0"
            wy = _wsql(alg, f"({pyn} - cy)")
            for dx in range(-radius + 1, radius + 1):
                pxn = f"(x0 + {dx})" if dx else "x0"
                wx = _wsql(alg, f"({pxn} - cx)")
                ok = (f"{pyn} >= 0 AND {pyn} < 256 "
                      f"AND {pxn} >= 0 AND {pxn} < 256")
                w = f"(CASE WHEN {ok} THEN {wy} * {wx} ELSE 0.0 END)"
                vv = vfun.format(
                    X=f"least(greatest({pxn}, 0), 255)",
                    Y=f"least(greatest({pyn}, 0), 255)",
                )
                kacc.append(f"{w} * {vv}")
                kwacc.append(w)
        sqls[f"warp_{alg}_z2"] = f"""
            WITH pix AS (
              SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
              FROM generate_series(0, 255) x(px)
              CROSS JOIN generate_series(0, 255) y(py)
            ),
            merc AS (
              SELECT px, py,
                ({-OS!r} + (px // 64) * {span!r})
                  + ((px % 64) + 0.5) * {res!r} AS mx,
                ({OS!r} - (py // 64) * {span!r})
                  + ((py % 64) + 0.5) * {-res!r} AS my
              FROM pix
            ),
            ll AS (
              SELECT px, py,
                (mx / 6378137.0) * {rad2deg!r} AS lon,
                (2.0 * atan(exp(my / 6378137.0)) - {halfpi!r}) * {rad2deg!r} AS lat
              FROM merc
            ),
            frac AS (
              SELECT px, py,
                ({inv[0]!r} + lon * {inv[1]!r} + lat * {inv[2]!r}) - 0.5 AS cx,
                ({inv[3]!r} + lon * {inv[4]!r} + lat * {inv[5]!r}) - 0.5 AS cy
              FROM ll
            ),
            tap AS (
              SELECT px, py, cx, cy,
                     CAST(floor(cx) AS BIGINT) AS x0,
                     CAST(floor(cy) AS BIGINT) AS y0
              FROM frac
            )
            SELECT px, py,
                   CAST(least(greatest(floor(
                     ({" + ".join(kacc)}) / ({" + ".join(kwacc)}) + 0.5),
                     0), 255) AS BIGINT) AS v
            FROM tap
        """

    # aggregate-warp oracles: corner-transform box per dst pixel, then the
    # per-stat reduction with the kernel's documented deterministic rules.
    _warp_box_cte = f"""
        pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 255) x(px) CROSS JOIN generate_series(0, 255) y(py)
        ),
        corners AS (
          SELECT px, py,
            ({-OS!r} + (px // 64) * {span!r}) + (px % 64) * {res!r} AS mxa,
            ({-OS!r} + (px // 64) * {span!r}) + ((px % 64) + 1.0) * {res!r} AS mxb,
            ({OS!r} - (py // 64) * {span!r}) + (py % 64) * {-res!r} AS mya,
            ({OS!r} - (py // 64) * {span!r}) + ((py % 64) + 1.0) * {-res!r} AS myb
          FROM pix
        ),
        lls AS (
          SELECT px, py,
            (mxa / 6378137.0) * {rad2deg!r} AS lona,
            (mxb / 6378137.0) * {rad2deg!r} AS lonb,
            (2.0 * atan(exp(mya / 6378137.0)) - {halfpi!r}) * {rad2deg!r} AS lata,
            (2.0 * atan(exp(myb / 6378137.0)) - {halfpi!r}) * {rad2deg!r} AS latb
          FROM corners
        ),
        sxy AS (
          SELECT px, py,
            {inv[0]!r} + lona * {inv[1]!r} + lata * {inv[2]!r} AS sxa,
            {inv[0]!r} + lonb * {inv[1]!r} + latb * {inv[2]!r} AS sxb,
            {inv[3]!r} + lona * {inv[4]!r} + lata * {inv[5]!r} AS sya,
            {inv[3]!r} + lonb * {inv[4]!r} + latb * {inv[5]!r} AS syb
          FROM lls
        ),
        boxes AS (
          SELECT px, py,
            CAST(floor(least(sxa, sxb) + 1e-10) AS BIGINT) AS xlo,
            greatest(CAST(ceil(greatest(sxa, sxb) - 1e-10) AS BIGINT),
                     CAST(floor(least(sxa, sxb) + 1e-10) AS BIGINT) + 1) AS xhi,
            CAST(floor(least(sya, syb) + 1e-10) AS BIGINT) AS ylo,
            greatest(CAST(ceil(greatest(sya, syb) - 1e-10) AS BIGINT),
                     CAST(floor(least(sya, syb) + 1e-10) AS BIGINT) + 1) AS yhi,
            least(sxa, sxb) AS bxlo, greatest(sxa, sxb) AS bxhi,
            least(sya, syb) AS bylo, greatest(sya, syb) AS byhi
          FROM sxy
        ),
        vals AS (
          SELECT b.px, b.py,
                 trunc((sin((b.xlo + o.dx) * 0.19)
                        + cos((b.ylo + o.dy) * 0.13)) * 60.0 + 128.0) AS v,
                 -- GRA_Sum fractional coverage of src pixel by dst box,
                 -- quantized to 1/4096 (mirrors kernels/resample.py)
                 floor(least(greatest(least(CAST(b.xlo + o.dx AS DOUBLE) + 1.0,
                                            b.bxhi)
                                      - greatest(CAST(b.xlo + o.dx AS DOUBLE),
                                                 b.bxlo), 0.0), 1.0)
                       * least(greatest(least(CAST(b.ylo + o.dy AS DOUBLE) + 1.0,
                                              b.byhi)
                                        - greatest(CAST(b.ylo + o.dy AS DOUBLE),
                                                   b.bylo), 0.0), 1.0)
                       * 4096.0 + 0.5) / 4096.0 AS w
          FROM boxes b
          CROSS JOIN (SELECT a.dx, c.dy FROM generate_series(0, 7) a(dx)
                      CROSS JOIN generate_series(0, 7) c(dy)) o
          WHERE b.xlo + o.dx < b.xhi AND b.ylo + o.dy < b.yhi
            AND b.xlo + o.dx BETWEEN 0 AND 255
            AND b.ylo + o.dy BETWEEN 0 AND 255
        )
    """
    sqls["warp_average_z2"] = f"""
        WITH {_warp_box_cte}
        SELECT px, py,
               CAST(least(greatest(floor(sum(v) / count(*) + 0.5), 0), 255)
                    AS BIGINT) AS v
        FROM vals GROUP BY px, py
    """
    sqls["warp_max_z2"] = f"""
        WITH {_warp_box_cte}
        SELECT px, py, CAST(max(v) AS BIGINT) AS v
        FROM vals GROUP BY px, py
    """
    sqls["warp_sum_z2"] = f"""
        WITH {_warp_box_cte}
        SELECT px, py,
               CAST(least(greatest(floor(sum(v * w) + 0.5), 0), 255)
                    AS BIGINT) AS v
        FROM vals GROUP BY px, py
    """
    sqls["warp_rms_z2"] = f"""
        WITH {_warp_box_cte}
        SELECT px, py,
               CAST(least(greatest(floor(sqrt(sum(v * v) / count(*)) + 0.5),
                                   0), 255) AS BIGINT) AS v
        FROM vals GROUP BY px, py
    """
    for stat, qq in (("warp_median_z2", 0.5), ("warp_q3_z2", 0.75)):
        sqls[stat] = f"""
            WITH {_warp_box_cte},
            ranked AS (
              SELECT px, py, v,
                     row_number() OVER (PARTITION BY px, py ORDER BY v) AS rn,
                     count(*) OVER (PARTITION BY px, py) AS cnt
              FROM vals
            )
            SELECT px, py, CAST(v AS BIGINT) AS v
            FROM ranked
            WHERE rn = CAST(floor({qq!r} * (cnt - 1)) AS BIGINT) + 1
        """
    sqls["warp_mode_z2"] = f"""
        WITH {_warp_box_cte},
        counts AS (
          SELECT px, py, v, count(*) AS c FROM vals GROUP BY px, py, v
        ),
        pick AS (
          SELECT px, py, v,
                 row_number() OVER (PARTITION BY px, py
                                    ORDER BY c DESC, v ASC) AS rn
          FROM counts
        )
        SELECT px, py, CAST(v AS BIGINT) AS v FROM pick WHERE rn = 1
    """

    ov_terms = []
    for mnx, mny, mxx, mxy in METHOD_BOXES.values():
        ov_terms.append(
            f"CASE WHEN least(lon + 2.0, {mxx!r}) > greatest(lon - 2.0, {mnx!r}) "
            f"AND least(lat + 1.5, {mxy!r}) > greatest(lat - 1.5, {mny!r}) "
            f"THEN (least(lon + 2.0, {mxx!r}) - greatest(lon - 2.0, {mnx!r})) "
            f"* (least(lat + 1.5, {mxy!r}) - greatest(lat - 1.5, {mny!r})) "
            f"ELSE 0.0 END"
        )
    sqls["layer_erase"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        calc AS (
          SELECT pid AS in_fid,
                 round(((lon + 2.0) - (lon - 2.0)) * ((lat + 1.5) - (lat - 1.5))
                       - ({" + ".join(ov_terms)}), 6) AS area
          FROM pts
        )
        SELECT in_fid, area FROM calc WHERE area > 0.0
    """

    sqls["dem_slope"] = _dem_oracle(
        "round(degrees(atan(sqrt(dzdx * dzdx + dzdy * dzdy) / 1.0)), 6) AS slope"
    )
    sqls["dem_hillshade"] = _dem_oracle(
        "CAST(floor(CASE WHEN "
        "sin(radians(45.0)) * cos(atan(sqrt(dzdx * dzdx + dzdy * dzdy) / 1.0)) "
        "+ cos(radians(45.0)) * sin(atan(sqrt(dzdx * dzdx + dzdy * dzdy) / 1.0)) "
        "  * cos(radians(315.0) - pi() / 2.0 - atan2(dzdy, -dzdx)) <= 0.0 "
        "THEN 1.0 ELSE 1.0 + 254.0 * ("
        "sin(radians(45.0)) * cos(atan(sqrt(dzdx * dzdx + dzdy * dzdy) / 1.0)) "
        "+ cos(radians(45.0)) * sin(atan(sqrt(dzdx * dzdx + dzdy * dzdy) / 1.0)) "
        "  * cos(radians(315.0) - pi() / 2.0 - atan2(dzdy, -dzdx))) END + 0.5) "
        "AS BIGINT) AS hillshade"
    )

    # dem_insolation: the same 12-step hour-angle integration with the
    # per-step solar ENU scalars precomputed by the IDENTICAL numpy
    # expressions the kernel uses (repr-inlined doubles), so the only
    # cross-engine trig left is sin/cos/atan/atan2/sqrt over pixel
    # values — the functions dem_hillshade already proves bit-equal;
    # per-step contributions are int64 nano-units summed inline
    # (integer addition, order-free).
    _ins_terms = []
    _ins_phi = np.radians(45.0)
    _ins_d = np.radians(23.439281)
    for _t in range(12):
        _h = -np.pi + (_t + 0.5) * (2.0 * np.pi / 12)
        _e = np.cos(_ins_d) * np.sin(_h)
        _nn = (np.cos(_ins_phi) * np.sin(_ins_d)
               - np.sin(_ins_phi) * np.cos(_ins_d) * np.cos(_h))
        _u = (np.sin(_ins_phi) * np.sin(_ins_d)
              + np.cos(_ins_phi) * np.cos(_ins_d) * np.cos(_h))
        if _u <= 0.0:
            continue
        _ct = np.sqrt(1.0 - _u * _u)
        _azm = np.arctan2(_e, _nn) - np.pi / 2.0
        _ins_terms.append(
            f"CAST(floor(greatest({float(_u)!r} * cos(s) + {float(_ct)!r}"
            f" * sin(s) * cos({float(_azm)!r} - a), 0.0)"
            " * 1000000000.0 + 0.5) AS BIGINT)")
    sqls["dem_insolation"] = f"""
        WITH b AS ({_dem_oracle(
            "atan(sqrt(dzdx * dzdx + dzdy * dzdy)) AS s, "
            "atan2(dzdy, -dzdx) AS a")})
        SELECT px, py,
               round(({" + ".join(_ins_terms)})
                     * 2.0 / 1000000000.0, 6) AS insolation
        FROM b
    """

    import math as _mm
    _trig = ("(atan2(((g + 2.0 * h + i) - (a + 2.0 * b + c)), "
             "-((c + 2.0 * f + i) - (a + 2.0 * d + g))) "
             f"/ {_mm.pi / 180.0!r})")
    _trig_n = (f"(CASE WHEN {_trig} < 0.0 THEN {_trig} + 360.0 "
               f"ELSE {_trig} END)")
    sqls["dem_aspect_trig"] = _dem_oracle(
        "round(CASE WHEN ((c + 2.0 * f + i) - (a + 2.0 * d + g)) = 0.0 "
        "AND ((g + 2.0 * h + i) - (a + 2.0 * b + c)) = 0.0 THEN -9999.0 "
        f"WHEN {_trig_n} = 360.0 THEN 0.0 "
        f"ELSE {_trig_n} END, 6) AS aspect_trig"
    )

    _zt_dx = "((d - f) / 1.40625)"
    _zt_dy = "((h - b) / -0.703125)"
    sqls["dem_slope_percent"] = _dem_oracle(
        "round(100 * (sqrt(gx * gx + gy * gy) / 8.0), 6) AS slope_percent"
    )
    sqls["dem_slope_zt"] = _dem_oracle(
        f"round(degrees(atan(sqrt({_zt_dx} * {_zt_dx} "
        f"+ {_zt_dy} * {_zt_dy}) / 2.0)), 6) AS slope_zt"
    )
    _zt_asp = "(90.0 - degrees(atan2((h - b), (d - f))))"
    sqls["dem_aspect_zt"] = _dem_oracle(
        f"round(CASE WHEN {_zt_asp} < 0.0 THEN {_zt_asp} + 360.0 "
        f"WHEN {_zt_asp} >= 360.0 THEN {_zt_asp} - 360.0 "
        f"ELSE {_zt_asp} END, 6) AS aspect_zt"
    )

    # Curvatures (Zevenbergen & Thorne 1987): the partial-quadric
    # coefficients spelled with the kernel's exact float
    # parenthesization; divisor constants pre-multiplied in Python so
    # the SQL divides by bit-identical doubles.
    _cv_ew, _cv_ns = 1.40625, -0.703125
    _cv_dd = f"(((d + f) / 2.0 - e) / {_cv_ew * _cv_ew!r})"
    _cv_ee = f"(((b + h) / 2.0 - e) / {_cv_ns * _cv_ns!r})"
    _cv_ff = f"((-a + c + g - i) / {4.0 * _cv_ew * _cv_ns!r})"
    _cv_gg = f"((f - d) / {2.0 * _cv_ew!r})"
    _cv_hh = f"((b - h) / {2.0 * _cv_ns!r})"
    _cv_p = f"({_cv_gg} * {_cv_gg} + {_cv_hh} * {_cv_hh})"
    sqls["dem_curv_profile"] = _dem_oracle(
        f"round(CASE WHEN {_cv_p} = 0.0 THEN 0.0 ELSE "
        f"-2.0 * ({_cv_dd} * {_cv_gg} * {_cv_gg} "
        f"+ {_cv_ee} * {_cv_hh} * {_cv_hh} "
        f"+ {_cv_ff} * {_cv_gg} * {_cv_hh}) / {_cv_p} END, 6) "
        "AS curv_profile"
    )
    sqls["dem_curv_plan"] = _dem_oracle(
        f"round(CASE WHEN {_cv_p} = 0.0 THEN 0.0 ELSE "
        f"2.0 * ({_cv_dd} * {_cv_hh} * {_cv_hh} "
        f"+ {_cv_ee} * {_cv_gg} * {_cv_gg} "
        f"- {_cv_ff} * {_cv_gg} * {_cv_hh}) / {_cv_p} END, 6) "
        "AS curv_plan"
    )
    sqls["dem_curv_total"] = _dem_oracle(
        f"round(-2.0 * ({_cv_dd} + {_cv_ee}), 6) AS curv_total"
    )

    # hillshade variants: constants factored exactly like the kernels
    # (operators/dem.py), which factor them exactly like the reference.
    import math as _m

    from lib_gdal_spark.operators.dem import (
        _INV_SQUARE_OF_HALF_PI as _INVSQ,
    )
    from lib_gdal_spark.operators.dem import _normalize_angle as _normang
    _zs = 1.0 / 8.0
    _sa = _m.sin(_m.radians(45.0))
    _cacz = _m.cos(_m.radians(315.0)) * _m.cos(_m.radians(45.0)) * _zs
    _sacz = _m.sin(_m.radians(315.0)) * _m.cos(_m.radians(45.0)) * _zs
    _sqz = _zs * _zs
    _slope_sql = f"((gx * gx + gy * gy) * {_sqz!r})"
    _cang_sql = (
        f"(1 - acos(({_sa!r} - (gy * {_cacz!r} - gx * {_sacz!r})) "
        f"/ sqrt(1 + {_slope_sql})) "
        f"* atan(sqrt({_slope_sql})) * {_INVSQ!r})"
    )
    sqls["dem_hillshade_combined"] = _dem_oracle(
        f"CAST(floor(CASE WHEN {_cang_sql} <= 0.0 THEN 1.0 "
        f"ELSE 1.0 + 254.0 * {_cang_sql} END + 0.5) AS BIGINT) "
        "AS hillshade_combined"
    )

    _camz = _m.cos(_m.radians(45.0)) * _zs
    _sa127 = 127.0 * _m.sin(_m.radians(45.0))
    _sa254 = 254.0 * _m.sin(_m.radians(45.0))
    _caz127 = 127.0 * _camz
    _c225 = 127.0 * _m.cos(_m.radians(225.0)) * _camz
    _md_num = (
        f"((0.5 * (gx * gx + gy * gy) - gx * gy) "
        f"* greatest({_sa127!r} + (gx - gy) * {_c225!r}, 0.0) "
        f"+ (gx * gx) * greatest({_sa127!r} - gx * {_caz127!r}, 0.0) "
        f"+ ((gx * gx + gy * gy) - (0.5 * (gx * gx + gy * gy) - gx * gy)) "
        f"* greatest({_sa127!r} + (gx + gy) * {_c225!r}, 0.0) "
        f"+ (gy * gy) * greatest({_sa127!r} - gy * {_caz127!r}, 0.0))"
    )
    sqls["dem_hillshade_multi"] = _dem_oracle(
        f"CAST(floor(CASE WHEN gx * gx + gy * gy = 0.0 "
        f"THEN 1.0 + {_sa254!r} "
        f"ELSE 1.0 + ({_md_num} / (gx * gx + gy * gy) "
        f"/ sqrt(1 + {_sqz!r} * (gx * gx + gy * gy))) END + 0.5) AS BIGINT) "
        "AS hillshade_multidirectional"
    )

    _twopi = _m.pi * 2
    _target = _normang(_m.pi * 3 / 2 - _m.radians(315.0), _twopi)
    # aspect from the RAW window sums (the reference's igor aspect skips the
    # res division); aspect in (-pi, pi], so fmod(aspect, 2pi) == aspect
    _asp = ("atan2(((g + 2.0 * h + i) - (a + 2.0 * b + c)), "
            "-((c + 2.0 * f + i) - (a + 2.0 * d + g)))")
    _nasp = (
        f"(CASE WHEN {_asp} < 0 THEN {_asp} + {_twopi!r} ELSE {_asp} END)"
    )
    _adiff = (
        f"(CASE WHEN abs({_nasp} - {_target!r}) > {_m.pi!r} "
        f"THEN {_twopi!r} - abs({_nasp} - {_target!r}) "
        f"ELSE abs({_nasp} - {_target!r}) END)"
    )
    sqls["dem_hillshade_igor"] = _dem_oracle(
        f"CAST(floor(255.0 * (1.0 - "
        f"(degrees(atan(sqrt(gx * gx + gy * gy) * {_zs!r})) / 90.0) "
        f"* (1.0 - {_adiff} / {_m.pi!r})) + 0.5) AS BIGINT) "
        "AS hillshade_igor"
    )


    sqls["text_fingerprint"] = r"""
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents
    """


    _S, _T = 288230376151711744, 536870912
    _ctes = [f"""
        lvl AS (
          SELECT DISTINCT 6 * {_S} + x6 * {_T} + y6 AS cell
          FROM (
            SELECT
              CAST(least(greatest(floor(((lon + 180.0) / 360.0) * 64.0), 0), 63)
                   AS BIGINT) AS x6,
              CAST(least(greatest(floor(
                (0.5 - ln((1.0 + sin(radians(lat))) / (1.0 - sin(radians(lat))))
                       / (4.0 * pi())) * 64.0), 0), 63) AS BIGINT) AS y6
            FROM pts
          )
        )"""]
    _prev = "lvl"
    for _r in range(6, 0, -1):
        _par = (f"({_r - 1} * {_S} + ((cell // {_T}) % {_T} // 2) * {_T} "
                f"+ (cell % {_T} // 2))")
        _ctes.append(f"""
        prom{_r} AS (
          SELECT {_par} AS p FROM {_prev} WHERE cell // {_S} = {_r}
          GROUP BY 1 HAVING count(*) = 4
        ),
        step{_r} AS (
          SELECT cell FROM {_prev} WHERE cell // {_S} <> {_r}
          UNION ALL
          SELECT cell FROM {_prev} WHERE cell // {_S} = {_r}
            AND {_par} NOT IN (SELECT p FROM prom{_r})
          UNION ALL
          SELECT p AS cell FROM prom{_r}
        )""")
        _prev = f"step{_r}"
    sqls["cell_compact"] = (
        f"WITH pts AS ({_POINTS_SQL})," + ",".join(_ctes)
        + f" SELECT CAST(cell AS BIGINT) AS cell FROM {_prev} ORDER BY cell"
    )

    sqls["layer_dissolve"] = """
        SELECT CAST(g AS BIGINT) AS grp,
               round(4.0 * (4.0 + g % 3) - 4.0, 6) AS area,
               CAST(1 AS INTEGER) AS n_parts
        FROM generate_series(0, 49) t(g)
        ORDER BY g
    """


    sqls["s2_ring_pairs"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        p2 AS (SELECT pid AS id_b, lon AS qlon, lat AS qlat FROM pts),
        j AS (
          SELECT pid AS id_a, id_b, {_HAVERSINE_SQL} AS dist_km
          FROM pts JOIN p2 ON pid < id_b
        )
        SELECT id_a, id_b, dist_km FROM j WHERE dist_km <= 80.0
    """

    # S2-style cell oracle: sphere -> face/uv -> quadratic st -> ij ->
    # Hilbert fold, all spelled in SQL (constants/op order mirror
    # functions/s2cells.py).
    def _s2_sql(level: int, final: str) -> str:
        n = 1 << level
        parts = [f"""pts AS ({_POINTS_SQL}),
        ang AS (SELECT pid, radians(lon) AS lonr, radians(lat) AS latr
                FROM pts),
        xyz AS (SELECT pid, cos(latr) * cos(lonr) AS x,
                       cos(latr) * sin(lonr) AS y, sin(latr) AS z FROM ang),
        fc AS (SELECT pid, x, y, z,
          CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z) THEN
                 (CASE WHEN x >= 0 THEN 0 ELSE 3 END)
               WHEN abs(y) >= abs(z) THEN
                 (CASE WHEN y >= 0 THEN 1 ELSE 4 END)
               ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END AS face
          FROM xyz),
        uv AS (SELECT pid, face,
          CASE face WHEN 0 THEN y / x WHEN 1 THEN -x / y WHEN 2 THEN -x / z
               WHEN 3 THEN z / x WHEN 4 THEN z / y ELSE -y / z END AS u,
          CASE face WHEN 0 THEN z / x WHEN 1 THEN z / y WHEN 2 THEN -y / z
               WHEN 3 THEN y / x WHEN 4 THEN -x / y ELSE -x / z END AS v
          FROM fc),
        st AS (SELECT pid, face,
          CASE WHEN u >= 0.0 THEN 0.5 * sqrt(1.0 + 3.0 * u)
               ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * u) END AS s,
          CASE WHEN v >= 0.0 THEN 0.5 * sqrt(1.0 + 3.0 * v)
               ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * v) END AS t
          FROM uv),
        h0 AS (SELECT pid, face,
          CAST(least(greatest(floor(s * {n}.0), 0.0), {n - 1}.0)
               AS BIGINT) AS x,
          CAST(least(greatest(floor(t * {n}.0), 0.0), {n - 1}.0)
               AS BIGINT) AS y,
          CAST(0 AS BIGINT) AS d
          FROM st)"""]
        for k in range(level):
            s = 1 << (level - 1 - k)
            parts.append(f"""h{k + 1} AS MATERIALIZED (
              SELECT pid, face,
                CASE WHEN (y & {s}) > 0 THEN x
                     WHEN (x & {s}) > 0 THEN {s} - 1 - y ELSE y END AS x,
                CASE WHEN (y & {s}) > 0 THEN y
                     WHEN (x & {s}) > 0 THEN {s} - 1 - x ELSE x END AS y,
                d + {s}::BIGINT * {s} * xor(
                    3 * (CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END),
                    CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END) AS d
              FROM h{k})""")
        return "WITH " + ",\n".join(parts) + f"\n{final.format(last=f'h{level}')}"

    sqls["s2_cells"] = _s2_sql(12, """
        SELECT CAST(pid AS BIGINT) AS pid, CAST(face AS BIGINT) AS face,
               d AS pos,
               CAST(face AS BIGINT) * {n2} + d * 2 + 1 AS cell
        FROM {last}""".replace("{n2}", str(2 << 24)))

    sqls["s2_parent_counts"] = _s2_sql(12, """
        SELECT CAST(face AS BIGINT) * {n2} + (d >> 12) * 2 + 1 AS parent,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(count(DISTINCT d) AS BIGINT) AS n_cells
        FROM {last} GROUP BY face, (d >> 12)""".replace("{n2}",
                                                        str(2 << 12)))

    # great-circle oracle: constants and op order mirror
    # functions/greatcircle.py (which mirrors ogr_geo_utils.cpp).
    from lib_gdal_spark.functions.greatcircle import (
        DEG2RAD as _D,
    )
    from lib_gdal_spark.functions.greatcircle import (
        METER2RAD as _MR,
    )
    from lib_gdal_spark.functions.greatcircle import (
        RAD2DEG as _R2D,
    )
    from lib_gdal_spark.functions.greatcircle import (
        RAD2METER as _RM,
    )
    _gc_fmod = ("((la - lb_lon_x) - trunc((la - lb_lon_x) / 360.0) * 360.0)"
                .replace("la - lb_lon_x", "loa - lob"))
    _gc_denom = (f"(sin(la * {_D!r}) * cos((loa - lob) * {_D!r}) "
                 f"- cos(la * {_D!r}) * tan(lb * {_D!r}))")
    _gc_track = (f"(atan(sin((loa - lob) * {_D!r}) / {_gc_denom}) "
                 f"* {_R2D!r})")
    _gc_general = (
        f"CASE WHEN {_gc_denom} = 0.0 THEN 0.0 "
        f"WHEN {_gc_denom} > 0.0 THEN 180.0 + {_gc_track} "
        f"WHEN {_gc_track} < 0.0 THEN 360.0 + {_gc_track} "
        f"ELSE {_gc_track} END"
    )
    _gc_heading = (
        f"CASE WHEN abs(la - 90.0) < 1e-10 OR abs(lb + 90.0) < 1e-10 "
        f"THEN 180.0 "
        f"WHEN abs(la + 90.0) < 1e-10 OR abs(lb - 90.0) < 1e-10 THEN 0.0 "
        f"WHEN abs({_gc_fmod}) < 1e-10 AND abs(la - lb) < 1e-10 THEN 0.0 "
        f"WHEN abs(la) < 1e-10 AND abs(lb) < 1e-10 THEN "
        f"(CASE WHEN lob > loa THEN 90.0 ELSE 270.0 END) "
        f"WHEN abs({_gc_fmod}) < 1e-10 THEN "
        f"(CASE WHEN la > lb THEN 180.0 ELSE 0.0 END) "
        f"ELSE {_gc_general} END"
    )
    # rhumb_destination: identical direct-rhumb expressions; constants
    # injected from the same module (DEG2RAD/METER2RAD/RAD2DEG).
    sqls["rhumb_destination"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        inp AS (
          SELECT pid, lat AS la, lon AS loa,
                 CAST((pid * 7) % 360 AS DOUBLE) + 0.5 AS b,
                 CAST((pid % 400) * 1000 AS DOUBLE) + 500.0 AS dist
          FROM pts
        ),
        r1 AS (
          SELECT pid, la, loa,
            la * {_D!r} AS p1, b * {_D!r} AS th,
            dist * {_MR!r} AS d
          FROM inp
        ),
        r2 AS (
          SELECT *, d * cos(th) AS dphi FROM r1
        ),
        r3 AS (
          SELECT *, p1 + dphi AS p2 FROM r2
        ),
        r4 AS (
          SELECT *,
            ln(tan(p2 / 2.0 + pi() / 4.0))
              - ln(tan(p1 / 2.0 + pi() / 4.0)) AS dpsi
          FROM r3
        ),
        r5 AS (
          SELECT *,
            CASE WHEN abs(dpsi) > 1e-12 THEN dphi / dpsi
                 ELSE cos(p1) END AS q
          FROM r4
        ),
        r6 AS (
          SELECT *, loa * {_D!r} + d * sin(th) / q AS l2 FROM r5
        )
        SELECT CAST(pid AS BIGINT) AS pid,
          round(p2 * {_R2D!r}, 9) AS dlat,
          round((l2 - floor((l2 + pi()) / (2.0 * pi())) * (2.0 * pi()))
                * {_R2D!r}, 9) AS dlon
        FROM r6
    """

    # gc_navigation: slerp midpoint + formulary XTD/ATD. Heading SQL is
    # the same guarded CASE re-targeted at (lb,lob) and (lp,lop) by
    # token substitution; radians/degrees use JAVA's op order
    # (x / 180 * pi, x * 180 / pi) because the Spark code calls
    # F.radians/F.degrees rather than the module constants.
    def _head_to(latv: str, lonv: str) -> str:
        return (_gc_heading.replace("lob", lonv).replace("lb", latv))

    _mr2 = float(_MR)
    _rm2 = float(_RM)
    _gcnav_d = (
        "acos(least(greatest("
        f"sin(la * {_D!r}) * sin({{lat}} * {_D!r})"
        f" + cos(la * {_D!r}) * cos({{lat}} * {_D!r})"
        f" * cos(({{lon}} - loa) * {_D!r}), -1.0), 1.0)) * {_RM!r}"
    )
    sqls["gc_navigation"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        ab AS (
          SELECT pid, lat AS la, lon AS loa,
                 lat * 0.5 + 10.0 AS lb, lon * 0.5 + 20.0 AS lob,
                 lat * 0.25 + 5.0 AS lp, lon * 0.75 + 8.0 AS lop
          FROM pts
        ),
        rad AS (
          SELECT *,
            la / 180.0 * pi() AS p1, loa / 180.0 * pi() AS l1,
            lb / 180.0 * pi() AS p2, lob / 180.0 * pi() AS l2
          FROM ab
        ),
        dd AS (
          SELECT *,
            acos(least(greatest(
              sin(p1) * sin(p2) + cos(p1) * cos(p2) * cos(l2 - l1),
              -1.0), 1.0)) AS dmid
          FROM rad
        ),
        sl AS (
          SELECT *, sin(dmid) AS sd,
            sin(0.75 * dmid) / sin(dmid) AS A,
            sin(0.25 * dmid) / sin(dmid) AS B
          FROM dd
        ),
        xyz AS (
          SELECT *,
            A * cos(p1) * cos(l1) + B * cos(p2) * cos(l2) AS x,
            A * cos(p1) * sin(l1) + B * cos(p2) * sin(l2) AS y,
            A * sin(p1) + B * sin(p2) AS z
          FROM sl
        ),
        mid AS (
          SELECT pid, la, loa, lb, lob, lp, lop, sd,
            CASE WHEN sd = 0.0 THEN la
                 ELSE atan2(z, sqrt(x * x + y * y)) * 180.0 / pi() END
              AS mid_lat,
            CASE WHEN sd = 0.0 THEN loa
                 ELSE atan2(y, x) * 180.0 / pi() END AS mid_lon
          FROM xyz
        ),
        hx AS (
          SELECT *,
            ({_gcnav_d.format(lat="lp", lon="lop")}) * {_mr2!r} AS d_ap,
            ({_head_to("lp", "lop")}) AS h_ap,
            ({_gc_heading}) AS h_ab
          FROM mid
        ),
        xt AS (
          SELECT *,
            asin(least(greatest(
              sin(d_ap) * sin(h_ap / 180.0 * pi()
                              - h_ab / 180.0 * pi()),
              -1.0), 1.0)) * {_rm2!r} AS xtd
          FROM hx
        )
        SELECT CAST(pid AS BIGINT) AS pid,
          round(mid_lat, 9) AS mid_lat,
          round(mid_lon, 9) AS mid_lon,
          round(xtd, 3) AS xtd_m,
          round(acos(least(greatest(
              cos(d_ap) / cos(xtd * {_mr2!r}), -1.0), 1.0))
            * {_rm2!r}, 3) AS atd_m
        FROM xt
    """

    sqls["great_circle"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        ab AS (
          SELECT pid, lat AS la, lon AS loa,
                 lat * 0.5 + 10.0 AS lb, lon * 0.5 + 20.0 AS lob
          FROM pts
        ),
        g1 AS (
          SELECT pid, la, loa,
            acos(least(greatest(
              sin(la * {_D!r}) * sin(lb * {_D!r})
              + cos(la * {_D!r}) * cos(lb * {_D!r})
                * cos((lob - loa) * {_D!r}), -1.0), 1.0)) * {_RM!r} AS d,
            {_gc_heading} AS h
          FROM ab
        ),
        g2 AS (
          SELECT pid, la, loa, d, h,
                 cos(h * {_D!r}) AS cos_h, sin(h * {_D!r}) AS sin_h,
                 d * {_MR!r} AS dr,
                 cos(d * {_MR!r}) AS cos_d, sin(d * {_MR!r}) AS sin_d,
                 sin(la * {_D!r}) AS ca, cos(la * {_D!r}) AS sa
          FROM g1
        ),
        g3 AS (
          SELECT *, cos_d * ca + sin_d * sa * cos_h AS ccb FROM g2
        ),
        g4 AS (
          SELECT *, acos(least(greatest(ccb, -1.0), 1.0)) AS compb FROM g3
        ),
        g5 AS (
          SELECT *,
                 (cos_d - ccb * ca) / (sin(compb) * sa) AS cosdg,
                 (h + 360.0) - trunc((h + 360.0) / 360.0) * 360.0 AS hmod
          FROM g4
        ),
        g6 AS (
          SELECT pid, la, loa, d, h, sin_h, cos_h, dr, ca, hmod,
                 90.0 - compb * {_R2D!r} AS latg,
                 acos(least(greatest(cosdg, -1.0), 1.0)) * {_R2D!r} AS dg
          FROM g5
        )
        SELECT CAST(pid AS BIGINT) AS pid,
               round(d, 2) AS dist_m,
               round(h, 6) AS heading,
               round(CASE WHEN d = 0.0 THEN la
                          WHEN abs(la) >= 90.0 THEN la
                          WHEN abs(sin_h) < 1e-8 THEN
                            (CASE WHEN abs(hmod) < 1e-8
                                  THEN la + dr * {_R2D!r}
                                  ELSE la - dr * {_R2D!r} END)
                          WHEN abs(ca) < 1e-8 AND abs(cos_h) < 1e-8 THEN la
                          ELSE latg END, 6) AS lat_b,
               round(CASE WHEN d = 0.0 THEN loa
                          WHEN abs(la) >= 90.0 THEN loa
                          WHEN abs(sin_h) < 1e-8 THEN loa
                          WHEN abs(ca) < 1e-8 AND abs(cos_h) < 1e-8 THEN
                            (CASE WHEN abs(h - 90.0) < 1e-8
                                  THEN loa + dr * {_R2D!r}
                                  ELSE loa - dr * {_R2D!r} END)
                          WHEN sin_h < 0 THEN loa - dg
                          ELSE loa + dg END, 6) AS lon_b
        FROM g6
    """

    # vincenty_distance: the 10-step lambda unroll as a CTE ladder, every
    # expression in the exact left-associated order the withColumn chain
    # builds, so both engines run the same IEEE sequence.
    _vf = 1.0 / 298.257223563
    _va = 6378137.0
    _vb = _va * (1.0 - _vf)
    _vin_steps = []
    for _k in range(1, 11):
        _src = "v0" if _k == 1 else f"w{_k - 1}"
        _vin_steps.append(f"""
        a{_k} AS (
          SELECT pid, ll, su1, cu1, su2, cu2,
            sin(lam) AS sl, cos(lam) AS cl
          FROM {_src}
        ),
        b{_k} AS (
          SELECT pid, ll, su1, cu1, su2, cu2, sl, cl,
            cu2 * sl AS t1,
            cu1 * su2 - su1 * cu2 * cl AS t2
          FROM a{_k}
        ),
        c{_k} AS (
          SELECT pid, ll, su1, cu1, su2, cu2, sl, cl,
            sqrt(t1 * t1 + t2 * t2) AS ssig,
            su1 * su2 + cu1 * cu2 * cl AS csig
          FROM b{_k}
        ),
        d{_k} AS (
          SELECT pid, ll, su1, cu1, su2, cu2, sl, ssig, csig,
            atan2(ssig, csig) AS sig,
            CASE WHEN ssig = 0.0 THEN 0.0
                 ELSE cu1 * cu2 * sl / ssig END AS sal
          FROM c{_k}
        ),
        e{_k} AS (
          SELECT pid, ll, su1, cu1, su2, cu2, ssig, csig, sig, sal,
            1.0 - sal * sal AS c2a
          FROM d{_k}
        ),
        f{_k} AS (
          SELECT pid, ll, su1, cu1, su2, cu2, ssig, csig, sig, sal, c2a,
            CASE WHEN c2a = 0.0 THEN 0.0
                 ELSE csig - 2.0 * su1 * su2 / c2a END AS c2m,
            {_vf / 16.0!r} * c2a
              * (4.0 + {_vf!r} * (4.0 - 3.0 * c2a)) AS cc
          FROM e{_k}
        ),
        w{_k} AS (
          SELECT pid, ll, su1, cu1, su2, cu2, ssig, csig, sig, c2a, c2m,
            ll + (1.0 - cc) * {_vf!r} * sal
              * (sig + cc * ssig * (c2m + cc * csig
                 * (-1.0 + 2.0 * c2m * c2m))) AS lam
          FROM f{_k}
        )""")
    # (each w{k} feeds a{k+1}; w10's ssig/csig/sig/c2a/c2m — computed
    # from lambda_9, exactly like the withColumn chain — feed the series)
    _vin_ctes = ",".join(_vin_steps)
    sqls["vincenty_distance"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        ab AS (
          SELECT pid, lat AS la, lon AS loa,
                 lat * 0.5 + 10.0 AS lb, lon * 0.5 + 20.0 AS lob
          FROM pts
        ),
        v0 AS (
          SELECT pid,
            radians(lob - loa) AS ll,
            sin(atan({1.0 - _vf!r} * tan(radians(la)))) AS su1,
            cos(atan({1.0 - _vf!r} * tan(radians(la)))) AS cu1,
            sin(atan({1.0 - _vf!r} * tan(radians(lb)))) AS su2,
            cos(atan({1.0 - _vf!r} * tan(radians(lb)))) AS cu2,
            radians(lob - loa) AS lam
          FROM ab
        ),{_vin_ctes},
        uu AS (
          SELECT pid, ssig, csig, sig, c2m,
            c2a * {_va * _va - _vb * _vb!r} / {_vb * _vb!r} AS u2v
          FROM w10
        ),
        abv AS (
          SELECT pid, ssig, csig, sig, c2m,
            1.0 + u2v / 16384.0 * (4096.0 + u2v
              * (-768.0 + u2v * (320.0 - 175.0 * u2v))) AS av,
            u2v / 1024.0 * (256.0 + u2v
              * (-128.0 + u2v * (74.0 - 47.0 * u2v))) AS bv
          FROM uu
        ),
        ds AS (
          SELECT pid, ssig, sig, av,
            bv * ssig * (c2m + bv / 4.0 * (csig
              * (-1.0 + 2.0 * c2m * c2m)
              - bv / 6.0 * c2m * (-3.0 + 4.0 * ssig * ssig)
                * (-3.0 + 4.0 * c2m * c2m))) AS dsig
          FROM abv
        )
        SELECT pid,
          round(CASE WHEN ssig = 0.0 THEN 0.0
                     ELSE {_vb!r} * av * (sig - dsig) END, 3) AS dist_m
        FROM ds
    """

    # geohash_cells: the spread-bits Morton chain + base-32 lookups in a
    # CTE ladder; the center comes from the pre-interleave quantized
    # coords so equality proves encode/decode invert exactly.
    _GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    _gh_chars = " || ".join(
        f"substr('{_GH32}', CAST(((m >> {5 * (11 - k)}) & 31) AS INT) + 1, 1)"
        for k in range(12)
    )
    sqls["geohash_cells"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        q AS (
          SELECT pid,
            least(1073741823, CAST(floor((lon + 180.0) / 360.0
                                         * 1073741824.0) AS BIGINT)) AS xq,
            least(1073741823, CAST(floor((lat + 90.0) / 180.0
                                         * 1073741824.0) AS BIGINT)) AS yq
          FROM pts
        ),
        s1 AS (
          SELECT pid, xq, yq,
            (xq | (xq << 16)) & 281470681808895 AS xs,
            (yq | (yq << 16)) & 281470681808895 AS ys
          FROM q
        ),
        s2 AS (
          SELECT pid, xq, yq,
            (xs | (xs << 8)) & 71777214294589695 AS xs,
            (ys | (ys << 8)) & 71777214294589695 AS ys
          FROM s1
        ),
        s3 AS (
          SELECT pid, xq, yq,
            (xs | (xs << 4)) & 1085102592571150095 AS xs,
            (ys | (ys << 4)) & 1085102592571150095 AS ys
          FROM s2
        ),
        s4 AS (
          SELECT pid, xq, yq,
            (xs | (xs << 2)) & 3689348814741910323 AS xs,
            (ys | (ys << 2)) & 3689348814741910323 AS ys
          FROM s3
        ),
        s5 AS (
          SELECT pid, xq, yq,
            (xs | (xs << 1)) & 6148914691236517205 AS xs,
            (ys | (ys << 1)) & 6148914691236517205 AS ys
          FROM s4
        ),
        mm AS (
          SELECT pid, xq, yq, (xs << 1) | ys AS m FROM s5
        ),
        gh AS (
          SELECT pid, xq, yq, {_gh_chars} AS gh12 FROM mm
        )
        SELECT pid, gh12, substr(gh12, 1, 6) AS gh6,
          round((CAST(xq AS DOUBLE) + 0.5) / 1073741824.0 * 360.0 - 180.0, 9)
            AS center_lon,
          round((CAST(yq AS DOUBLE) + 0.5) / 1073741824.0 * 180.0 - 90.0, 9)
            AS center_lat
        FROM gh
    """

    # hexbin_cells: the axial/cube-rounding hex lattice spelled in SQL —
    # fractional axial coords, floor(+0.5) cube round, largest-residual
    # repair CASE — the exact op sequence of cells.hex_axial_expr (no
    # transcendentals, so integer cell ids match bit-for-bit).
    def _hex_sql(p: str, size: float) -> str:
        # fractional + rounded + residual columns for one resolution,
        # all as SELECT-list expressions over (lon, lat)
        fq = f"(1.7320508075688772 * lon - lat) / 3.0 / {size}"
        fr = f"(lat * 2.0) / 3.0 / {size}"
        return (
            f"floor(({fq}) + 0.5) AS {p}rq, "
            f"floor(({fr}) + 0.5) AS {p}rr, "
            f"floor((-({fq}) - ({fr})) + 0.5) AS {p}rs, "
            f"abs(floor(({fq}) + 0.5) - ({fq})) AS {p}dq, "
            f"abs(floor(({fr}) + 0.5) - ({fr})) AS {p}dr, "
            f"abs(floor((-({fq}) - ({fr})) + 0.5) - (-({fq}) - ({fr}))) "
            f"AS {p}ds"
        )

    def _hex_fix(p: str) -> str:
        q = (f"CAST(CASE WHEN {p}dq > {p}dr AND {p}dq > {p}ds "
             f"THEN -{p}rr - {p}rs ELSE {p}rq END AS BIGINT)")
        r = (f"CAST(CASE WHEN NOT ({p}dq > {p}dr AND {p}dq > {p}ds) "
             f"AND {p}dr > {p}ds THEN -{p}rq - {p}rs ELSE {p}rr END "
             f"AS BIGINT)")
        return q, r

    _cq, _cr = _hex_fix("c")
    _fq, _fr = _hex_fix("f")
    sqls["hexbin_cells"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        frac AS (
          SELECT pid, {_hex_sql('c', 4.0)}, {_hex_sql('f', 0.5)}
          FROM pts
        ),
        cells AS (
          SELECT pid, {_cq} AS hq, {_cr} AS hr,
                 {_fq} * 100000 + {_fr} AS fk
          FROM frac
        )
        SELECT hq, hr, count(*) AS n_points,
          count(DISTINCT fk) AS n_fine,
          round((1.7320508075688772
                 * (CAST(hq AS DOUBLE) + CAST(hr AS DOUBLE) / 2.0))
                * 4.0, 9) AS center_lon,
          round(CAST(hr AS DOUBLE) * 1.5 * 4.0, 9) AS center_lat
        FROM cells GROUP BY hq, hr
    """

    # jsonld_geo: the same html synthesis, the same non-greedy script
    # regex and JSON paths (engine agreement pinned in pytest), the
    # same micro-degree division and hex-cell CASE helpers.
    _jq, _jr = _hex_fix("j")
    sqls["jsonld_geo"] = f"""
        WITH src AS (
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN
              '<html><head><script type="application/ld+json">'
              || '{{"@type":"Place","geo":{{"latitude":'
              || CAST(CAST((doc_id * 104729) % 1700000 - 850000
                      AS BIGINT) AS VARCHAR)
              || ',"longitude":'
              || CAST(CAST((doc_id * 7919) % 3600000 - 1800000
                      AS BIGINT) AS VARCHAR)
              || '}}}}</script></head><body>x</body></html>'
            WHEN doc_id % 3 = 1 THEN
              '<html><head><script type="application/ld+json">'
              || '{{"@type":"Article","headline":"h"}}</script></head></html>'
            ELSE '<html><body>plain</body></html>' END AS html
          FROM documents
        ),
        ext AS (
          SELECT doc_id, regexp_extract(html,
            '<script type="application/ld\\+json">(.*?)</script>', 1) AS b
          FROM src
        ),
        vals AS (
          -- json_extract errors on '' (the regex-miss value); Spark's
          -- get_json_object returns NULL there -- guard explicitly
          SELECT doc_id,
            CASE WHEN b <> ''
                   AND json_extract_string(b, '$."@type"') = 'Place'
                 THEN CAST(json_extract_string(b, '$.geo.latitude')
                           AS BIGINT) / 10000.0 END AS lat,
            CASE WHEN b <> ''
                   AND json_extract_string(b, '$."@type"') = 'Place'
                 THEN CAST(json_extract_string(b, '$.geo.longitude')
                           AS BIGINT) / 10000.0 END AS lon
          FROM ext
        ),
        frac AS (
          SELECT doc_id, lat, lon, {_hex_sql('j', 4.0)} FROM vals
        )
        SELECT doc_id, lat, lon, {_jq} AS hq, {_jr} AS hr FROM frac
    """

    # toponym_resolve: the corpus-derived gazetteer + population-prior
    # disambiguation spelled in SQL — same unrolled 31-polynomial ascii
    # hash, same row_number tie-break, same hex-lattice key (reuses the
    # hexbin CASE helpers above).
    from lib_gdal_spark.operators.toponym import token_hash_sql
    sqls["toponym_resolve"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS place
          FROM documents
        ),
        vocab AS (
          SELECT DISTINCT place FROM toks WHERE length(place) >= 5
        ),
        gaz AS (
          SELECT place,
            (h % 17000) / 100.0 - 85.0 AS lat,
            ((h * 7919) % 36000) / 100.0 - 180.0 AS lon,
            h % 1000000 AS pop
          FROM (SELECT place, {token_hash_sql('place')} AS h FROM vocab)
          WHERE h % 3 = 0
        ),
        hits AS (
          SELECT t.doc_id, t.place, g.pop, g.lat, g.lon
          FROM toks t JOIN gaz g USING (place)
        ),
        per_place AS (
          SELECT doc_id, place, pop, lat, lon, count(*) AS mentions
          FROM hits GROUP BY doc_id, place, pop, lat, lon
        ),
        ranked AS (
          SELECT doc_id, place, pop, lat, lon,
            row_number() OVER (PARTITION BY doc_id
                               ORDER BY pop DESC, place ASC) AS rn,
            CAST(sum(mentions) OVER (PARTITION BY doc_id) AS BIGINT)
              AS n_mentions,
            count(*) OVER (PARTITION BY doc_id) AS n_places
          FROM per_place
        ),
        hx AS (
          SELECT doc_id, place, pop, lat, lon, n_mentions, n_places,
            {_hex_sql('c', 4.0)}
          FROM ranked WHERE rn = 1
        )
        SELECT doc_id, place, pop, lat, lon, n_mentions, n_places,
          {_cq} AS hq, {_cr} AS hr
        FROM hx
    """

    # crawl_delta: the same three synthetic crawls (md5 is md5 in both
    # engines), the same url-keyed lag classification, and the gone set
    # as a HAVING max(crawl) filter.
    sqls["crawl_delta"] = """
        WITH snaps AS (
          SELECT 'https://ex.com/' || CAST(doc_id AS VARCHAR) AS url,
                 c.crawl AS crawl,
                 md5(text || '|' || CAST(CASE WHEN doc_id % 4 = 0
                     THEN c.crawl ELSE 0 END AS VARCHAR)) AS content_hash
          FROM documents,
               (SELECT unnest(generate_series(0, 2)) AS crawl) c
          WHERE (doc_id + c.crawl) % 11 <> 0
        ),
        hist AS (
          SELECT url, crawl,
            CASE WHEN lag(content_hash) OVER
                   (PARTITION BY url ORDER BY crawl) IS NULL THEN 'new'
                 WHEN lag(content_hash) OVER
                   (PARTITION BY url ORDER BY crawl) = content_hash
                   THEN 'unchanged'
                 ELSE 'changed' END AS status
          FROM snaps
        ),
        gone AS (
          SELECT url, CAST(2 AS BIGINT) AS crawl, 'gone' AS status
          FROM snaps GROUP BY url HAVING max(crawl) < 2
        )
        SELECT url, crawl, status FROM hist
        UNION ALL SELECT url, crawl, status FROM gone
    """

    # url_history: the SCD2 collapse — same change-flag lag window,
    # same running-sum version id, same min/max/count per run.
    sqls["url_history"] = """
        WITH snaps AS (
          SELECT 'https://ex.com/' || CAST(doc_id AS VARCHAR) AS url,
                 c.crawl AS crawl,
                 md5(text || '|' || CAST(CASE WHEN doc_id % 4 = 0
                     THEN c.crawl ELSE 0 END AS VARCHAR)) AS content_hash
          FROM documents,
               (SELECT unnest(generate_series(0, 2)) AS crawl) c
          WHERE (doc_id + c.crawl) % 11 <> 0
        ),
        flags AS (
          SELECT url, crawl, content_hash,
            CASE WHEN lag(content_hash) OVER w IS NULL
                   OR lag(content_hash) OVER w <> content_hash
                 THEN 1 ELSE 0 END AS chg
          FROM snaps
          WINDOW w AS (PARTITION BY url ORDER BY crawl)
        ),
        runs AS (
          SELECT url, crawl, content_hash,
            sum(chg) OVER (PARTITION BY url ORDER BY crawl) AS version
          FROM flags
        ),
        iv AS (
          SELECT url, version, min(content_hash) AS content_hash,
                 min(crawl) AS from_crawl, max(crawl) AS to_crawl,
                 CAST(count(*) AS BIGINT) AS n_captures
          FROM runs GROUP BY url, version
        )
        SELECT url, version, content_hash, from_crawl, to_crawl,
               n_captures,
               version = max(version) OVER (PARTITION BY url) AS is_current
        FROM iv
    """

    # lpa_communities: the synchronous min-tie vote unrolled — per
    # round, neighbor labels + one self vote, count, row_number ordered
    # (count DESC, label ASC).
    _lpa_parts = [
        """eraw AS (
          SELECT i AS u, (i // 20) * 20 + (i + d) % 20 AS v
          FROM range(0, 300) t(i), (SELECT unnest([1, 2, 3, 4]) AS d)
          UNION ALL
          SELECT i AS u, (i + 20) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 20 = 0
        )""",
        """sym AS (
          SELECT DISTINCT u, v FROM (
            SELECT u, v FROM eraw WHERE u <> v
            UNION ALL
            SELECT v AS u, u AS v FROM eraw WHERE u <> v
          )
        )""",
        "lp0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym)",
    ]
    for _i in range(4):
        _lpa_parts.append(f"""lp{_i + 1} AS (
          SELECT node, lbl FROM (
            SELECT node, lbl, row_number() OVER
              (PARTITION BY node ORDER BY n DESC, lbl) AS rk
            FROM (
              SELECT node, lbl, count(*) AS n FROM (
                SELECT s.u AS node, l.lbl
                FROM sym s JOIN lp{_i} l ON l.node = s.v
                UNION ALL SELECT node, lbl FROM lp{_i}
              ) GROUP BY node, lbl
            )
          ) WHERE rk = 1
        )""")
    sqls["lpa_communities"] = (
        "WITH " + ",\n".join(_lpa_parts)
        + "\nSELECT node, lbl AS community FROM lp4"
    )


    # hex_kring_pairs: the oracle is the brute-force cross join — NOT
    # the ring enumeration — so equality proves the ring-1 covering
    # finds every qualifying pair (completeness, not just agreement).
    sqls["hex_kring_pairs"] = f"""
        WITH pts0 AS ({_POINTS_SQL}),
        pts AS (
          SELECT pid, lon / 4.0 AS lon, lat / 4.0 AS lat FROM pts0
        )
        SELECT a.pid AS pid_a, b.pid AS pid_b,
          round(sqrt((a.lon - b.lon) * (a.lon - b.lon)
                     + (a.lat - b.lat) * (a.lat - b.lat)), 9) AS dist
        FROM pts a JOIN pts b ON a.pid < b.pid
        WHERE sqrt((a.lon - b.lon) * (a.lon - b.lon)
                   + (a.lat - b.lat) * (a.lat - b.lat)) <= 0.45
    """


    # dbscan_clusters: brute-force eps-pairs (proves the hex covering
    # again), degree-threshold cores, then min-label propagation over
    # core-core edges UNROLLED to 12 fixed rounds — convergent because
    # the sf0.01 components max out at 10 points (diameter <= 9), so the
    # fixpoint equals the true connected-component minimum. Border rows
    # take min(cluster) over core neighbors, mirroring the operator's
    # deterministic tie-break.
    _db_prop = ",\n        ".join(
        f"""l{i + 1} AS MATERIALIZED (
          SELECT p.pid, least(p.lbl, coalesce(min(q.lbl), p.lbl)) AS lbl
          FROM l{i} p
          LEFT JOIN ce e ON e.u = p.pid
          LEFT JOIN l{i} q ON q.pid = e.v
          GROUP BY p.pid, p.lbl
        )"""
        for i in range(12))
    sqls["dbscan_clusters"] = f"""
        WITH pts0 AS ({_POINTS_SQL}),
        pts AS MATERIALIZED (
          SELECT pid, lon / 8.0 AS lon, lat / 8.0 AS lat FROM pts0
        ),
        pairs AS MATERIALIZED (
          SELECT a.pid AS pa, b.pid AS pb
          FROM pts a JOIN pts b ON a.pid < b.pid
          WHERE sqrt((a.lon - b.lon) * (a.lon - b.lon)
                     + (a.lat - b.lat) * (a.lat - b.lat)) <= 0.2
        ),
        sym AS MATERIALIZED (SELECT pa AS u, pb AS v FROM pairs
                UNION ALL SELECT pb, pa FROM pairs),
        deg AS (SELECT u AS pid, count(*) AS n FROM sym GROUP BY u),
        cores AS MATERIALIZED (SELECT pid FROM deg WHERE n + 1 >= 3),
        ce AS MATERIALIZED (
          SELECT s.u, s.v FROM sym s
          JOIN cores c1 ON c1.pid = s.u
          JOIN cores c2 ON c2.pid = s.v
        ),
        l0 AS MATERIALIZED (SELECT pid, pid AS lbl FROM cores),
        {_db_prop},
        bl AS (
          SELECT s.u AS pid, min(l.lbl) AS cluster
          FROM sym s
          JOIN l12 l ON l.pid = s.v
          WHERE s.u NOT IN (SELECT pid FROM cores)
          GROUP BY s.u
        )
        SELECT p.pid,
          CASE WHEN c.lbl IS NOT NULL THEN 'core'
               WHEN b.cluster IS NOT NULL THEN 'border'
               ELSE 'noise' END AS role,
          coalesce(c.lbl, b.cluster) AS cluster
        FROM pts p
        LEFT JOIN l12 c ON c.pid = p.pid
        LEFT JOIN bl b ON b.pid = p.pid
    """

    # st_dbscan: the dbscan oracle with the exact-microsecond temporal
    # predicate on the candidate pairs; same 12-round propagation.
    sqls["st_dbscan"] = f"""
        WITH pts0 AS ({_POINTS_SQL}),
        pts AS MATERIALIZED (
          SELECT p.pid, p.lon / 8.0 AS lon, p.lat / 8.0 AS lat,
                 epoch_us(e.ts) AS t
          FROM pts0 p JOIN events e ON e.event_id = p.pid
        ),
        pairs AS MATERIALIZED (
          SELECT a.pid AS pa, b.pid AS pb
          FROM pts a JOIN pts b ON a.pid < b.pid
          WHERE sqrt((a.lon - b.lon) * (a.lon - b.lon)
                     + (a.lat - b.lat) * (a.lat - b.lat)) <= 0.2
            AND abs(a.t - b.t) <= {4 * 86400 * 10**6}
        ),
        sym AS MATERIALIZED (SELECT pa AS u, pb AS v FROM pairs
                UNION ALL SELECT pb, pa FROM pairs),
        deg AS (SELECT u AS pid, count(*) AS n FROM sym GROUP BY u),
        cores AS MATERIALIZED (SELECT pid FROM deg WHERE n + 1 >= 3),
        ce AS MATERIALIZED (
          SELECT s.u, s.v FROM sym s
          JOIN cores c1 ON c1.pid = s.u
          JOIN cores c2 ON c2.pid = s.v
        ),
        l0 AS MATERIALIZED (SELECT pid, pid AS lbl FROM cores),
        {_db_prop},
        bl AS (
          SELECT s.u AS pid, min(l.lbl) AS cluster
          FROM sym s
          JOIN l12 l ON l.pid = s.v
          WHERE s.u NOT IN (SELECT pid FROM cores)
          GROUP BY s.u
        )
        SELECT p.pid,
          CASE WHEN c.lbl IS NOT NULL THEN 'core'
               WHEN b.cluster IS NOT NULL THEN 'border'
               ELSE 'noise' END AS role,
          coalesce(c.lbl, b.cluster) AS cluster
        FROM pts p
        LEFT JOIN l12 c ON c.pid = p.pid
        LEFT JOIN bl b ON b.pid = p.pid
    """

    # polyline_encode: the Encoded Polyline wire bytes respelled — same
    # quantize/delta/zigzag, same unrolled 7-group shift/mask emitter on
    # the same chr(63..126) alphabet literal, string_agg in vertex order.
    from lib_gdal_spark.functions.polyline import PL_ALPHA as _PLA

    def _pl_sql(c: str) -> str:
        terms = []
        for i in range(7):
            cond = "TRUE" if i == 0 else f"({c} >> {5 * i}) > 0"
            more = f"CASE WHEN ({c} >> {5 * (i + 1)}) > 0 THEN 32 ELSE 0 END"
            terms.append(
                f"CASE WHEN {cond} THEN substr($PLA$, "
                f"CAST((({c} >> {5 * i}) & 31) + {more} AS INT) + 1, 1) "
                f"ELSE '' END")
        return " || ".join(terms)

    sqls["polyline_encode"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        q AS (
          SELECT pid % 200 AS line_id, pid AS seq,
            CAST(CASE WHEN lat * 100000.0 >= 0
                 THEN floor(lat * 100000.0 + 0.5)
                 ELSE -floor(-lat * 100000.0 + 0.5) END AS BIGINT) AS qlat,
            CAST(CASE WHEN lon * 100000.0 >= 0
                 THEN floor(lon * 100000.0 + 0.5)
                 ELSE -floor(-lon * 100000.0 + 0.5) END AS BIGINT) AS qlon
          FROM pts
        ),
        d AS (
          SELECT line_id, seq,
            qlat - coalesce(lag(qlat) OVER
              (PARTITION BY line_id ORDER BY seq), 0) AS dlat,
            qlon - coalesce(lag(qlon) OVER
              (PARTITION BY line_id ORDER BY seq), 0) AS dlon
          FROM q
        ),
        s AS (
          SELECT line_id, seq,
            CASE WHEN dlat < 0 THEN -(dlat * 2) - 1
                 ELSE dlat * 2 END AS svlat,
            CASE WHEN dlon < 0 THEN -(dlon * 2) - 1
                 ELSE dlon * 2 END AS svlon
          FROM d
        ),
        e AS (
          SELECT line_id, seq,
            ({_pl_sql('svlat')}) || ({_pl_sql('svlon')}) AS enc
          FROM s
        )
        SELECT line_id, CAST(count(*) AS BIGINT) AS n_pts,
               string_agg(enc, '' ORDER BY seq) AS polyline
        FROM e GROUP BY line_id
    """.replace("$PLA$", "'" + _PLA + "'")

    # salted_hot_join: the oracle is the UNSALTED plain join — equality
    # proves the salting round-trip changes nothing. hot_cells: the same
    # count/mean/threshold pass.
    _skew_cells_sql = f"""
        WITH pts0 AS ({_POINTS_SQL}),
        pts AS (
          SELECT pid, CAST(CASE WHEN pid % 5 <> 0 THEN 0
                           ELSE pid % 100 END AS BIGINT) AS cell
          FROM pts0
        )"""
    sqls["salted_hot_join"] = f"""
        {_skew_cells_sql},
        dim AS (
          SELECT i AS cell, (i * 31) % 97 AS zone,
                 'region-' || CAST(i % 7 AS VARCHAR) AS region
          FROM range(0, 100) t(i)
        )
        SELECT p.pid, p.cell, d.zone, d.region
        FROM pts p JOIN dim d USING (cell)
    """
    sqls["hot_cells"] = f"""
        {_skew_cells_sql},
        counts AS (SELECT cell, count(*) AS n FROM pts GROUP BY cell)
        SELECT cell, CAST(n AS BIGINT) AS n FROM counts
        WHERE n > (SELECT avg(n) FROM counts) * 10.0
    """

    # mgrs_cells: the NGA lettering arithmetic spelled in SQL (substr on
    # the same literal alphabets, identical integer div/mod chain); the
    # decode northing comes from closed-form congruence math + the
    # GEOTRANS band-minimum list, NOT from parsing the string — equality
    # therefore proves Spark's string-parse decode inverts the encode.
    _mgrs_minn = ",".join(f"{v!r}" for v in C.MGRS_BAND_MIN_NORTHING)

    # polar MGRS: the GEOTRANS A/B/Y/Z lettering as pure integer SQL —
    # false origins + second-letter ranges from UPS_Constant_Table
    # (mgrs.c:222), row skips I/O, column skips DE/I/MNO (east half,
    # A-origin) and MNO/VW (west half, J-origin), applied sequentially
    # exactly as Convert_UPS_To_MGRS does (mgrs.c:900).
    sqls["mgrs_polar_cells"] = """
        WITH base AS (
          SELECT event_id AS pid,
                 event_id % 2 = 0 AS north,
                 CASE WHEN event_id % 2 = 0
                      THEN (event_id * 9973) % 1320000 + 1340000
                      ELSE (event_id * 9973) % 2200000 + 900000 END AS e_in,
                 CASE WHEN event_id % 2 = 0
                      THEN (event_id * 104729) % 1320000 + 1340000
                      ELSE (event_id * 104729) % 2200000 + 900000 END AS n_in
          FROM events
        ),
        k AS (
          SELECT pid, north, e_in, n_in,
                 CASE WHEN e_in >= 2000000 THEN 2000000 ELSE 800000 END AS fe,
                 CASE WHEN e_in >= 2000000 THEN 0 ELSE 9 END AS l2low,
                 CASE WHEN north THEN 1300000 ELSE 800000 END AS fn,
                 CASE WHEN north THEN
                        CASE WHEN e_in >= 2000000 THEN 25 ELSE 24 END
                      ELSE CASE WHEN e_in >= 2000000 THEN 1 ELSE 0 END
                 END AS l0
          FROM base
        ),
        rows_ AS (
          SELECT *, (n_in - fn) // 100000 AS r0 FROM k
        ),
        rows2 AS (
          SELECT *, r0 + CASE WHEN r0 > 7 THEN 1 ELSE 0 END AS r1 FROM rows_
        ),
        rows3 AS (
          SELECT *, r1 + CASE WHEN r1 > 13 THEN 1 ELSE 0 END AS rr FROM rows2
        ),
        cols0 AS (
          SELECT *, l2low + (e_in - fe) // 100000 AS c0 FROM rows3
        ),
        cols AS (
          SELECT *,
            CASE WHEN e_in < 2000000 THEN
              -- west half: +3 past L, then +2 past U
              (CASE WHEN (c0 + CASE WHEN c0 > 11 THEN 3 ELSE 0 END) > 20
                    THEN (c0 + CASE WHEN c0 > 11 THEN 3 ELSE 0 END) + 2
                    ELSE (c0 + CASE WHEN c0 > 11 THEN 3 ELSE 0 END) END)
            ELSE
              -- east half: +2 past C, +1 past H, +3 past L (sequential)
              (CASE WHEN ((CASE WHEN (c0 + CASE WHEN c0 > 2 THEN 2 ELSE 0 END)
                                 > 7
                           THEN (c0 + CASE WHEN c0 > 2 THEN 2 ELSE 0 END) + 1
                           ELSE (c0 + CASE WHEN c0 > 2 THEN 2 ELSE 0 END)
                           END)) > 11
                    THEN ((CASE WHEN (c0 + CASE WHEN c0 > 2 THEN 2 ELSE 0 END)
                                 > 7
                           THEN (c0 + CASE WHEN c0 > 2 THEN 2 ELSE 0 END) + 1
                           ELSE (c0 + CASE WHEN c0 > 2 THEN 2 ELSE 0 END)
                           END)) + 3
                    ELSE ((CASE WHEN (c0 + CASE WHEN c0 > 2 THEN 2 ELSE 0 END)
                                 > 7
                           THEN (c0 + CASE WHEN c0 > 2 THEN 2 ELSE 0 END) + 1
                           ELSE (c0 + CASE WHEN c0 > 2 THEN 2 ELSE 0 END)
                           END)) END)
            END AS cc
          FROM cols0
        )
        SELECT pid,
               substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ', CAST(l0 + 1 AS INT), 1)
               || substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ', CAST(cc + 1 AS INT), 1)
               || substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ', CAST(rr + 1 AS INT), 1)
               || lpad(CAST(e_in % 100000 AS VARCHAR), 5, '0')
               || lpad(CAST(n_in % 100000 AS VARCHAR), 5, '0') AS mgrs,
               north,
               CAST(e_in AS BIGINT) AS easting,
               CAST(n_in AS BIGINT) AS northing
        FROM cols
    """

    sqls["mgrs_cells"] = f"""
        WITH base AS (
          SELECT event_id AS pid,
            (event_id * 7) % 60 + 1 AS zone,
            (event_id * 13) % 20 AS band_idx,
            (event_id * 9973) % 800000 + 100000 AS easting,
            (event_id * 104729) % 9000000 AS northing
          FROM events
        ),
        parts AS (
          SELECT *,
            ((zone - 1) % 3) * 8 + (easting // 100000) - 1 AS col_idx,
            CASE WHEN zone % 2 = 0
                 THEN ((northing // 100000) % 20 + 5) % 20
                 ELSE (northing // 100000) % 20 END AS row_idx
          FROM base
        ),
        enc AS (
          SELECT *,
            CAST(zone AS VARCHAR)
              || substr('{C.MGRS_BANDS}', CAST(band_idx AS INT) + 1, 1)
              || substr('{C.MGRS_COLS}', CAST(col_idx AS INT) + 1, 1)
              || substr('{C.MGRS_ROWS}', CAST(row_idx AS INT) + 1, 1)
              AS sq
          FROM parts
        ),
        dec AS (
          SELECT *,
            CAST(northing % 2000000 AS DOUBLE) AS n_mod,
            list_extract([{_mgrs_minn}], CAST(band_idx AS INT) + 1) AS min_n
          FROM enc
        )
        SELECT pid,
          sq || lpad(CAST(easting % 100000 AS VARCHAR), 5, '0')
             || lpad(CAST(northing % 100000 AS VARCHAR), 5, '0') AS m5,
          sq || lpad(CAST((easting % 100000) // 100 AS VARCHAR), 3, '0')
             || lpad(CAST((northing % 100000) // 100 AS VARCHAR), 3, '0')
             AS m3,
          zone AS d_zone, band_idx AS d_band,
          CAST(easting AS DOUBLE) AS d_east,
          n_mod + ceil(greatest(0.0, min_n - n_mod) / 2000000.0) * 2000000.0
            AS d_north
        FROM dec
    """

    # quadkeys: the Bing digit chain spelled with DuckDB bit ops; dx/dy
    # from the same digit reassembly, so equality proves encode/decode
    # invert and the prefix-parent property.
    def _qk_chars(z: int, xs: str, ys: str) -> str:
        return " || ".join(
            f"substr('0123', CAST((({ys} >> {k - 1}) & 1) * 2"
            f" + (({xs} >> {k - 1}) & 1) AS INT) + 1, 1)"
            for k in range(z, 0, -1)
        )

    sqls["quadkeys"] = f"""
        WITH base AS (
          SELECT event_id AS pid,
            (event_id * 37) % 4096 AS tx,
            (event_id * 59) % 4096 AS ty
          FROM events
        )
        SELECT pid,
          {_qk_chars(12, "tx", "ty")} AS qk12,
          {_qk_chars(9, "(tx >> 3)", "(ty >> 3)")} AS qk9,
          tx AS dx, ty AS dy
        FROM base
    """

    # plus_codes: the OLC base-20 digit chain spelled in SQL (identical
    # quantization, substr lookups on the same literal alphabet); the
    # decoded center comes from the pre-encode quantized values with the
    # same IEEE op order, so equality proves encode/decode invert.
    _olc_digits = []
    for _p in (160000, 8000, 400, 20, 1):
        for _q in ("latq", "lonq"):
            if _p == 1 and _q == "latq":
                _olc_digits.append("'+'")
            _olc_digits.append(
                f"substr('{C.OLC_ALPHABET}', "
                f"CAST(({_q} // {_p}) % 20 AS INT) + 1, 1)"
            )
    _olc10 = " || ".join(_olc_digits)
    _hlat = 0.5 / 8000.0
    sqls["plus_codes"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        q AS (
          SELECT pid,
            least(1439999, greatest(0,
              CAST(floor((lat + 90.0) * 8000.0) AS BIGINT))) AS latq,
            ((CAST(floor((lon + 180.0) * 8000.0) AS BIGINT) % 2880000)
              + 2880000) % 2880000 AS lonq,
            least(7199999,
              CAST(floor((lat + 90.0) * 40000.0) AS BIGINT)) % 5 AS row5,
            ((CAST(floor((lon + 180.0) * 32000.0) AS BIGINT) % 11520000)
              + 11520000) % 4 AS col4
          FROM pts
        ),
        enc AS (
          SELECT pid, latq, lonq, {_olc10} AS olc10,
            substr('{C.OLC_ALPHABET}',
                   CAST(row5 * 4 + col4 AS INT) + 1, 1) AS g
          FROM q
        )
        SELECT pid, olc10, olc10 || g AS olc11,
          round(CAST(latq AS DOUBLE) / 8000.0 - 90.0 + {_hlat!r}, 9)
            AS clat,
          round(CAST(lonq AS DOUBLE) / 8000.0 - 180.0 + {_hlat!r}, 9)
            AS clon
        FROM enc
    """

    # rhumb_line: identical inverse-Mercator expressions; pi()/4 and
    # 2*pi() are exact power-of-two scalings of the same double pi.
    sqls["rhumb_line"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        ab AS (
          SELECT pid, lat AS la, lon AS loa,
                 lat * 0.5 + 10.0 AS lb, lon * 0.5 + 20.0 AS lob
          FROM pts
        ),
        r1 AS (
          SELECT pid, la * {_D!r} AS p1, lb * {_D!r} AS p2,
                 (lob - loa) * {_D!r} AS dlr
          FROM ab
        ),
        r2 AS (
          SELECT pid, p1, p2 - p1 AS dphi,
            CASE WHEN dlr > pi() THEN dlr - 2.0 * pi()
                 WHEN dlr < -pi() THEN dlr + 2.0 * pi()
                 ELSE dlr END AS dlam,
            ln(tan(p2 / 2.0 + pi() / 4.0))
              - ln(tan(p1 / 2.0 + pi() / 4.0)) AS dpsi
          FROM r1
        ),
        r3 AS (
          SELECT pid, dphi, dlam, dpsi,
            CASE WHEN abs(dpsi) > 1e-12 THEN dphi / dpsi
                 ELSE cos(p1) END AS q
          FROM r2
        )
        SELECT pid,
          round(sqrt(dphi * dphi + q * q * dlam * dlam) * {_RM!r}, 2)
            AS dist_m,
          round(CASE WHEN atan2(dlam, dpsi) * {_R2D!r} < 0.0
                     THEN atan2(dlam, dpsi) * {_R2D!r} + 360.0
                     ELSE atan2(dlam, dpsi) * {_R2D!r} END, 6) AS bearing
        FROM r3
    """

    # geodesic_ring_stats: the Bevis & Cambareri edge-excess terms and
    # the great-circle edge lengths spelled literally; the double casts
    # on the decimal literals force the same IEEE ops Spark runs.
    sqls["geodesic_ring_stats"] = f"""
        WITH e AS (
          SELECT CAST(ks.k AS BIGINT) AS poly_id, CAST(js.j AS BIGINT) AS j
          FROM generate_series(0, 199) ks(k)
          CROSS JOIN generate_series(0, 11) js(j)
        ),
        c AS (
          SELECT poly_id, j,
            -150.0 + (poly_id % 20) * CAST(15.3 AS DOUBLE) AS clon,
            -60.0 + floor(poly_id / 20) * CAST(12.4 AS DOUBLE) AS clat,
            0.5 + (poly_id % 7) * CAST(0.7 AS DOUBLE) AS r
          FROM e
        ),
        v AS (
          SELECT poly_id,
            clon + r * cos(j * {_GEOD_TH!r}) / cos(radians(clat)) AS lon,
            clat + r * sin(j * {_GEOD_TH!r}) AS lat,
            clon + r * cos(((j + 1) % 12) * {_GEOD_TH!r})
                 / cos(radians(clat)) AS lon2,
            clat + r * sin(((j + 1) % 12) * {_GEOD_TH!r}) AS lat2
          FROM c
        ),
        t AS (
          SELECT poly_id,
            2.0 * atan2(
              tan((lon2 - lon) * {_D!r} / 2.0)
                * (tan(lat * {_D!r} / 2.0) + tan(lat2 * {_D!r} / 2.0)),
              1.0 + tan(lat * {_D!r} / 2.0) * tan(lat2 * {_D!r} / 2.0)
            ) AS excess,
            acos(least(greatest(
              sin(lat * {_D!r}) * sin(lat2 * {_D!r})
              + cos(lat * {_D!r}) * cos(lat2 * {_D!r})
                * cos((lon2 - lon) * {_D!r}), -1.0), 1.0)) * {_RM!r} AS d
          FROM v
        )
        SELECT poly_id,
               round(abs(sum(excess)) * {_RM * _RM!r} / 1e6, 3) AS area_km2,
               round(sum(d), 3) AS perim_m
        FROM t GROUP BY poly_id
    """


    sqls["tpch_promo_share"] = """
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
               round(100.0 * CAST(sum(CASE WHEN p_type = 'ECONOMY'
                 THEN CAST(l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4))
                         - CAST(l_discount AS DECIMAL(18,4)))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4))
                         - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
               6) AS economy_share
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """


    # --- round-2 oracles ---------------------------------------------------

    sqls["polygonize_rings"] = f"""
        WITH pix AS ({_PIXELS_SQL}),
        burned AS ({burn_parts})
        SELECT min(py * 256 + px) AS component,
               CAST(fid AS DOUBLE) AS value,
               CAST(count(*) AS BIGINT) AS n_pixels,
               CAST(1 AS BIGINT) AS n_rings,
               round(CAST(count(*) AS DOUBLE), 6) AS area_px
        FROM burned GROUP BY fid
    """

    # footprint: disjoint pentagons -> one valid-mask component per fid;
    # world area = n_pixels * |gt1 * gt5| (exact binary fractions 45/32,
    # 45/64 -- no float rounding on either engine).
    sqls["raster_footprint"] = f"""
        WITH pix AS ({_PIXELS_SQL}),
        burned AS ({burn_parts})
        SELECT min(py * 256 + px) AS component,
               CAST(count(*) AS BIGINT) AS n_pixels,
               CAST(1 AS BIGINT) AS n_rings,
               round(count(*) * 1.40625 * 0.703125, 6) AS area
        FROM burned GROUP BY fid
    """

    # contour -p sub-pixel oracle: Green's theorem over the directed
    # marching-squares segments, spelled per 16-case in SQL. Ring
    # stitching preserves the segment multiset, so the shoelace over the
    # engine's stitched rings equals this cross-product sum exactly.
    # Band area(b) = -0.5*(S(lo_b) - S(hi_b)) + border(b), where S(L) is
    # the cross-product sum of the directed level-L segments and border(3)
    # = 127*127 (every border pixel value is in [4096, 8192] >= 2304, so
    # the whole domain border ring belongs to band 3). Ring/hole counts
    # are the analytic annulus topology of the bullseye fixture.
    def _cp_ept(edge: int) -> tuple[str, str]:
        if edge == 0:
            return ("px + (L - a) / (b - a)", "CAST(py AS DOUBLE)")
        if edge == 1:
            return ("px + 1.0", "py + (L - b) / (c - b)")
        if edge == 2:
            return ("px + (L - d) / (c - d)", "py + 1.0")
        return ("CAST(px AS DOUBLE)", "py + (L - a) / (d - a)")

    def _cp_cross(e1: int, e2: int) -> str:
        x1, y1 = _cp_ept(e1)
        x2, y2 = _cp_ept(e2)
        return f"(({x1}) * ({y2}) - ({x2}) * ({y1}))"

    _cp_cases = []
    for code_, pr_ in {8: (3, 0), 7: (0, 3), 4: (0, 1), 11: (1, 0),
                       2: (1, 2), 13: (2, 1), 1: (2, 3), 14: (3, 2),
                       12: (3, 1), 3: (1, 3), 6: (0, 2), 9: (2, 0)}.items():
        _cp_cases.append(f"WHEN {code_} THEN {_cp_cross(*pr_)}")
    _cp_cases.append(
        "WHEN 5 THEN CASE WHEN (a + b + c + d) / 4.0 >= L THEN "
        f"{_cp_cross(0, 1)} + {_cp_cross(2, 3)} ELSE "
        f"{_cp_cross(0, 3)} + {_cp_cross(2, 1)} END")
    _cp_cases.append(
        "WHEN 10 THEN CASE WHEN (a + b + c + d) / 4.0 >= L THEN "
        f"{_cp_cross(3, 0)} + {_cp_cross(1, 2)} ELSE "
        f"{_cp_cross(1, 0)} + {_cp_cross(3, 2)} END")
    _cp_expr = "CASE code " + " ".join(_cp_cases) + " ELSE 0.0 END"

    sqls["contour_polygons"] = f"""
        WITH lv AS (SELECT unnest([256.0, 1024.0, 2304.0]) AS L),
        cells AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py, L,
            CAST((x.px-64)*(x.px-64) + (y.py-64)*(y.py-64) AS DOUBLE) AS a,
            CAST((x.px-63)*(x.px-63) + (y.py-64)*(y.py-64) AS DOUBLE) AS b,
            CAST((x.px-63)*(x.px-63) + (y.py-63)*(y.py-63) AS DOUBLE) AS c,
            CAST((x.px-64)*(x.px-64) + (y.py-63)*(y.py-63) AS DOUBLE) AS d
          FROM generate_series(0, 126) x(px)
          CROSS JOIN generate_series(0, 126) y(py)
          CROSS JOIN lv
        ),
        coded AS (
          SELECT *,
            (CASE WHEN a >= L THEN 8 ELSE 0 END
             + CASE WHEN b >= L THEN 4 ELSE 0 END
             + CASE WHEN c >= L THEN 2 ELSE 0 END
             + CASE WHEN d >= L THEN 1 ELSE 0 END) AS code
          FROM cells
        ),
        s AS (
          SELECT L, sum({_cp_expr}) AS sl FROM coded GROUP BY L
        ),
        bands(band, elev_min, elev_max, n_rings, n_holes) AS (
          VALUES (0, NULL, 256.0, 1, 0), (1, 256.0, 1024.0, 2, 1),
                 (2, 1024.0, 2304.0, 2, 1), (3, 2304.0, NULL, 2, 1)
        )
        SELECT CAST(band AS INTEGER) AS band,
               CAST(elev_min AS DOUBLE) AS elev_min,
               CAST(elev_max AS DOUBLE) AS elev_max,
               CAST(1 AS BIGINT) AS n_polys,
               CAST(n_rings AS BIGINT) AS n_rings,
               CAST(n_holes AS BIGINT) AS n_holes,
               round(CASE band
                 WHEN 0 THEN 0.5 * (SELECT sl FROM s WHERE L = 256.0)
                 WHEN 1 THEN -0.5 * ((SELECT sl FROM s WHERE L = 256.0)
                                   - (SELECT sl FROM s WHERE L = 1024.0))
                 WHEN 2 THEN -0.5 * ((SELECT sl FROM s WHERE L = 1024.0)
                                   - (SELECT sl FROM s WHERE L = 2304.0))
                 ELSE -0.5 * (SELECT sl FROM s WHERE L = 2304.0) + 16129.0
               END, 4) AS area_px
        FROM bands
    """

    sqls["raster_compare"] = """
        WITH g AS (
          SELECT x.px AS px, y.py AS py
          FROM generate_series(0, 255) x(px)
          CROSS JOIN generate_series(0, 255) y(py)
        ),
        v AS (
          SELECT trunc((sin(px * 0.19) + cos(py * 0.13)) * 60.0 + 128.0) AS va,
                 trunc((px + py) * 0.5) AS vb
          FROM g
        )
        SELECT CAST(1 AS BIGINT) AS band,
               CAST(count(*) AS BIGINT) AS n_pixels,
               CAST(sum(CASE WHEN va <> vb THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_diff,
               round(max(abs(va - vb)), 6) AS max_abs_diff,
               round(sum(abs(va - vb)), 6) AS sum_abs_diff
        FROM v
    """

    union_rows = _ov_expected_union()
    uvals = ", ".join(
        f"({f if f is not None else 'NULL'}, "
        f"{m if m is not None else 'NULL'}, {a!r})"
        for f, m, a in union_rows
    )
    sqls["layer_union"] = (
        f"SELECT CAST(c0 AS BIGINT) AS in_fid, CAST(c1 AS BIGINT) AS m_fid, "
        f"CAST(c2 AS DOUBLE) AS area FROM (VALUES {uvals}) t(c0, c1, c2)"
    )
    sym_rows = (
        [(f, "input", a) for f, m, a in union_rows if m is None]
        + [(m, "method", a) for f, m, a in union_rows if f is None]
    )
    svals = ", ".join(f"({f}, '{src}', {a!r})" for f, src, a in sym_rows)
    sqls["layer_symdiff"] = (
        f"SELECT CAST(c0 AS BIGINT) AS fid, c1 AS src, "
        f"CAST(c2 AS DOUBLE) AS area FROM (VALUES {svals}) t(c0, c1, c2)"
    )

    # UTM inverse (Krüger series) spelled out with literal coefficients;
    # cosh/sinh via exp since DuckDB lacks hyperbolics.
    from lib_gdal_spark.functions import crs as _CRS
    _tm = _CRS.utm_zone(31)
    kA = _tm.k0 * _tm.A
    g0u, g1u, _, g3u, _, g5u = _UTM31_DST_GT

    def _ch(x: str) -> str:
        return f"((exp({x}) + exp(-({x}))) / 2.0)"

    def _sh(x: str) -> str:
        return f"((exp({x}) - exp(-({x}))) / 2.0)"

    bsum_xi = " + ".join(
        f"{b!r} * sin({2 * j}.0 * xi) * {_ch(f'{2 * j}.0 * eta')}"
        for j, b in enumerate(_tm.beta, start=1)
    )
    bsum_eta = " + ".join(
        f"{b!r} * cos({2 * j}.0 * xi) * {_sh(f'{2 * j}.0 * eta')}"
        for j, b in enumerate(_tm.beta, start=1)
    )
    dsum = " + ".join(
        f"{d!r} * sin({2 * j}.0 * chi)" for j, d in enumerate(_tm.delta, 1)
    )
    # world4326 inverse geotransform (same literals as warp_nearest_z2)
    from lib_gdal_spark.kernels import resample as _R
    _wgt = (-180.0, 360.0 / 256, 0.0, 90.0, 0.0, -180.0 / 256)
    _winv = _R.gt_invert(_wgt)
    sqls["warp_utm_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0u!r} + (px + 0.5) * {g1u!r} AS E,
            {g3u!r} + (py + 0.5) * {g5u!r} AS N
          FROM pix
        ),
        xe AS (
          SELECT px, py, N / {kA!r} AS xi, (E - 500000.0) / {kA!r} AS eta
          FROM en
        ),
        p1 AS (
          SELECT px, py,
            xi - ({bsum_xi}) AS xip,
            eta - ({bsum_eta}) AS etap
          FROM xe
        ),
        p2 AS (
          SELECT px, py, asin(sin(xip) / {_ch("etap")}) AS chi,
                 atan2({_sh("etap")}, cos(xip)) AS lam
          FROM p1
        ),
        ll AS (
          SELECT px, py,
            3.0 + degrees(lam) AS lon,
            degrees(chi + ({dsum})) AS lat
          FROM p2
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0 + 128.0)
                    AS BIGINT) AS v
        FROM sp
    """

    # Polar Stereographic (EPSG:3031) inverse spelled in SQL: constants come
    # from the SAME Python constructor the Spark query uses, and the
    # conformal-latitude fixed point (Snyder 7-9 / 21-39) unrolls into
    # chained CTEs — identical double arithmetic to the numpy kernel.
    _ps = _CRS.get_crs_transform(3031)
    _rf, _pe = float(_ps._rho_factor), float(_ps.e)
    g0p, g1p, _, g3p, _, g5p = _PS3031_DST_GT
    _ps_iters = "".join(
        f""",
        it{k} AS (
          SELECT px, py, t, lam,
            pi()/2.0 - 2.0 * atan(t * pow(
              (1.0 - {_pe!r} * sin(phi)) / (1.0 + {_pe!r} * sin(phi)),
              {_pe / 2.0!r})) AS phi
          FROM it{k - 1}
        )"""
        for k in range(1, 11)
    )
    sqls["warp_ps_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0p!r} + (px + 0.5) * {g1p!r} AS E,
            {g3p!r} + (py + 0.5) * {g5p!r} AS N
          FROM pix
        ),
        base AS (
          SELECT px, py,
            sqrt(E * E + N * N) / {_rf!r} AS t,
            atan2(E, N) AS lam
          FROM en
        ),
        it0 AS (
          SELECT px, py, t, lam, pi()/2.0 - 2.0 * atan(t) AS phi FROM base
        ){_ps_iters},
        ll AS (
          SELECT px, py, degrees(lam) AS lon, -degrees(phi) AS lat FROM it10
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE NULL END AS v
        FROM sp
    """

    # GCP order-1 warp: embed the lstsq-RECOVERED polynomial coefficients
    # (same fit the Spark query runs) as literals.
    from lib_gdal_spark.functions import transforms as _T
    _gcx, _gcy = _T.fit_gcp_polynomial(_gcp_points(), order=1)
    g0g, g1g, _, g3g, _, g5g = _GCP_DST_GT
    sqls["warp_gcp_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0g!r} + (px + 0.5) * {g1g!r} AS E,
            {g3g!r} + (py + 0.5) * {g5g!r} AS N
          FROM pix
        ),
        ll AS (
          SELECT px, py,
            {_gcx[0]!r} + {_gcx[1]!r} * E + {_gcx[2]!r} * N AS lon,
            {_gcy[0]!r} + {_gcy[1]!r} * E + {_gcy[2]!r} * N AS lat
          FROM en
        ),
        sp AS (
          SELECT px, py,
            CAST(floor((CAST({_winv[0]!r} AS DOUBLE)
                        + lon * CAST({_winv[1]!r} AS DOUBLE)
                        + lat * CAST({_winv[2]!r} AS DOUBLE))
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor((CAST({_winv[3]!r} AS DOUBLE)
                        + lon * CAST({_winv[4]!r} AS DOUBLE)
                        + lat * CAST({_winv[5]!r} AS DOUBLE))
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE NULL END AS v
        FROM sp
    """

    # Albers equal-area (EPSG:5070) inverse: q from rho closed-form, then
    # the Snyder 3-16 latitude fixed point unrolled (n_cone > 0 for CONUS,
    # so the southern-cone sign terms drop out).
    _ae = _CRS.get_crs_transform(5070)
    _an, _aC, _ar0 = float(_ae.n_cone), float(_ae.C), float(_ae.rho0)
    _aa, _ae_e, _ae_e2 = float(_ae.a), float(_ae.e), float(_ae.e2)
    g0a, g1a, _, g3a, _, g5a = _AEA5070_DST_GT
    _ae_iters = "".join(
        f""",
        jt{k} AS (
          SELECT px, py, q, lam,
            phi + pow(1.0 - {_ae_e2!r} * sin(phi) * sin(phi), 2)
              / (2.0 * cos(phi)) * (
                q / (1.0 - {_ae_e2!r})
                - sin(phi) / (1.0 - {_ae_e2!r} * sin(phi) * sin(phi))
                + (1.0 / (2.0 * {_ae_e!r}))
                  * ln((1.0 - {_ae_e!r} * sin(phi))
                       / (1.0 + {_ae_e!r} * sin(phi)))
              ) AS phi
          FROM jt{k - 1}
        )"""
        for k in range(1, 11)
    )
    sqls["warp_albers_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0a!r} + (px + 0.5) * {g1a!r} AS E,
            {_ar0!r} - ({g3a!r} + (py + 0.5) * {g5a!r}) AS Y
          FROM pix
        ),
        base AS (
          SELECT px, py,
            ({_aC!r} - pow(sqrt(E * E + Y * Y) * {_an!r} / {_aa!r}, 2))
              / {_an!r} AS q,
            atan2(E, Y) / {_an!r} AS lam
          FROM en
        ),
        jt0 AS (
          SELECT px, py, q, lam,
            asin(least(greatest(q / 2.0, -1.0), 1.0)) AS phi
          FROM base
        ){_ae_iters},
        ll AS (
          SELECT px, py, -96.0 + degrees(lam) AS lon, degrees(phi) AS lat
          FROM jt10
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE NULL END AS v
        FROM sp
    """

    # Mollweide (ESRI:54009): the closed-form Snyder §31 inverse — the
    # constants come from the SAME Mollweide constructor the Spark query
    # uses, so the double arithmetic is identical.
    _mo = _CRS.get_crs_transform(54009)
    _mcx, _mcy = float(_mo._cx), float(_mo._cy)
    g0m, g1m, _, g3m, _, g5m = _MOLL_DST_GT
    sqls["warp_mollweide_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0m!r} + (px + 0.5) * {g1m!r} AS E,
            {g3m!r} + (py + 0.5) * {g5m!r} AS Yv
          FROM pix
        ),
        th AS (
          SELECT px, py, E, asin(Yv / {_mcy!r}) AS theta FROM en
        ),
        ll AS (
          SELECT px, py,
            0.0 + degrees(E / ({_mcx!r} * cos(theta))) AS lon,
            degrees(asin((2.0 * theta + sin(2.0 * theta)) / pi())) AS lat
          FROM th
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE 0 END AS v
        FROM sp
    """

    # MODIS sinusoidal: trivial spherical inverse (Snyder §30)
    _si = _CRS.modis_sinusoidal()
    _sr = float(_si.R)
    g0s, g1s, _, g3s, _, g5s = _SINU_DST_GT
    sqls["warp_sinusoidal_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0s!r} + (px + 0.5) * {g1s!r} AS E,
            {g3s!r} + (py + 0.5) * {g5s!r} AS Yv
          FROM pix
        ),
        ph AS (
          SELECT px, py, E, Yv / {_sr!r} AS phi FROM en
        ),
        ll AS (
          SELECT px, py,
            0.0 + degrees(E / ({_sr!r} * cos(phi))) AS lon,
            degrees(phi) AS lat
          FROM ph
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE 0 END AS v
        FROM sp
    """

    # EPSG:27700 warp: Airy Krüger TM inverse (the warp_utm pattern with
    # the 27700 constructor's coefficients + adjusted false northing) ->
    # OSGB36 geodetic -> Airy ECEF -> FULL 7-param Helmert (position
    # vector, rotations in radians + ppm scale as literals from the same
    # TOWGS84 table) -> Bowring -> WGS84 -> src pixel.
    _tmb = _CRS.get_crs_transform(27700)
    _kAb = _tmb.k0 * _tmb.A
    g0b, g1b, _, g3b, _, g5b = _BNG_DST_GT
    _bsum_xi_b = " + ".join(
        f"{b!r} * sin({2 * j}.0 * xi) * {_ch(f'{2 * j}.0 * eta')}"
        for j, b in enumerate(_tmb.beta, start=1)
    )
    _bsum_eta_b = " + ".join(
        f"{b!r} * cos({2 * j}.0 * xi) * {_sh(f'{2 * j}.0 * eta')}"
        for j, b in enumerate(_tmb.beta, start=1)
    )
    _dsum_b = " + ".join(
        f"{d!r} * sin({2 * j}.0 * chi)" for j, d in enumerate(_tmb.delta, 1)
    )
    _aa_b, _af_b = _CRS.ELLIPSOIDS["airy"]
    _ae2_b = _af_b * (2.0 - _af_b)
    _ob = _CRS.TOWGS84["OSGB36"]
    _asec_b = np.pi / (180.0 * 3600.0)
    _rxb, _ryb, _rzb = (_ob[3] * _asec_b, _ob[4] * _asec_b, _ob[5] * _asec_b)
    _mmb = 1.0 + _ob[6] * 1e-6
    _wa_b, _wf_b = _CRS.ELLIPSOIDS["WGS84"]
    _wb_b = _wa_b * (1.0 - _wf_b)
    _we2_b = _wf_b * (2.0 - _wf_b)
    _wep2_b = _we2_b / (1.0 - _we2_b)
    sqls["warp_bng_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0b!r} + (px + 0.5) * {g1b!r} AS E,
            {g3b!r} + (py + 0.5) * {g5b!r} AS N
          FROM pix
        ),
        xe AS (
          SELECT px, py, (N - {_tmb.false_n!r}) / {_kAb!r} AS xi,
                 (E - {_tmb.false_e!r}) / {_kAb!r} AS eta
          FROM en
        ),
        p1 AS (
          SELECT px, py,
            xi - ({_bsum_xi_b}) AS xip,
            eta - ({_bsum_eta_b}) AS etap
          FROM xe
        ),
        p2 AS (
          SELECT px, py, asin(sin(xip) / {_ch("etap")}) AS chi,
                 atan2({_sh("etap")}, cos(xip)) AS lam
          FROM p1
        ),
        gl AS (
          SELECT px, py,
            {_tmb.lon0!r} + degrees(lam) AS glon,
            degrees(chi + ({_dsum_b})) AS glat
          FROM p2
        ),
        tri AS (
          SELECT px, py, radians(glon) AS lam2,
                 sin(radians(glat)) AS sp, cos(radians(glat)) AS cp
          FROM gl
        ),
        nuc AS (
          SELECT px, py, lam2, sp, cp,
                 {_aa_b!r} / sqrt(1.0 - {_ae2_b!r} * sp * sp) AS nu
          FROM tri
        ),
        ec AS (
          SELECT px, py,
            nu * cp * cos(lam2) AS X,
            nu * cp * sin(lam2) AS Y,
            nu * {1.0 - _ae2_b!r} * sp AS Z
          FROM nuc
        ),
        hel AS (
          SELECT px, py,
            {_ob[0]!r} + {_mmb!r} * (X - {_rzb!r} * Y + {_ryb!r} * Z) AS X,
            {_ob[1]!r} + {_mmb!r} * ({_rzb!r} * X + Y - {_rxb!r} * Z) AS Y,
            {_ob[2]!r} + {_mmb!r} * (-{_ryb!r} * X + {_rxb!r} * Y + Z) AS Z
          FROM ec
        ),
        bow AS (
          SELECT px, py, X, Y, Z, sqrt(X * X + Y * Y) AS p,
                 atan2(Z * {_wa_b!r}, sqrt(X * X + Y * Y) * {_wb_b!r}) AS u
          FROM hel
        ),
        ll AS (
          SELECT px, py,
            degrees(atan2(Y, X)) AS lon,
            degrees(atan2(
              Z + {_wep2_b!r} * {_wb_b!r} * sin(u) * sin(u) * sin(u),
              p - {_we2_b!r} * {_wa_b!r} * cos(u) * cos(u) * cos(u))) AS lat
          FROM bow
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE 0 END AS v
        FROM sp
    """

    # NAD83 State Plane oracles. LCC 2SP (Snyder §15 inverse): rho/theta
    # closed form, t = (rho/aF)^(1/n), conformal-latitude fixed point
    # (15-9) unrolled 8x — n/F/rho0/e literals from the SAME registry
    # constructor the Spark query uses (zone values are public EPSG/ESRI
    # registry data, functions/stateplane_data). n > 0 for every US
    # zone, so the sign factors drop out.
    def _lcc_oracle(epsg: int, gt: tuple) -> str:
        _lc = _CRS.get_crs_transform(epsg)
        _ln, _lF = float(_lc.n_cone), float(_lc.F)
        _la_, _le = float(_lc.a), float(_lc.e)
        _lr0, _lfe, _lfn = float(_lc.rho0), float(_lc.false_e), float(_lc.false_n)
        assert _ln > 0.0
        g0, g1, _, g3, _, g5 = gt
        iters = "".join(
            f""",
        lt{k} AS (
          SELECT px, py, t, lam,
            pi()/2.0 - 2.0 * atan(t * pow(
              (1.0 - {_le!r} * sin(phi)) / (1.0 + {_le!r} * sin(phi)),
              {_le / 2.0!r})) AS phi
          FROM lt{k - 1}
        )"""
            for k in range(1, 9)
        )
        return f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            ({g0!r} + (px + 0.5) * {g1!r}) - {_lfe!r} AS X,
            {_lr0!r} - (({g3!r} + (py + 0.5) * {g5!r}) - {_lfn!r}) AS Y
          FROM pix
        ),
        base AS (
          SELECT px, py,
            pow(sqrt(X * X + Y * Y) / {_la_ * _lF!r}, {1.0 / _ln!r}) AS t,
            atan2(X, Y) / {_ln!r} AS lam
          FROM en
        ),
        lt0 AS (
          SELECT px, py, t, lam, pi()/2.0 - 2.0 * atan(t) AS phi FROM base
        ){iters},
        ll AS (
          SELECT px, py, {_lc.lon0!r} + degrees(lam) AS lon,
                 degrees(phi) AS lat
          FROM lt8
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE NULL END AS v
        FROM sp
    """

    sqls["warp_stateplane_md"] = _lcc_oracle(26985, _SP_MD_DST_GT)
    sqls["warp_stateplane_tx"] = _lcc_oracle(32139, _SP_TX_DST_GT)

    # NJ SPCS TM: the warp_bng Krüger-inverse pattern on GRS80 with the
    # meridian-arc-adjusted false northing, no datum leg (NAD83 = WGS84
    # zero-shift convention)
    _tmj = _CRS.get_crs_transform(32111)
    _kAj = _tmj.k0 * _tmj.A
    g0j, g1j, _, g3j, _, g5j = _SP_NJ_DST_GT
    _bsum_xi_j = " + ".join(
        f"{b!r} * sin({2 * j}.0 * xi) * {_ch(f'{2 * j}.0 * eta')}"
        for j, b in enumerate(_tmj.beta, start=1)
    )
    _bsum_eta_j = " + ".join(
        f"{b!r} * cos({2 * j}.0 * xi) * {_sh(f'{2 * j}.0 * eta')}"
        for j, b in enumerate(_tmj.beta, start=1)
    )
    _dsum_j = " + ".join(
        f"{d!r} * sin({2 * j}.0 * chi)" for j, d in enumerate(_tmj.delta, 1)
    )
    sqls["warp_stateplane_nj"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0j!r} + (px + 0.5) * {g1j!r} AS E,
            {g3j!r} + (py + 0.5) * {g5j!r} AS N
          FROM pix
        ),
        xe AS (
          SELECT px, py, (N - {_tmj.false_n!r}) / {_kAj!r} AS xi,
                 (E - {_tmj.false_e!r}) / {_kAj!r} AS eta
          FROM en
        ),
        p1 AS (
          SELECT px, py,
            xi - ({_bsum_xi_j}) AS xip,
            eta - ({_bsum_eta_j}) AS etap
          FROM xe
        ),
        p2 AS (
          SELECT px, py, asin(sin(xip) / {_ch("etap")}) AS chi,
                 atan2({_sh("etap")}, cos(xip)) AS lam
          FROM p1
        ),
        ll AS (
          SELECT px, py,
            {_tmj.lon0!r} + degrees(lam) AS lon,
            degrees(chi + ({_dsum_j})) AS lat
          FROM p2
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE NULL END AS v
        FROM sp
    """

    # EPSG:3035 warp: ellipsoidal LAEA inverse (Snyder 24-26..24-34) +
    # the authalic-to-geodetic series (Snyder 3-18) — fully closed-form,
    # every constant from the same 3035 constructor as the Spark path.
    _la = _CRS.get_crs_transform(3035)
    _sb1 = float(np.sin(_la.beta1))
    _cb1 = float(np.cos(_la.beta1))
    _2rq = 2.0 * _la.Rq
    g0e, g1e, _, g3e, _, g5e = _LAEA_DST_GT
    sqls["warp_laea_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0e!r} + (px + 0.5) * {g1e!r} AS E,
            {g3e!r} + (py + 0.5) * {g5e!r} AS N
          FROM pix
        ),
        xy AS (
          -- the grid E/N values are binary-exact, so DOUBLE casts here
          -- are lossless (DuckDB otherwise keeps DECIMAL and overflows
          -- at yd*yd)
          SELECT px, py,
            CAST(E - {_la.false_e!r} AS DOUBLE) / {_la.D!r} AS xd,
            CAST(N - {_la.false_n!r} AS DOUBLE) * {_la.D!r} AS yd
          FROM en
        ),
        rh AS (
          SELECT px, py, xd, yd, sqrt(xd * xd + yd * yd) AS rho FROM xy
        ),
        cc AS (
          SELECT px, py, xd, yd, rho,
            2.0 * asin(least(greatest(rho / {_2rq!r}, -1.0), 1.0)) AS ce
          FROM rh
        ),
        bt AS (
          SELECT px, py,
            CASE WHEN rho = 0.0 THEN {_la.beta1!r}
                 ELSE asin(least(greatest(
                   cos(ce) * {_sb1!r} + yd * sin(ce) * {_cb1!r} / rho,
                   -1.0), 1.0))
            END AS beta,
            atan2(xd * sin(ce),
                  rho * {_cb1!r} * cos(ce) - yd * {_sb1!r} * sin(ce)) AS lam
          FROM cc
        ),
        ll AS (
          SELECT px, py,
            {_la.lon0!r} + degrees(lam) AS lon,
            degrees(beta + {_la.c2!r} * sin(2.0 * beta)
                         + {_la.c4!r} * sin(4.0 * beta)
                         + {_la.c6!r} * sin(6.0 * beta)) AS lat
          FROM bt
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE 0 END AS v
        FROM sp
    """

    # EPSG:30200 warp: Cassini-Soldner inverse (GN7-2 §1.4.4 / Snyder
    # §13) — footpoint latitude by the rectifying series, then the D
    # polynomial; fully closed-form, every constant from the SAME 30200
    # constructor, every expression in numpy's op order.
    _cs = _CRS.get_crs_transform(30200)
    _cs_am0 = _cs.a * _cs.m0
    _cs_a1me2 = _cs.a * (1.0 - _cs.e2)
    g0c, g1c, _, g3c, _, g5c = _CASS_DST_GT
    sqls["warp_cassini_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0c!r} + (px + 0.5) * {g1c!r} AS E,
            {g3c!r} + (py + 0.5) * {g5c!r} AS N
          FROM pix
        ),
        fp AS (
          SELECT px, py, E,
            ({_cs.M0!r} + (N - {_cs.false_n!r})) / {_cs_am0!r} AS mu1
          FROM en
        ),
        p1 AS (
          SELECT px, py, E,
            mu1 + {_cs.j2!r} * sin(2.0 * mu1)
                + {_cs.j4!r} * sin(4.0 * mu1)
                + {_cs.j6!r} * sin(6.0 * mu1)
                + {_cs.j8!r} * sin(8.0 * mu1) AS phi1
          FROM fp
        ),
        tw AS (
          SELECT px, py, E, phi1,
            tan(phi1) AS t1,
            1.0 - {_cs.e2!r} * sin(phi1) * sin(phi1) AS w
          FROM p1
        ),
        dd AS (
          SELECT px, py, phi1, t1, t1 * t1 AS T1,
            {_cs.a!r} / sqrt(w) AS nu1,
            {_cs_a1me2!r} / (w * sqrt(w)) AS rho1,
            (E - {_cs.false_e!r}) / ({_cs.a!r} / sqrt(w)) AS D
          FROM tw
        ),
        pw AS (
          SELECT px, py, phi1, t1, T1, nu1, rho1, D,
            D * D AS D2, (D * D) * D AS D3,
            (D * D) * (D * D) AS D4, ((D * D) * (D * D)) * D AS D5
          FROM dd
        ),
        ll AS (
          SELECT px, py,
            {_cs.lon0!r} + degrees(
              (D - T1 * D3 / 3.0
                 + (1.0 + 3.0 * T1) * T1 * D5 / 15.0) / cos(phi1)) AS lon,
            degrees(phi1 - (nu1 * t1 / rho1)
                    * (D2 / 2.0 - (1.0 + 3.0 * T1) * D4 / 24.0)) AS lat
          FROM pw
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE 0 END AS v
        FROM sp
    """

    # EPSG:29101 warp: American Polyconic inverse (Snyder 18-18..18-21)
    # — the 10-step Newton-Raphson unrolled as CTE pairs (intermediates
    # s2/C/Ma/Mp in one, the phi update in the next), every expression
    # in numpy's op order, every constant from the SAME 29101
    # constructor.
    _po = _CRS.get_crs_transform(29101)
    _po_aa = _po.a * _po.a
    g0p2, g1p2, _, g3p2, _, g5p2 = _POLY_DST_GT

    def _poly_step(k: int) -> str:
        src = "pp0" if k == 1 else f"pu{k - 1}"
        return f"""
        pi{k} AS (
          SELECT px, py, xg, A, B, phi,
            sin(2.0 * phi) AS s2,
            sqrt(1.0 - {_po.e2!r} * sin(phi) * sin(phi)) * tan(phi) AS C,
            {_po.m0!r} * phi - {_po.m1!r} * sin(2.0 * phi)
              + {_po.m2!r} * sin(4.0 * phi)
              - {_po.m3!r} * sin(6.0 * phi) AS Ma,
            {_po.m0!r} - 2.0 * {_po.m1!r} * cos(2.0 * phi)
              + 4.0 * {_po.m2!r} * cos(4.0 * phi)
              - 6.0 * {_po.m3!r} * cos(6.0 * phi) AS Mp
          FROM {src}
        ),
        pu{k} AS (
          SELECT px, py, xg, A, B,
            phi - (A * (C * Ma + 1.0) - Ma - 0.5 * (Ma * Ma + B) * C)
                / ({_po.e2!r} * s2 * (Ma * Ma + B - 2.0 * A * Ma)
                     / (4.0 * C)
                   + (A - Ma) * (C * Mp - 2.0 / s2) - Mp) AS phi
          FROM pi{k}
        )"""

    _poly_ctes = ",".join(_poly_step(k) for k in range(1, _po.ITERS + 1))
    sqls["warp_polyconic_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0p2!r} + (px + 0.5) * {g1p2!r} AS E,
            {g3p2!r} + (py + 0.5) * {g5p2!r} AS N
          FROM pix
        ),
        pp0 AS (
          SELECT px, py,
            E - {_po.false_e!r} AS xg,
            ({_po.M0!r} + (N - {_po.false_n!r})) / {_po.a!r} AS A,
            (E - {_po.false_e!r}) * (E - {_po.false_e!r}) / {_po_aa!r}
              + (({_po.M0!r} + (N - {_po.false_n!r})) / {_po.a!r})
                * (({_po.M0!r} + (N - {_po.false_n!r})) / {_po.a!r}) AS B,
            ({_po.M0!r} + (N - {_po.false_n!r})) / {_po.a!r} AS phi
          FROM en
        ),{_poly_ctes},
        fin AS (
          SELECT px, py,
            asin(least(greatest(
              xg * (sqrt(1.0 - {_po.e2!r} * sin(phi) * sin(phi))
                    * tan(phi)) / {_po.a!r}, -1.0), 1.0)) / sin(phi)
              AS lam,
            phi
          FROM pu{_po.ITERS}
        ),
        ll AS (
          SELECT px, py,
            {_po.lon0!r} + degrees(lam) AS lon,
            degrees(phi) AS lat
          FROM fin
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE 0 END AS v
        FROM sp
    """

    # EPSG:3395 warp: ellipsoidal Mercator inverse — the isometric-
    # latitude fixed point unrolled to the class's 10 steps, numpy op
    # order mirrored.
    _me = _CRS.get_crs_transform(3395)
    g0m, g1m, _, g3m, _, g5m = _MERC3395_DST_GT
    _me_step = (
        "SELECT px, py, lam, psi, "
        "2.0 * atan(exp(psi + {e} / 2.0 * ln((1.0 + {e} * sin(phi)) "
        "/ (1.0 - {e} * sin(phi))))) - pi() / 2.0 AS phi FROM {src}"
    )
    _me_ctes = ",\n        ".join(
        f"me{k} AS ({_me_step.format(e=repr(float(_me.e)), src=('me0' if k == 1 else f'me{k - 1}'))})"
        for k in range(1, _me.ISO_ITERS + 1)
    )
    sqls["warp_mercator_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0m!r} + (px + 0.5) * {g1m!r} AS E,
            {g3m!r} + (py + 0.5) * {g5m!r} AS N
          FROM pix
        ),
        me0 AS (
          SELECT px, py,
            (E - {_me.false_e!r}) / {_me.ak!r} AS lam,
            (N - {_me.false_n!r}) / {_me.ak!r} AS psi,
            2.0 * atan(exp((N - {_me.false_n!r}) / {_me.ak!r}))
              - pi() / 2.0 AS phi
          FROM en
        ),
        {_me_ctes},
        ll AS (
          SELECT px, py,
            {_me.lon0!r} + degrees(lam) AS lon,
            degrees(phi) AS lat
          FROM me{_me.ISO_ITERS}
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE 0 END AS v
        FROM sp
    """

    # EPSG:4087 warp: equidistant-cylindrical inverse — closed-form
    # rectifying footpoint series (Snyder 3-26), numpy op order.
    _eq = _CRS.get_crs_transform(4087)
    _eq_am0 = _eq.a * _eq.m0
    g0q, g1q, _, g3q, _, g5q = _EQC_DST_GT
    sqls["warp_eqc_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0q!r} + (px + 0.5) * {g1q!r} AS E,
            {g3q!r} + (py + 0.5) * {g5q!r} AS N
          FROM pix
        ),
        fp AS (
          SELECT px, py, E,
            (N - {_eq.false_n!r}) / {_eq_am0!r} AS mu
          FROM en
        ),
        ll AS (
          SELECT px, py,
            {_eq.lon0!r} + degrees(
              (E - {_eq.false_e!r}) / {_eq.R_ts!r}) AS lon,
            degrees(mu + {_eq.j2!r} * sin(2.0 * mu)
                       + {_eq.j4!r} * sin(4.0 * mu)
                       + {_eq.j6!r} * sin(6.0 * mu)
                       + {_eq.j8!r} * sin(8.0 * mu)) AS lat
          FROM fp
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE 0 END AS v
        FROM sp
    """

    # EPSG:32661 warp: UPS North — the 3031 fixed-point scheme through
    # the k0 = 0.994 rho-factor, north branch (no negation), false
    # origin subtracted first (exact: 2e6 and the grid are binary-exact).
    _up = _CRS.get_crs_transform(32661)
    _uf, _ue = float(_up._rho_factor), float(_up.e)
    g0u2, g1u2, _, g3u2, _, g5u2 = _UPS_DST_GT
    _up_iters = "".join(
        f""",
        ut{k} AS (
          SELECT px, py, t, lam,
            pi()/2.0 - 2.0 * atan(t * pow(
              (1.0 - {_ue!r} * sin(phi)) / (1.0 + {_ue!r} * sin(phi)),
              {_ue / 2.0!r})) AS phi
          FROM ut{k - 1}
        )"""
        for k in range(1, 11)
    )
    sqls["warp_ups_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            CAST({g0u2!r} + (px + 0.5) * {g1u2!r} - 2000000.0
                 AS DOUBLE) AS E,
            CAST({g3u2!r} + (py + 0.5) * {g5u2!r} - 2000000.0
                 AS DOUBLE) AS N
          FROM pix
        ),
        base AS (
          SELECT px, py,
            sqrt(E * E + N * N) / {_uf!r} AS t,
            atan2(E, -N) AS lam
          FROM en
        ),
        ut0 AS (
          SELECT px, py, t, lam, pi()/2.0 - 2.0 * atan(t) AS phi FROM base
        ){_up_iters},
        ll AS (
          SELECT px, py, degrees(lam) AS lon, degrees(phi) AS lat
          FROM ut10
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE 0 END AS v
        FROM sp
    """

    # EPSG:29873 warp: Hotine Oblique Mercator variant-B inverse (GN7-2
    # §1.3.6) — skew rotation, the Q/S/T/V/U aposphere chain, the 1/B
    # power, then the conformal-latitude fixed point unrolled 10 steps.
    # Every constant from the SAME 29873 constructor; trig of the
    # constants injected as the identical Python doubles.
    _om = _CRS.get_crs_transform(29873)
    _om_cgc = float(np.cos(_om.gc))
    _om_sgc = float(np.sin(_om.gc))
    _om_cg0 = float(np.cos(_om.gamma0))
    _om_sg0 = float(np.sin(_om.gamma0))
    _om_ucoff = float(np.abs(_om.uc) * np.sign(_om.uc))
    _om_invB = 1.0 / _om.B
    _om_e2h = float(_om.e / 2.0)
    g0o, g1o, _, g3o, _, g5o = _OMERC_DST_GT
    _om_step = (
        "SELECT px, py, S, V, up, "
        "pi() / 2.0 - 2.0 * atan(t * pow((1.0 - {e} * sin(phi)) "
        "/ (1.0 + {e} * sin(phi)), {eh})) AS phi, t FROM {src}"
    )
    _om_ctes = ",\n        ".join(
        f"om{k} AS ({_om_step.format(e=repr(float(_om.e)), eh=repr(_om_e2h), src=('om0' if k == 1 else f'om{k - 1}'))})"
        for k in range(1, _om.ISO_ITERS + 1)
    )
    sqls["warp_omerc_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          -- grid E/N values are binary-exact; DOUBLE casts are lossless
          -- (DuckDB otherwise keeps DECIMAL and overflows in the skew
          -- rotation products)
          SELECT px, py,
            CAST({g0o!r} + (px + 0.5) * {g1o!r} - {_om.false_e!r}
                 AS DOUBLE) AS dE,
            CAST({g3o!r} + (py + 0.5) * {g5o!r} - {_om.false_n!r}
                 AS DOUBLE) AS dN
          FROM pix
        ),
        sk AS (
          SELECT px, py,
            dE * {_om_cgc!r} - dN * {_om_sgc!r} AS vp,
            dN * {_om_cgc!r} + dE * {_om_sgc!r} + {_om_ucoff!r} AS up
          FROM en
        ),
        qq AS (
          SELECT px, py, up,
            exp(-({_om.B!r} * vp / {_om.A!r})) AS Q,
            sin({_om.B!r} * up / {_om.A!r}) AS V
          FROM sk
        ),
        st AS (
          SELECT px, py, up, V,
            (Q - 1.0 / Q) / 2.0 AS S,
            (Q + 1.0 / Q) / 2.0 AS T
          FROM qq
        ),
        uu AS (
          SELECT px, py, up, V, S,
            (V * {_om_cg0!r} + S * {_om_sg0!r}) / T AS U
          FROM st
        ),
        om0 AS (
          SELECT px, py, S, V, up,
            pi() / 2.0 - 2.0 * atan(
              pow({_om.H!r} / sqrt((1.0 + U) / (1.0 - U)),
                  {_om_invB!r})) AS phi,
            pow({_om.H!r} / sqrt((1.0 + U) / (1.0 - U)),
                {_om_invB!r}) AS t
          FROM uu
        ),
        {_om_ctes},
        ll AS (
          SELECT px, py,
            degrees({_om.lam0!r} - atan2(
              S * {_om_cg0!r} - V * {_om_sg0!r},
              cos({_om.B!r} * up / {_om.A!r})) / {_om.B!r}) AS lon,
            degrees(phi) AS lat
          FROM om{_om.ISO_ITERS}
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE 0 END AS v
        FROM sp
    """

    # EPSG:28992 warp: oblique-stereographic GN7-2 g/h/i/j inverse on the
    # Gauss sphere, the 6-step unrolled isometric-latitude fixed point,
    # then Bessel ECEF -> FULL 7-param Amersfoort Helmert -> Bowring ->
    # WGS84 -> src pixel. Constants from the same 28992 constructor.
    _rd = _CRS.get_crs_transform(28992)
    _rk2 = 2.0 * _rd.R * _rd.k0
    _gq = float(_rk2 * np.tan(np.pi / 4.0 - _rd.chi0 / 2.0))
    _hq = float(2.0 * _rk2 * np.tan(_rd.chi0) + _gq)
    _re = float(_rd.e)
    _rlnc2 = 0.5 * float(np.log(_rd.c))
    _ba_r, _bf_r = _CRS.ELLIPSOIDS["bessel"]
    _be2_r = _bf_r * (2.0 - _bf_r)
    _am = _CRS.TOWGS84["AMERSFOORT"]
    _asec_r = np.pi / (180.0 * 3600.0)
    _rxr, _ryr, _rzr = (_am[3] * _asec_r, _am[4] * _asec_r, _am[5] * _asec_r)
    _mmr = 1.0 + _am[6] * 1e-6
    _wa_r, _wf_r = _CRS.ELLIPSOIDS["WGS84"]
    _wb_r = _wa_r * (1.0 - _wf_r)
    _we2_r = _wf_r * (2.0 - _wf_r)
    _wep2_r = _we2_r / (1.0 - _we2_r)
    g0r, g1r, _, g3r, _, g5r = _RD_DST_GT
    _iso_step = (
        "SELECT px, py, lon, psi, 2.0 * atan(exp(psi + {e} / 2.0 * "
        "ln((1.0 + {e} * sin(phi)) / (1.0 - {e} * sin(phi))))) "
        "- pi() / 2.0 AS phi FROM {src}"
    )
    _iso_ctes = ",\n        ".join(
        f"it{k} AS ({_iso_step.format(e=repr(_re), src=('p0' if k == 1 else f'it{k - 1}'))})"
        for k in range(1, _rd.ISO_ITERS + 1)
    )
    sqls["warp_rdnew_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            {g0r!r} + (px + 0.5) * {g1r!r} AS Ep0,
            {g3r!r} + (py + 0.5) * {g5r!r} AS Np0
          FROM pix
        ),
        d1 AS (
          SELECT px, py, Ep0 - {_rd.false_e!r} AS Ep,
                 Np0 - {_rd.false_n!r} AS Np
          FROM en
        ),
        d2 AS (
          SELECT px, py, Ep, Np,
            atan2(Ep, {_hq!r} + Np) AS i,
            atan2(Ep, {_gq!r} - Np) - atan2(Ep, {_hq!r} + Np) AS j
          FROM d1
        ),
        d3 AS (
          SELECT px, py,
            {_rd.chi0!r} + 2.0 * atan((Np - Ep * tan(j / 2.0))
                                      / {_rk2!r}) AS chi,
            j + 2.0 * i AS lam
          FROM d2
        ),
        d4 AS (
          SELECT px, py,
            {_rd.lon0!r} + degrees(lam / {_rd.n!r}) AS lon,
            (ln(tan(pi() / 4.0 + chi / 2.0)) - {_rlnc2!r})
              / {_rd.n!r} AS psi
          FROM d3
        ),
        p0 AS (
          SELECT px, py, lon, psi,
                 2.0 * atan(exp(psi)) - pi() / 2.0 AS phi
          FROM d4
        ),
        {_iso_ctes},
        gl AS (
          SELECT px, py, lon AS glon, degrees(phi) AS glat
          FROM it{_rd.ISO_ITERS}
        ),
        tri AS (
          SELECT px, py, radians(glon) AS lam2,
                 sin(radians(glat)) AS sp, cos(radians(glat)) AS cp
          FROM gl
        ),
        nuc AS (
          SELECT px, py, lam2, sp, cp,
                 {_ba_r!r} / sqrt(1.0 - {_be2_r!r} * sp * sp) AS nu
          FROM tri
        ),
        ec AS (
          SELECT px, py,
            nu * cp * cos(lam2) AS X,
            nu * cp * sin(lam2) AS Y,
            nu * {1.0 - _be2_r!r} * sp AS Z
          FROM nuc
        ),
        hel AS (
          SELECT px, py,
            {_am[0]!r} + {_mmr!r} * (X - {_rzr!r} * Y + {_ryr!r} * Z) AS X,
            {_am[1]!r} + {_mmr!r} * ({_rzr!r} * X + Y - {_rxr!r} * Z) AS Y,
            {_am[2]!r} + {_mmr!r} * (-{_ryr!r} * X + {_rxr!r} * Y + Z) AS Z
          FROM ec
        ),
        bow AS (
          SELECT px, py, X, Y, Z, sqrt(X * X + Y * Y) AS p,
                 atan2(Z * {_wa_r!r}, sqrt(X * X + Y * Y) * {_wb_r!r}) AS u
          FROM hel
        ),
        ll AS (
          SELECT px, py,
            degrees(atan2(Y, X)) AS lon,
            degrees(atan2(
              Z + {_wep2_r!r} * {_wb_r!r} * sin(u) * sin(u) * sin(u),
              p - {_we2_r!r} * {_wa_r!r} * cos(u) * cos(u) * cos(u))) AS lat
          FROM bow
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE 0 END AS v
        FROM sp
    """

    # EPSG:5514 warp: Krovak GN7-2 inverse (oblique conformal conic via
    # the conformal sphere), 6-step conformal-latitude fixed point, then
    # Bessel ECEF -> 3-param S-JTSK Helmert (exact: zero rotation terms)
    # -> Bowring -> WGS84 -> src pixel.
    _kv = _CRS.get_crs_transform(5514)
    _kca = float(np.cos(_kv.alpha_c))
    _ksa = float(np.sin(_kv.alpha_c))
    _kinvn = 1.0 / _kv.n
    _kinvb = 1.0 / _kv.B
    _kbase = float((1.0 / _kv.t0) ** (1.0 / _kv.B))
    _ke = float(_kv.e)
    _ke2_v = _kv.e2
    _ka_v = _kv.a
    _sj = _CRS.TOWGS84["S_JTSK"]
    g0k, g1k, _, g3k, _, g5k = _KROVAK_DST_GT
    _kv_step = (
        "SELECT px, py, lon, base, 2.0 * (atan(base * pow((1.0 + {e} * "
        "sin(phi)) / (1.0 - {e} * sin(phi)), {e} / 2.0)) - pi() / 4.0) "
        "AS phi FROM {src}"
    )
    _kv_ctes = ",\n        ".join(
        f"kt{k} AS ({_kv_step.format(e=repr(_ke), src=('k0' if k == 1 else f'kt{k - 1}'))})"
        for k in range(1, _kv.ISO_ITERS + 1)
    )
    sqls["warp_krovak_nearest"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        en AS (
          SELECT px, py,
            CAST({g0k!r} + (px + 0.5) * {g1k!r} AS DOUBLE) AS E,
            CAST({g3k!r} + (py + 0.5) * {g5k!r} AS DOUBLE) AS N
          FROM pix
        ),
        sw AS (
          SELECT px, py, -N AS Xs, -E AS Yw FROM en
        ),
        rt AS (
          SELECT px, py,
            sqrt(Xs * Xs + Yw * Yw) AS r,
            atan2(Yw, Xs) AS theta
          FROM sw
        ),
        td AS (
          SELECT px, py, theta / {_kv.n!r} AS D,
            2.0 * (atan(pow({_kv.r0!r} / r, {_kinvn!r})
                        * {_kv._tanpp!r}) - pi() / 4.0) AS T
          FROM rt
        ),
        uu AS (
          SELECT px, py, D, T,
            asin({_kca!r} * sin(T) - {_ksa!r} * cos(T) * cos(D)) AS U
          FROM td
        ),
        vv AS (
          SELECT px, py, U,
            asin(cos(T) * sin(D) / cos(U)) AS V
          FROM uu
        ),
        k0 AS (
          SELECT px, py,
            {_kv.lon0!r} - degrees(V / {_kv.B!r}) AS lon,
            {_kbase!r} * pow(tan(U / 2.0 + pi() / 4.0), {_kinvb!r}) AS base,
            U AS phi
          FROM vv
        ),
        {_kv_ctes},
        gl AS (
          SELECT px, py, lon AS glon, degrees(phi) AS glat
          FROM kt{_kv.ISO_ITERS}
        ),
        tri AS (
          SELECT px, py, radians(glon) AS lam2,
                 sin(radians(glat)) AS sp, cos(radians(glat)) AS cp
          FROM gl
        ),
        nuc AS (
          SELECT px, py, lam2, sp, cp,
                 {_ka_v!r} / sqrt(1.0 - {_ke2_v!r} * sp * sp) AS nu
          FROM tri
        ),
        ec AS (
          -- 3-param Helmert: rotation/scale terms are exact zeros in
          -- helmert_apply, so X' = dx + X etc. bit-for-bit
          SELECT px, py,
            {_sj[0]!r} + nu * cp * cos(lam2) AS X,
            {_sj[1]!r} + nu * cp * sin(lam2) AS Y,
            {_sj[2]!r} + nu * {1.0 - _ke2_v!r} * sp AS Z
          FROM nuc
        ),
        bow AS (
          SELECT px, py, X, Y, Z, sqrt(X * X + Y * Y) AS p,
                 atan2(Z * {_wa_r!r}, sqrt(X * X + Y * Y) * {_wb_r!r}) AS u
          FROM ec
        ),
        ll AS (
          SELECT px, py,
            degrees(atan2(Y, X)) AS lon,
            degrees(atan2(
              Z + {_wep2_r!r} * {_wb_r!r} * sin(u) * sin(u) * sin(u),
              p - {_we2_r!r} * {_wa_r!r} * cos(u) * cos(u) * cos(u))) AS lat
          FROM bow
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(({_winv[0]!r} + lon * {_winv[1]!r} + lat * {_winv[2]!r})
                       + 1e-10) AS BIGINT) AS sx,
            CAST(floor(({_winv[3]!r} + lon * {_winv[4]!r} + lat * {_winv[5]!r})
                       + 1e-10) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CASE WHEN sx BETWEEN 0 AND 255 AND sy BETWEEN 0 AND 255
                    THEN CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0
                              + 128.0) AS BIGINT)
                    ELSE 0 END AS v
        FROM sp
    """

    # NAD27 -> WGS84 datum shift: geodetic -> Clarke-1866 ECEF -> 3-param
    # Helmert -> Bowring single-step -> WGS84 geodetic, every constant and
    # operation order mirroring functions/crs.py (geodetic_to_ecef /
    # helmert_apply / ecef_to_geodetic).
    _ca, _cf = _CRS.ELLIPSOIDS["clrk66"]
    _ce2 = _cf * (2.0 - _cf)
    _dx, _dy, _dz = _CRS.TOWGS84["NAD27"]
    _wa, _wf = _CRS.ELLIPSOIDS["WGS84"]
    _wb = _wa * (1.0 - _wf)
    _we2 = _wf * (2.0 - _wf)
    _wep2 = _we2 / (1.0 - _we2)
    sqls["warp_datum_shift"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        rad AS (
          SELECT pid, radians(lon) AS lam, radians(lat) AS phi
          FROM pts WHERE pid < 3000
        ),
        tri AS (
          SELECT pid, lam, sin(phi) AS sp, cos(phi) AS cp FROM rad
        ),
        nu AS (
          SELECT pid, lam, sp, cp,
                 {_ca!r} / sqrt(1.0 - {_ce2!r} * sp * sp) AS nu
          FROM tri
        ),
        ecef AS (
          -- 3-param Helmert: the rotation/scale terms are exact zeros in
          -- helmert_apply, so X' = dx + X etc. bit-for-bit
          SELECT pid,
            {_dx!r} + nu * cp * cos(lam) AS X,
            {_dy!r} + nu * cp * sin(lam) AS Y,
            {_dz!r} + nu * {1.0 - _ce2!r} * sp AS Z
          FROM nu
        ),
        bow AS (
          SELECT pid, X, Y, Z, sqrt(X * X + Y * Y) AS p,
                 atan2(Z * {_wa!r}, sqrt(X * X + Y * Y) * {_wb!r}) AS u
          FROM ecef
        ),
        geo AS (
          SELECT pid,
            degrees(atan2(Y, X)) AS lon,
            degrees(atan2(Z + {_wep2!r} * {_wb!r} * sin(u) * sin(u) * sin(u),
                          p - {_we2!r} * {_wa!r} * cos(u) * cos(u) * cos(u)))
              AS lat
          FROM bow
        )
        SELECT pid AS fid,
               floor(lon * 1e7 + 0.5) / 1e7 AS lon,
               floor(lat * 1e7 + 0.5) / 1e7 AS lat
        FROM geo
    """

    _fixture_vals = {
        "gradient256": ("(px + py) // 2", 256),
        "world4326": ("trunc((sin(px * 0.19) + cos(py * 0.13)) * 60.0 + 128.0)",
                      256),
        "checker64": ("CASE WHEN ((px // 8 + py // 8) % 2) = 0 "
                      "THEN 20 ELSE 235 END", 64),
    }

    def _fix_pix(expr: str, n: int) -> str:
        return (
            f"SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py, "
            f"CAST({expr} AS DOUBLE) AS v "
            f"FROM generate_series(0, {n - 1}) x(px) "
            f"CROSS JOIN generate_series(0, {n - 1}) y(py)"
        )

    stat_parts = []
    for rid, (expr, n) in _fixture_vals.items():
        stat_parts.append(f"""
          SELECT '{rid}' AS raster_id, CAST(count(*) AS BIGINT) AS n,
                 min(v) AS min, max(v) AS max,
                 round(sum(v) / count(*), 6) AS mean,
                 round(sqrt(greatest(
                   sum(v * v) / count(*)
                   - (sum(v) / count(*)) * (sum(v) / count(*)), 0.0)), 6)
                   AS stddev
          FROM ({_fix_pix(expr, n)})
        """)
    sqls["band_stats"] = " UNION ALL ".join(stat_parts)

    sqls["band_histogram"] = f"""
        SELECT CAST(floor(v / 16.0) AS INTEGER) AS bucket,
               CAST(count(*) AS BIGINT) AS count
        FROM ({_fix_pix("(px + py) // 2", 256)})
        GROUP BY 1
    """

    # hypsometric: per-band counts over the closed-form world4326, then
    # the at-or-above cumulative fraction (int64 counts divide exactly).
    sqls["hypsometric"] = f"""
        WITH h AS (
          SELECT CAST(floor(v / 8.0) AS INTEGER) AS bucket,
                 CAST(count(*) AS BIGINT) AS count
          FROM ({_fix_pix(_fixture_vals["world4326"][0], 256)})
          GROUP BY 1
        )
        SELECT bucket, count,
               0.0 + bucket * 8.0 AS elev_lo,
               round(
                 sum(count) OVER (ORDER BY bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / CAST(sum(count) OVER () AS DOUBLE), 9) AS frac_above
        FROM h
    """

    _cw = [-0.0234375, -0.0703125, 0.2265625, 0.8671875,
           0.8671875, 0.2265625, -0.0703125, -0.0234375]
    _wk = "CASE k " + " ".join(
        f"WHEN {i} THEN {w!r}" for i, w in enumerate(_cw)) + " END"
    _wm = "CASE m " + " ".join(
        f"WHEN {i} THEN {w!r}" for i, w in enumerate(_cw)) + " END"
    sqls["pyramid_cubic_l1"] = f"""
        WITH d AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(2, 125) x(px) CROSS JOIN generate_series(2, 125) y(py)
        ),
        t AS (
          SELECT px, py, k.k, m.m,
                 ({_wk}) * ({_wm})
                   * ((2 * px + k.k - 3 + 2 * py + m.m - 3) // 2) AS term
          FROM d CROSS JOIN generate_series(0, 7) k(k)
                 CROSS JOIN generate_series(0, 7) m(m)
        )
        SELECT px, py,
               CAST(floor(sum(term) / 4.0 + 0.5) AS BIGINT) AS v
        FROM t GROUP BY px, py
    """

    sqls["translate_cubic"] = f"""
        WITH d AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(2, 93) x(px) CROSS JOIN generate_series(2, 93) y(py)
        ),
        t AS (
          SELECT px, py,
                 ({_wk}) * ({_wm})
                   * ((16 + 2 * px + k.k - 3 + 16 + 2 * py + m.m - 3) // 2)
                   AS term
          FROM d CROSS JOIN generate_series(0, 7) k(k)
                 CROSS JOIN generate_series(0, 7) m(m)
        )
        SELECT px, py, CAST(sum(term) / 4.0 AS DOUBLE) AS v
        FROM t GROUP BY px, py
    """

    sqls["grid_linear"] = """
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               round(2.0 * (-180.0 + (x.px + 0.5) * 5.625)
                     + 3.0 * (90.0 - (y.py + 0.5) * 2.8125), 6) AS v
        FROM generate_series(6, 57) x(px) CROSS JOIN generate_series(8, 55) y(py)
    """

    sqls["grid_invdistnn"] = f"""
        WITH pts AS (
          SELECT pid, lon AS x, lat AS y, CAST(pid % 97 AS DOUBLE) AS v
          FROM ({_POINTS_SQL})
        ),
        pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
                 -180.0 + (x.px + 0.5) * 5.625 AS cx,
                 90.0 + (y.py + 0.5) * -2.8125 AS cy
          FROM generate_series(0, 63) x(px) CROSS JOIN generate_series(0, 63) y(py)
        ),
        cand AS (
          SELECT px, py, pid, v,
                 (cx - x) * (cx - x) + (cy - y) * (cy - y) AS d2
          FROM pix CROSS JOIN pts
          WHERE (cx - x) * (cx - x) + (cy - y) * (cy - y) <= 225.0
        ),
        rk AS (
          SELECT *, row_number() OVER (
            PARTITION BY px, py ORDER BY d2 ASC, pid ASC) AS r
          FROM cand
        ),
        agg AS (
          SELECT px, py, round(sum(v / d2) / sum(1.0 / d2), 4) AS v
          FROM rk WHERE r <= 6 GROUP BY px, py
        )
        SELECT p.px, p.py, coalesce(a.v, -1.0) AS v
        FROM pix p LEFT JOIN agg a ON p.px = a.px AND p.py = a.py
    """

    sqls["grid_kriging"] = _kriging_oracle_sql()
    sqls["grid_gwr"] = _gwr_oracle_sql()

    at_parts = []
    for mid, (mnx, mny, mxx, mxy) in METHOD_BOXES.items():
        px0 = math.floor((mnx + 180.0) / 1.40625)
        px1 = math.ceil((mxx + 180.0) / 1.40625) - 1
        py0 = math.floor((90.0 - mxy) / 0.703125)
        py1 = math.ceil((90.0 - mny) / 0.703125) - 1
        at_parts.append(
            f"SELECT x.px, y.py, CAST({mid} AS DOUBLE) AS burn "
            f"FROM generate_series({px0}, {px1}) x(px) "
            f"CROSS JOIN generate_series({py0}, {py1}) y(py)"
        )
    sqls["rasterize_alltouched"] = f"""
        WITH burned AS ({" UNION ALL ".join(at_parts)})
        SELECT CAST(px // 64 AS INTEGER) AS tile_x,
               CAST(py // 64 AS INTEGER) AS tile_y,
               burn, CAST(count(*) AS BIGINT) AS n_pixels
        FROM burned GROUP BY 1, 2, 3
    """

    seg_sqls = []
    fl = [(int(math.floor(a)), int(math.floor(b))) for a, b in _LINE_PIX]
    (x0, y0), (x1, y1), (x2, y2), (x3, y3) = fl
    seg_sqls.append(
        f"SELECT CAST(i AS BIGINT) AS px, CAST({y0} AS BIGINT) AS py "
        f"FROM generate_series({x0}, {x1}) t(i)"
    )
    seg_sqls.append(
        f"SELECT CAST({x1} AS BIGINT), CAST(i AS BIGINT) "
        f"FROM generate_series({y1}, {y2}) t(i)"
    )
    seg_sqls.append(
        f"SELECT CAST({x2} + i AS BIGINT), CAST({y2} + i AS BIGINT) "
        f"FROM generate_series(0, {x3 - x2}) t(i)"
    )
    sqls["rasterize_line"] = (
        "SELECT DISTINCT px, py FROM ("
        + " UNION ALL ".join(seg_sqls) + ") t(px, py)"
    )

    sqls["rasterize_points"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        px AS (
          SELECT pid,
            CAST(floor((lon - (-180.0)) / 1.40625) AS BIGINT) AS px,
            CAST(floor((lat - 90.0) / (-0.703125)) AS BIGINT) AS py,
            CAST((pid % 50) + 1 AS DOUBLE) AS burn
          FROM pts
        )
        SELECT px, py, CAST(arg_max(burn, pid) AS BIGINT) AS v
        FROM px
        WHERE px >= 0 AND px < 256 AND py >= 0 AND py < 256
        GROUP BY px, py
    """

    mnx, mny, mxx, mxy = METHOD_BOXES[10]
    _buf_area = round(4.0 * 3.0 + 2.0 * (4.0 + 3.0)
                      + 16.0 * math.sin(math.pi / 16.0), 6)
    # min_rotated_rect: same vertex literals (single-sourced from
    # POLYGONS), all-pair directions, identical projection/extent/area
    # float chain and (area, pair-key) argmin.
    _mrr_vals = ", ".join(
        f"({fid}, {i}, {x!r}, {y!r})"
        for fid, vs in POLYGONS.items()
        for i, (x, y) in enumerate(vs))
    sqls["min_rotated_rect"] = f"""
        WITH verts AS (
          SELECT * FROM (VALUES {_mrr_vals}) t(fid, idx, x, y)
        ),
        dirs AS (
          SELECT a.fid, a.idx * 65536 + b.idx AS e,
                 b.x - a.x AS dx, b.y - a.y AS dy
          FROM verts a JOIN verts b
            ON a.fid = b.fid AND a.idx < b.idx
          WHERE b.x - a.x <> 0 OR b.y - a.y <> 0
        ),
        pr AS (
          SELECT d.fid, d.e, d.dx, d.dy,
                 v.x * d.dx + v.y * d.dy AS u,
                 v.x * (-d.dy) + v.y * d.dx AS vv
          FROM dirs d JOIN verts v ON v.fid = d.fid
        ),
        ext AS (
          SELECT fid, e, dx, dy,
                 max(u) AS u1, min(u) AS u0,
                 max(vv) AS v1, min(vv) AS v0
          FROM pr GROUP BY 1, 2, 3, 4
        ),
        sc AS (
          SELECT fid, e,
                 (u1 - u0) / sqrt(dx * dx + dy * dy) AS w,
                 (v1 - v0) / sqrt(dx * dx + dy * dy) AS h,
                 ((u1 - u0) / sqrt(dx * dx + dy * dy))
                 * ((v1 - v0) / sqrt(dx * dx + dy * dy)) AS area
          FROM ext
        ),
        best AS (
          SELECT fid, area, w, h,
                 row_number() OVER (PARTITION BY fid
                                    ORDER BY area, e) AS rn
          FROM sc
        )
        SELECT fid, round(area, 9) AS area, round(w, 9) AS width,
               round(h, 9) AS height
        FROM best WHERE rn = 1
    """

    sqls["constructive_geom"] = f"""
        WITH pts AS ({_POINTS_SQL}),
        g AS (
          SELECT pid, lon, lat,
            greatest({mnx!r} - (lon + 2.0), (lon - 2.0) - {mxx!r}, 0.0) AS gx,
            greatest({mny!r} - (lat + 1.5), (lat - 1.5) - {mxy!r}, 0.0) AS gy
          FROM pts WHERE pid % 10 = 0
        )
        SELECT pid, round(sqrt(gx * gx + gy * gy), 6) AS dist,
               round(lon, 6) AS cx, round(lat, 6) AS cy,
               {_buf_area!r} AS buf_area
        FROM g
    """

    sqls["graph_sssp"] = """
        WITH RECURSIVE chain(node, cur, acc) AS (
          SELECT v AS node, v AS cur, CAST(0.0 AS DOUBLE) AS acc
          FROM generate_series(1, 255) t(v)
          UNION ALL
          SELECT node, cur // 2, acc + ((cur % 97) / 10.0 + 1.0)
          FROM chain WHERE cur > 0
        )
        SELECT CAST(node AS BIGINT) AS node,
               CAST(round(acc, 6) AS DOUBLE) AS dist
        FROM chain WHERE cur = 0
        UNION ALL
        SELECT 0, CAST(0.0 AS DOUBLE)
    """

    sqls["nearblack"] = """
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               CASE WHEN y.py < 4 OR x.px < 3 THEN 0.0
                    WHEN x.px >= 60 AND x.px < 64
                         AND y.py >= 60 AND y.py < 64 THEN 3.0
                    ELSE 200.0 END AS v
        FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
    """

    _primes = "[7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]"

    def _cksum(expr: str, n: int) -> str:
        return (
            f"SELECT CAST(sum(CAST({expr} AS BIGINT) % "
            f"list_extract({_primes}, CAST((py * {n} + px) % 11 AS INTEGER) + 1)"
            f") % 65536 AS INTEGER) "
            f"FROM generate_series(0, {n - 1}) x(px) "
            f"CROSS JOIN generate_series(0, {n - 1}) y(py)"
        )

    sqls["raster_pyramid_cksum"] = f"""
        SELECT CAST(0 AS INTEGER) AS zoom, ({_cksum("(px + py) // 2", 256)}) AS checksum
        UNION ALL
        SELECT 1, ({_cksum("px + py", 128)})
        UNION ALL
        SELECT 2, ({_cksum("2 * px + 2 * py + 1", 64)})
    """

    sqls["raster_pyramid"] = f"""
        SELECT 'gradient256' AS raster_id, CAST(1 AS INTEGER) AS band,
               CAST(0 AS INTEGER) AS zoom,
               ({_cksum("(px + py) // 2", 256)}) AS checksum
        UNION ALL
        SELECT 'gradient256', 1, 1, ({_cksum("px + py", 128)})
        UNION ALL
        SELECT 'gradient256', 1, 2, ({_cksum("2 * px + 2 * py + 1", 64)})
    """

    ck_parts = ["SELECT 'byte20' AS raster_id, CAST(1 AS INTEGER) AS band, "
                "CAST(0 AS INTEGER) AS zoom, CAST(4672 AS INTEGER) AS checksum"]
    for rid, (expr, n) in _fixture_vals.items():
        ck_parts.append(
            f"SELECT '{rid}', 1, 0, ({_cksum(expr, n)})"
        )
    sqls["raster_checksum"] = " UNION ALL ".join(ck_parts)

    # Complex fixtures: closed-form re/im words (sources/rasters.py
    # complex_field) — i = col = px, j = row = py.
    _cre = "(trunc(cos(px * 0.11) * 40.0) + (py % 17) * 3.0)"
    _cim = "(trunc(sin(py * 0.07) * 40.0) - (px % 13) * 2.0 - 1.0)"

    # checksum over interleaved words: word index w = (py*n + px)*2 (+1 for
    # the imaginary word); negative words need the double-mod to stay in
    # [0, 65536) like the two's-complement & 0xffff.
    _ckc = (
        f"SELECT CAST(((sum("
        f"  CAST({_cre} AS BIGINT) % list_extract({_primes}, "
        f"    CAST((2 * (py * 128 + px)) % 11 AS INTEGER) + 1)"
        f"  + CAST({_cim} AS BIGINT) % list_extract({_primes}, "
        f"    CAST((2 * (py * 128 + px) + 1) % 11 AS INTEGER) + 1)"
        f") % 65536) + 65536) % 65536 AS INTEGER) "
        f"FROM generate_series(0, 127) x(px) "
        f"CROSS JOIN generate_series(0, 127) y(py)"
    )
    sqls["raster_checksum_complex"] = " UNION ALL ".join(
        ["SELECT 'byte20_cfloat32' AS raster_id, CAST(5028 AS INTEGER) AS checksum",
         "SELECT 'byte20_cfloat64', 5028",
         "SELECT 'byte20_cint16', 5028",
         "SELECT 'byte20_cint32', 5028",
         f"SELECT 'cplx128', ({_ckc})"]
    )

    # AVERAGE_MAGPHASE level-1: the 2x2 box means go through float32
    # exactly as overview.cpp's float scanline buffers do.
    def _c(at: str, dj: int, di: int, expr: str) -> str:
        return (expr.replace("px", f"(2 * {at}px + {di})")
                    .replace("py", f"(2 * {at}py + {dj})"))

    _sumr = " + ".join(_c("", j, i, _cre) for j in (0, 1) for i in (0, 1))
    _sumi = " + ".join(_c("", j, i, _cim) for j in (0, 1) for i in (0, 1))
    _summ = " + ".join(
        f"sqrt(pow({_c('', j, i, _cre)}, 2) + pow({_c('', j, i, _cim)}, 2))"
        for j in (0, 1) for i in (0, 1)
    )
    sqls["pyramid_magphase_l1"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 63) x(px) CROSS JOIN generate_series(0, 63) y(py)
        ),
        mm AS (
          SELECT px, py,
            CAST(({_sumr}) / 4.0 AS FLOAT) AS mr,
            CAST(({_sumi}) / 4.0 AS FLOAT) AS mi,
            ({_summ}) / 4.0 AS desired
          FROM pix
        ),
        rr AS (
          SELECT px, py, mr, mi,
            CASE WHEN sqrt(CAST(mr AS DOUBLE) * CAST(mr AS DOUBLE)
                           + CAST(mi AS DOUBLE) * CAST(mi AS DOUBLE)) <> 0.0
                 THEN desired / sqrt(CAST(mr AS DOUBLE) * CAST(mr AS DOUBLE)
                                     + CAST(mi AS DOUBLE) * CAST(mi AS DOUBLE))
                 ELSE 1.0 END AS ratio
          FROM mm
        )
        SELECT px, py,
          CAST(CAST(CAST(mr AS DOUBLE) * ratio AS FLOAT) AS DOUBLE) AS re,
          CAST(CAST(CAST(mi AS DOUBLE) * ratio AS FLOAT) AS DOUBLE) AS im
        FROM rr
    """

    sqls["complex_pixelfuncs"] = f"""
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
          round(sqrt(pow({_cre}, 2) + pow({_cim}, 2)), 6) AS mod,
          round(atan2({_cim}, {_cre}), 6) AS ph,
          round(pow({_cre}, 2) + pow({_cim}, 2), 6) AS inten
        FROM generate_series(0, 127) x(px)
        CROSS JOIN generate_series(0, 127) y(py)
    """

    # fixture raster extents are closed-form (sources/rasters.py)
    _ti_rows = [
        ("byte20", 440720.0, 3751320.0 - 1200.0, 440720.0 + 1200.0, 3751320.0),
        ("gradient256", 0.0, 0.0, 256.0, 256.0),
        ("checker64", 0.0, 0.0, 64.0, 64.0),
        ("world4326", -180.0, -90.0, 180.0, 90.0),
    ]
    ti_vals = ", ".join(
        f"('{r}', {a!r}, {b!r}, {c!r}, {d!r})" for r, a, b, c, d in _ti_rows
    )
    sqls["tile_index"] = (
        f"SELECT c0 AS raster_id, CAST(c1 AS DOUBLE) AS minx, "
        f"CAST(c2 AS DOUBLE) AS miny, CAST(c3 AS DOUBLE) AS maxx, "
        f"CAST(c4 AS DOUBLE) AS maxy "
        f"FROM (VALUES {ti_vals}) t(c0, c1, c2, c3, c4)"
    )

    pr_vals = ", ".join(
        "('{}', {}, {}, {}, {}, {})".format(
            name, *[str(bool(x)).upper() for x in flags]
        )
        for name, *flags in _pred_expected()
    )
    sqls["spatial_predicates"] = (
        f"SELECT c0 AS name, c1 AS intersects, c2 AS contains, "
        f"c3 AS touches, c4 AS overlaps, c5 AS equals "
        f"FROM (VALUES {pr_vals}) t(c0, c1, c2, c3, c4, c5)"
    )


    # kmeans / semantic_dedup: Lloyd iterations unrolled as a CTE chain.
    # All arithmetic is int64 micro-units (round(x*1e6)), so every sum,
    # distance, and floor-mean is EXACT on both engines — no float-order
    # ambiguity anywhere in the iteration.
    _K, _IT, _DIM = 8, 4, 64
    _km = [
        "e AS (SELECT vec_id AS id, list_transform(embedding::DOUBLE[], "
        "x -> CAST(round(x * 1000000.0) AS BIGINT)) AS v FROM embeddings)",
        f"c0 AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER)"
        f" AS cid, v FROM (SELECT id, v FROM e ORDER BY id LIMIT {_K}))",
    ]
    for _i in range(1, _IT + 2):
        _km.append(
            f"d{_i} AS (SELECT e.id, e.v, c.cid, "
            f"CAST(list_sum(list_transform(range(1, {_DIM + 1}), "
            f"j -> (e.v[j] - c.v[j]) * (e.v[j] - c.v[j]))) AS BIGINT) "
            f"AS dist2 FROM e CROSS JOIN c{_i - 1} c)"
        )
        _km.append(
            f"a{_i} AS (SELECT id, v, cid, dist2 FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY id "
            f"ORDER BY dist2, cid) AS rn FROM d{_i}) WHERE rn = 1)"
        )
        if _i <= _IT:
            _km.append(
                f"c{_i} AS (SELECT p.cid, coalesce(nv.v, p.v) AS v "
                f"FROM c{_i - 1} p LEFT JOIN ("
                f"SELECT cid, list(m ORDER BY j) AS v FROM ("
                f"SELECT cid, j, CAST(floor(sum(v[j]) * 1.0 / count(*)) "
                f"AS BIGINT) AS m FROM a{_i}, range(1, {_DIM + 1}) t(j) "
                f"GROUP BY cid, j) GROUP BY cid) nv ON p.cid = nv.cid)"
            )
    _km_chain = ",\n        ".join(_km)
    _FINAL = f"a{_IT + 1}"
    sqls["kmeans_clusters"] = f"""
        WITH {_km_chain}
        SELECT id AS vec_id, cid, dist2 FROM {_FINAL}
    """

    _cosexpr = (
        "round(list_dot_product(va.ve, vb.ve) / "
        "(sqrt(list_dot_product(va.ve, va.ve)) * "
        "sqrt(list_dot_product(vb.ve, vb.ve))), 6)"
    )
    sqls["semantic_dedup"] = f"""
        WITH {_km_chain},
        ve AS (SELECT vec_id AS id, embedding::DOUBLE[] AS ve
               FROM embeddings),
        dups AS (
          SELECT y.id AS id, CAST(count(*) AS BIGINT) AS n_dups
          FROM {_FINAL} x JOIN {_FINAL} y
            ON x.cid = y.cid AND x.id < y.id
          JOIN ve va ON va.id = x.id
          JOIN ve vb ON vb.id = y.id
          WHERE {_cosexpr} >= 0.3
          GROUP BY y.id
        )
        SELECT f.id AS vec_id, f.cid,
               coalesce(d.n_dups, 0) AS n_dups,
               coalesce(d.n_dups, 0) = 0 AS keep
        FROM {_FINAL} f LEFT JOIN dups d ON f.id = d.id
    """

    # pq_encode: four independent kmeans chains (the _km recipe) over
    # list_slice'd 16-dim subvectors; total dist2 is the exact int64 sum.
    def _pq_sub(tag: str, off: int, s: int = 16, K: int = 4,
                IT: int = 2) -> list[str]:
        cte = [
            f"e{tag} AS (SELECT vec_id AS id, list_transform("
            f"list_slice(embedding::DOUBLE[], {off + 1}, {off + s}), "
            f"x -> CAST(round(x * 1000000.0) AS BIGINT)) AS v "
            f"FROM embeddings)",
            f"c0{tag} AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 "
            f"AS INTEGER) AS cid, v FROM (SELECT id, v FROM e{tag} "
            f"ORDER BY id LIMIT {K}))",
        ]
        for i in range(1, IT + 2):
            cte.append(
                f"d{i}{tag} AS (SELECT e{tag}.id, e{tag}.v, c.cid, "
                f"CAST(list_sum(list_transform(range(1, {s + 1}), "
                f"j -> (e{tag}.v[j] - c.v[j]) * (e{tag}.v[j] - c.v[j]))) "
                f"AS BIGINT) AS dist2 FROM e{tag} CROSS JOIN c{i - 1}{tag} c)"
            )
            cte.append(
                f"a{i}{tag} AS (SELECT id, v, cid, dist2 FROM ("
                f"SELECT *, row_number() OVER (PARTITION BY id "
                f"ORDER BY dist2, cid) AS rn FROM d{i}{tag}) WHERE rn = 1)"
            )
            if i <= IT:
                cte.append(
                    f"c{i}{tag} AS (SELECT p.cid, coalesce(nv.v, p.v) AS v "
                    f"FROM c{i - 1}{tag} p LEFT JOIN ("
                    f"SELECT cid, list(m ORDER BY j) AS v FROM ("
                    f"SELECT cid, j, CAST(floor(sum(v[j]) * 1.0 / count(*)) "
                    f"AS BIGINT) AS m FROM a{i}{tag}, range(1, {s + 1}) t(j) "
                    f"GROUP BY cid, j) GROUP BY cid) nv ON p.cid = nv.cid)"
                )
        return cte

    _pq_ctes: list[str] = []
    for _j in range(4):
        _pq_ctes += _pq_sub(f"s{_j}", _j * 16)
    _pq_chain = ",\n        ".join(_pq_ctes)
    sqls["pq_encode"] = f"""
        WITH {_pq_chain}
        SELECT a3s0.id AS vec_id,
               a3s0.cid AS code_0, a3s1.cid AS code_1,
               a3s2.cid AS code_2, a3s3.cid AS code_3,
               CAST(a3s0.dist2 + a3s1.dist2 + a3s2.dist2 + a3s3.dist2
                    AS BIGINT) AS dist2
        FROM a3s0 JOIN a3s1 USING (id) JOIN a3s2 USING (id)
                  JOIN a3s3 USING (id)
    """

    # pq_topk: same four chains; LUT = integer distance from query
    # subvector to each final centroid (c2 after 2 iters); adc = the
    # LUT value of each vector's final code; exact side is the full
    # 64-dim quantized distance.
    _pqk = list(_pq_ctes)
    for _j in range(4):
        _pqk.append(
            f"l s{_j} AS (SELECT c.cid, CAST(list_sum(list_transform("
            f"range(1, 17), x -> (q.v[x] - c.v[x]) * (q.v[x] - c.v[x]))) "
            f"AS BIGINT) AS ld FROM c2s{_j} c, "
            f"(SELECT v FROM es{_j} WHERE id = 0) q)".replace("l s", "ls")
        )
    _pqk.append(
        "ef AS (SELECT vec_id AS id, list_transform(embedding::DOUBLE[], "
        "x -> CAST(round(x * 1000000.0) AS BIGINT)) AS v FROM embeddings)"
    )
    _pqk.append(
        "ex AS (SELECT ef.id, CAST(list_sum(list_transform(range(1, 65), "
        "x -> (ef.v[x] - q.v[x]) * (ef.v[x] - q.v[x]))) AS BIGINT) "
        "AS exact_dist2 FROM ef, (SELECT v FROM ef WHERE id = 0) q)"
    )
    _pqk.append(
        "adc AS (SELECT a3s0.id, CAST(l0.ld + l1.ld + l2.ld + l3.ld "
        "AS BIGINT) AS adc_dist2 "
        "FROM a3s0 JOIN a3s1 USING (id) JOIN a3s2 USING (id) "
        "JOIN a3s3 USING (id) "
        "JOIN ls0 l0 ON l0.cid = a3s0.cid "
        "JOIN ls1 l1 ON l1.cid = a3s1.cid "
        "JOIN ls2 l2 ON l2.cid = a3s2.cid "
        "JOIN ls3 l3 ON l3.cid = a3s3.cid)"
    )
    _pqk_chain = ",\n        ".join(_pqk)
    sqls["pq_topk"] = f"""
        WITH {_pqk_chain}
        SELECT CAST(row_number() OVER (ORDER BY adc_dist2, id) AS INT)
                 AS rank,
               id AS vec_id, adc_dist2, exact_dist2
        FROM adc JOIN ex USING (id)
        ORDER BY adc_dist2, id LIMIT 20
    """


    # pages_enrich: the page generator is a splitmix64 pure function of
    # (id, stream, seed) — spelled out in SQL (HUGEINT mulmod + 32-bit-half
    # XOR, verified bit-identical), lang and has-geo become closed forms.
    _W64b = 1 << 64

    def _mm(z: str, A: int) -> str:
        A_hi, A_lo = A >> 32, A & 0xFFFFFFFF
        return (f"((({z}) * {A_lo}) % {_W64b} + "
                f"(((({z}) % 4294967296) * {A_hi}) % 4294967296) "
                f"* 4294967296) % {_W64b}")

    def _xr(a: str, b: str) -> str:
        return (f"(CAST(xor(CAST(({a}) // 4294967296 AS BIGINT), "
                f"CAST(({b}) // 4294967296 AS BIGINT)) AS HUGEINT) "
                f"* 4294967296 "
                f"+ CAST(xor(CAST(({a}) % 4294967296 AS BIGINT), "
                f"CAST(({b}) % 4294967296 AS BIGINT)) AS HUGEINT))")

    def _mix_sql(idexpr: str, stream: int, seed: int = 42) -> str:
        salt = (0x9E3779B97F4A7C15
                * (stream * 2654435761 + seed + 1)) & (_W64b - 1)
        z0 = f"((CAST({idexpr} AS HUGEINT) + {salt}) % {_W64b})"
        z1 = "(" + _mm(_xr(z0, f"({z0}) // 1073741824"),
                       0xBF58476D1CE4E5B9) + ")"
        z2 = "(" + _mm(_xr(z1, f"({z1}) // 134217728"),
                       0x94D049BB133111EB) + ")"
        return _xr(z2, f"({z2}) // 2147483648")

    # RANSAC: trial anchors via the SAME splitmix arithmetic
    # (_mix_sql), integer inlier tests, argmax(count, -t), exact-moment
    # OLS refit — one query end to end
    sqls["ransac_line"] = f"""
        WITH pts AS (
          SELECT event_id AS pid,
                 (event_id * 37) % 1000 AS x,
                 CASE WHEN event_id % 5 = 0
                      THEN (event_id * 104729) % 3000
                      ELSE 3 * ((event_id * 37) % 1000) + 7
                           + (event_id * 13) % 5 - 2 END AS y
          FROM events WHERE event_id < 1000
        ),
        nn AS (SELECT COUNT(*) AS n FROM pts),
        tr AS (
          SELECT gs.t AS t,
                 CAST(({_mix_sql("gs.t", 101)}) % nn.n AS BIGINT) AS i1,
                 CAST(({_mix_sql("gs.t", 202)}) % (nn.n - 1) AS BIGINT) AS r,
                 nn.n AS n
          FROM generate_series(0, 63) gs(t), nn
        ),
        tr2 AS (
          SELECT t, i1,
                 r + (CASE WHEN r >= i1 THEN 1 ELSE 0 END) AS i2, n
          FROM tr
        ),
        anch AS (
          SELECT tr2.t, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2,
                 (b.x - a.x) * (b.x - a.x)
                 + (b.y - a.y) * (b.y - a.y) AS len2, tr2.n
          FROM tr2
          JOIN pts a ON a.pid = tr2.i1
          JOIN pts b ON b.pid = tr2.i2
          WHERE (b.x - a.x) * (b.x - a.x)
                + (b.y - a.y) * (b.y - a.y) > 0
        ),
        cnt AS (
          SELECT anch.t, COUNT(*) AS n_in
          FROM anch JOIN pts p ON
            CAST((anch.x2 - anch.x1) * (p.y - anch.y1)
                 - (anch.y2 - anch.y1) * (p.x - anch.x1) AS HUGEINT)
            * ((anch.x2 - anch.x1) * (p.y - anch.y1)
               - (anch.y2 - anch.y1) * (p.x - anch.x1))
            <= 9 * CAST(anch.len2 AS HUGEINT)
          GROUP BY anch.t
        ),
        best AS (SELECT * FROM cnt ORDER BY n_in DESC, t ASC LIMIT 1),
        ba AS (SELECT anch.*, best.n_in FROM anch, best
               WHERE anch.t = best.t),
        fit AS (
          SELECT ba.t, ba.n_in, ba.n, COUNT(*) AS k,
                 SUM(p.x) AS sx, SUM(p.y) AS sy,
                 SUM(CAST(p.x AS HUGEINT) * p.x) AS sxx,
                 SUM(CAST(p.x AS HUGEINT) * p.y) AS sxy
          FROM ba JOIN pts p ON
            CAST((ba.x2 - ba.x1) * (p.y - ba.y1)
                 - (ba.y2 - ba.y1) * (p.x - ba.x1) AS HUGEINT)
            * ((ba.x2 - ba.x1) * (p.y - ba.y1)
               - (ba.y2 - ba.y1) * (p.x - ba.x1))
            <= 9 * CAST(ba.len2 AS HUGEINT)
          GROUP BY ba.t, ba.n_in, ba.n
        )
        SELECT CAST(n AS BIGINT) AS n, CAST(t AS BIGINT) AS best_trial,
               CAST(n_in AS BIGINT) AS n_inliers,
               round(CAST(k * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / CAST(k * sxx - CAST(sx AS HUGEINT) * sx
                            AS DOUBLE), 9) AS slope,
               round((CAST(sy AS DOUBLE)
                      - (CAST(k * sxy - CAST(sx AS HUGEINT) * sy
                              AS DOUBLE)
                         / CAST(k * sxx - CAST(sx AS HUGEINT) * sx
                                AS DOUBLE)) * CAST(sx AS DOUBLE))
                     / CAST(k AS DOUBLE), 9) AS intercept
        FROM fit
    """


    # compactness: closed forms over the integer box fixture (hole rows
    # subtract area and add perimeter for k % 4 == 0 where it fits)
    sqls["compactness"] = """
        WITH f AS (
          SELECT gs.k AS fid,
                 10 + (gs.k * 7) % 90 AS w,
                 5 + (gs.k * 13) % 60 AS h
          FROM generate_series(0, 199) gs(k)
        ),
        m AS (
          SELECT fid, w, h,
                 CASE WHEN fid % 4 = 0 AND w > 6 AND h > 6
                      THEN 1 ELSE 0 END AS holed
          FROM f
        ),
        c AS (
          SELECT fid,
                 CAST(w * h - holed * 4 AS DOUBLE) AS area,
                 CAST(2 * (w + h) + holed * 8 AS DOUBLE) AS per
          FROM m
        )
        SELECT fid, round(area, 9) AS area, round(per, 9) AS perimeter,
               round(4 * pi() * area / (per * per), 9) AS polsby_popper,
               round(per / (2 * sqrt(pi() * area)), 9) AS schwartzberg
        FROM c
    """


    _lang_case = ("CASE m7 % 6 " + " ".join(
        f"WHEN {i} THEN '{lg}'"
        for i, lg in enumerate(["en", "de", "fr", "es", "ru", "zh"])
    ) + " END")
    # u_geo = (m1 >> 11) / 2^53 < 0.8  <=>  (m1 // 2048) < ceil(0.8 * 2^53)
    sqls["pages_enrich"] = f"""
        WITH ids AS (SELECT unnest(range(0, 20000)) AS id),
        x AS (
          SELECT id, {_mix_sql("id", 7)} AS m7, {_mix_sql("id", 1)} AS m1
          FROM ids
        )
        SELECT {_lang_case} AS lang,
               CAST(count(*) AS BIGINT) AS n_pages,
               CAST(sum(CASE WHEN (m1 // 2048) < 7205759403792794
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_geo
        FROM x GROUP BY 1 ORDER BY 1
    """


    # skyline_docs: the literal ICDE-2001 dominance definition as a
    # NOT EXISTS anti-join — integer comparisons only, order-free.
    sqls["skyline_docs"] = r"""
        WITH t AS (
          SELECT doc_id,
                 CAST(length(list_filter(regexp_split_to_array(
                   trim(lower(text)), '\s+'), x -> x <> '')) AS INT)
                   AS n_tokens,
                 n_chars
          FROM documents
        )
        SELECT doc_id, n_tokens, CAST(n_chars AS BIGINT) AS n_chars
        FROM t a
        WHERE NOT EXISTS (
          SELECT 1 FROM t b
          WHERE b.n_tokens >= a.n_tokens AND b.n_chars <= a.n_chars
            AND (b.n_tokens > a.n_tokens OR b.n_chars < a.n_chars)
        )
    """


    # hits: same unrolled-integer-CTE technique as pagerank below.
    _h_scale = 10**6
    _h_parts = [
        """e AS (
          SELECT i AS u, (i * 7 + 3) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
          UNION ALL
          SELECT i AS u, (i * 13 + 5) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
        )""",
        "nodes AS (SELECT DISTINCT u AS node FROM e "
        "UNION SELECT DISTINCT v AS node FROM e)",
        f"h0 AS (SELECT node, CAST({_h_scale} AS BIGINT) AS h FROM nodes)",
    ]
    for _i in range(4):
        _h_parts += [
            f"""araw{_i} AS MATERIALIZED (
              SELECT e.v AS node, sum(h{_i}.h) AS ar
              FROM e JOIN h{_i} ON e.u = h{_i}.node GROUP BY e.v)""",
            f"""a{_i} AS MATERIALIZED (
              SELECT nodes.node,
                     (coalesce(ar, 0) * {_h_scale})
                       // (SELECT sum(ar) FROM araw{_i}) AS a
              FROM nodes LEFT JOIN araw{_i} USING (node))""",
            f"""hraw{_i} AS MATERIALIZED (
              SELECT e.u AS node, sum(a{_i}.a) AS hr
              FROM e JOIN a{_i} ON e.v = a{_i}.node GROUP BY e.u)""",
            f"""h{_i + 1} AS MATERIALIZED (
              SELECT nodes.node,
                     (coalesce(hr, 0) * {_h_scale})
                       // (SELECT sum(hr) FROM hraw{_i}) AS h
              FROM nodes LEFT JOIN hraw{_i} USING (node))""",
        ]
    sqls["hits_scores"] = (
        "WITH " + ",\n".join(_h_parts)
        + """
        SELECT h4.node, CAST(h4.h AS BIGINT) AS hub_units,
               CAST(a3.a AS BIGINT) AS auth_units
        FROM h4 JOIN a3 USING (node)
    """)

    # harmonic_centrality: recursive-CTE BFS from the 8 seeds (UNION
    # distinct bounds the walk at |seeds| x |nodes| x 21 rows despite
    # cycles), reciprocal distances as exact scale-div-d integers.
    sqls["harmonic_centrality"] = """
        WITH RECURSIVE e AS (
          SELECT i AS u, (i * 7 + 3) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
          UNION ALL
          SELECT i AS u, (i * 13 + 5) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
        ),
        seeds AS (
          SELECT unnest([1, 31, 61, 91, 121, 151, 181, 211]) AS seed
        ),
        bfs AS (
          SELECT seed, seed AS node, 0 AS d FROM seeds
          UNION
          SELECT b.seed, e.v AS node, b.d + 1 AS d
          FROM bfs b JOIN e ON e.u = b.node
          WHERE b.d < 20
        ),
        md AS (
          SELECT seed, node, min(d) AS d FROM bfs GROUP BY seed, node
        )
        SELECT CAST(node AS BIGINT) AS node,
               CAST(sum(1000000 // d) AS BIGINT) AS harmonic_units
        FROM md WHERE d > 0 GROUP BY node
    """

    # neighborhood_function: the harmonic BFS + identical cumulative /
    # threshold-window arithmetic.
    sqls["neighborhood_function"] = """
        WITH RECURSIVE e AS (
          SELECT i AS u, (i * 7 + 3) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
          UNION ALL
          SELECT i AS u, (i * 13 + 5) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
        ),
        seeds AS (
          SELECT unnest([1, 31, 61, 91, 121, 151, 181, 211]) AS seed
        ),
        bfs AS (
          SELECT seed, seed AS node, 0 AS d FROM seeds
          UNION
          SELECT b.seed, e.v AS node, b.d + 1 AS d
          FROM bfs b JOIN e ON e.u = b.node
          WHERE b.d < 20
        ),
        md AS (SELECT seed, node, min(d) AS d FROM bfs GROUP BY 1, 2),
        per_d AS (SELECT d, count(*) AS n_at FROM md GROUP BY d),
        tot AS (SELECT count(*) AS n_tot FROM md),
        cum AS (
          SELECT d, n_at,
                 SUM(n_at) OVER (ORDER BY d
                                 ROWS UNBOUNDED PRECEDING) AS n_cum
          FROM per_d
        ),
        fl AS (
          SELECT d, n_at, n_cum,
                 CASE WHEN n_cum * 10 >= 9 * (SELECT n_tot FROM tot)
                      THEN 1 ELSE 0 END AS hit
          FROM cum
        )
        SELECT d, CAST(n_at AS BIGINT) AS n_at,
               CAST(n_cum AS BIGINT) AS n_cum,
               round(n_cum / CAST((SELECT n_tot FROM tot) AS DOUBLE), 9)
                 AS reached_frac,
               (hit = 1 AND COALESCE(MAX(hit) OVER (
                  ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING), 0) = 0) AS is_effective
        FROM fl
    """

    # betweenness: recursive-CTE min-dist BFS, then 16 unrolled sigma
    # levels (sum of predecessor sigmas), the BFS DAG, and 16 unrolled
    # backward dependency levels with the identical integer floor
    # division sig_v * (scale + D_w) // sig_w.
    _bc_scale = 10**6
    _bc_lev = 16
    _bc_parts = [
        """eraw AS (
          SELECT i AS u, (i * 7 + 3) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
          UNION ALL
          SELECT i AS u, (i * 13 + 5) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
        )""",
        "e AS (SELECT DISTINCT u, v FROM eraw)",
        "seeds AS (SELECT unnest([1, 31, 61, 91]) AS seed)",
        f"""bfs AS (
          SELECT seed, seed AS node, 0 AS d FROM seeds
          UNION
          SELECT b.seed, e.v AS node, b.d + 1 AS d
          FROM bfs b JOIN e ON e.u = b.node
          WHERE b.d < {_bc_lev}
        )""",
        "md AS (SELECT seed, node, min(d) AS d FROM bfs GROUP BY 1, 2)",
        "sig0 AS (SELECT seed, seed AS node, CAST(1 AS BIGINT) AS sig "
        "FROM seeds)",
    ]
    for _i in range(1, _bc_lev + 1):
        _bc_parts.append(f"""sig{_i} AS MATERIALIZED (
          SELECT s.seed, e.v AS node, SUM(s.sig) AS sig
          FROM sig{_i - 1} s
          JOIN e ON e.u = s.node
          JOIN md m ON m.seed = s.seed AND m.node = e.v AND m.d = {_i}
          GROUP BY 1, 2
        )""")
    _bc_parts.append(
        "sig_all AS (" + " UNION ALL ".join(
            f"SELECT * FROM sig{_i}" for _i in range(_bc_lev + 1)) + ")")
    _bc_parts.append("""dag AS MATERIALIZED (
          SELECT mv.seed, mv.node AS vn, mw.node AS wn, mv.d AS dv,
                 sv.sig AS sig_v, sw.sig AS sig_w
          FROM e
          JOIN md mv ON mv.node = e.u
          JOIN md mw ON mw.seed = mv.seed AND mw.node = e.v
                    AND mw.d = mv.d + 1
          JOIN sig_all sv ON sv.seed = mv.seed AND sv.node = e.u
          JOIN sig_all sw ON sw.seed = mv.seed AND sw.node = e.v
        )""")
    _top = _bc_lev - 1
    _bc_parts.append(f"""dep{_top} AS MATERIALIZED (
          SELECT seed, vn AS node,
                 SUM(sig_v * ({_bc_scale} + 0) // sig_w) AS dep
          FROM dag WHERE dv = {_top} GROUP BY 1, 2
        )""")
    _bc_parts.append(f"acc{_top} AS (SELECT * FROM dep{_top})")
    for _lv in range(_top - 1, -1, -1):
        _bc_parts.append(f"""dep{_lv} AS MATERIALIZED (
          SELECT d.seed, d.vn AS node,
                 SUM(d.sig_v * ({_bc_scale} + COALESCE(p.dep, 0))
                     // d.sig_w) AS dep
          FROM dag d
          LEFT JOIN acc{_lv + 1} p
            ON p.seed = d.seed AND p.node = d.wn
          WHERE d.dv = {_lv} GROUP BY 1, 2
        )""")
        _bc_parts.append(
            f"acc{_lv} AS (SELECT * FROM dep{_lv} "
            f"UNION ALL SELECT * FROM acc{_lv + 1})")
    sqls["betweenness"] = (
        "WITH RECURSIVE " + ",\n".join(_bc_parts)
        + f"""
        SELECT CAST(node AS BIGINT) AS node,
               CAST(SUM(dep) AS BIGINT) AS bc_units,
               round(SUM(dep) / {float(_bc_scale)!r}, 9) AS bc
        FROM acc0 WHERE node <> seed GROUP BY node"""
    )

    # coreness: three unrolled incremental peels (k = 2, 3, 4), six
    # rounds each, dropped sets labeled k-1.
    _cn_parts = [
        """eraw AS (
          SELECT i AS u, (i * 7 + 3) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
          UNION ALL
          SELECT i AS u, (i * 13 + 5) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
        )""",
        """sym AS MATERIALIZED (
          SELECT DISTINCT u, v FROM (
            SELECT u, v FROM eraw WHERE u <> v
            UNION ALL SELECT v, u FROM eraw WHERE u <> v
          )
        )""",
        "c1_6 AS (SELECT DISTINCT u AS n FROM sym)",
    ]
    for _k in (2, 3, 4):
        _cn_parts.append(
            f"c{_k}_0 AS (SELECT n FROM c{_k - 1}_6)")
        for _r in range(1, 7):
            _cn_parts.append(f"""c{_k}_{_r} AS MATERIALIZED (
              SELECT s.u AS n FROM sym s
              JOIN c{_k}_{_r - 1} a ON a.n = s.u
              JOIN c{_k}_{_r - 1} b ON b.n = s.v
              GROUP BY s.u HAVING count(*) >= {_k}
            )""")
    sqls["coreness"] = (
        "WITH " + ",\n".join(_cn_parts) + """
        SELECT CAST(n AS BIGINT) AS node, CAST(1 AS BIGINT) AS coreness
        FROM c1_6 WHERE n NOT IN (SELECT n FROM c2_6)
        UNION ALL
        SELECT n, 2 FROM c2_6 WHERE n NOT IN (SELECT n FROM c3_6)
        UNION ALL
        SELECT n, 3 FROM c3_6 WHERE n NOT IN (SELECT n FROM c4_6)
        UNION ALL
        SELECT n, 4 FROM c4_6
        """)

    # degree_mixing / rich_club: identical exact integer moments and
    # final float expressions over the same functional graph.
    _gm_edges = """eraw AS (
          SELECT i AS u, (i * 7 + 3) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
          UNION ALL
          SELECT i AS u, (i * 13 + 5) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
        ),
        e AS (SELECT DISTINCT u, v FROM eraw)"""
    sqls["degree_mixing"] = f"""
        WITH {_gm_edges},
        nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
        ind AS (SELECT v, count(*) AS idg FROM e GROUP BY v),
        recip AS (
          SELECT count(*) AS r FROM e
          JOIN e rev ON rev.u = e.v AND rev.v = e.u
        ),
        dd AS (
          SELECT COALESCE(ju.idg, 0) AS du, COALESCE(jv.idg, 0) AS dv
          FROM e
          LEFT JOIN ind ju ON ju.v = e.u
          LEFT JOIN ind jv ON jv.v = e.v
        ),
        mom AS (
          SELECT count(*) AS m,
                 SUM(CAST(du AS HUGEINT)) AS sx,
                 SUM(CAST(dv AS HUGEINT)) AS sy,
                 SUM(CAST(du AS HUGEINT) * CAST(du AS HUGEINT)) AS sxx,
                 SUM(CAST(dv AS HUGEINT) * CAST(dv AS HUGEINT)) AS syy,
                 SUM(CAST(du AS HUGEINT) * CAST(dv AS HUGEINT)) AS sxy
          FROM dd
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
               (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
               (SELECT CAST(r AS BIGINT) FROM recip) AS n_reciprocal,
               round((SELECT r FROM recip)
                     / CAST((SELECT count(*) FROM e) AS DOUBLE), 9)
                 AS reciprocity,
               round(CAST(m * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 9)
                 AS assortativity
        FROM mom
    """
    sqls["rich_club"] = f"""
        WITH {_gm_edges},
        und AS (
          SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
          FROM eraw WHERE u <> v
        ),
        deg AS (
          SELECT node, count(*) AS d FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
          ) GROUP BY node
        ),
        ks AS (SELECT unnest([2, 3, 4]) AS k),
        st AS (
          SELECT k,
                 (SELECT count(*) FROM deg WHERE d > k) AS n_k,
                 (SELECT count(*) FROM und
                  JOIN deg da ON da.node = und.a AND da.d > k
                  JOIN deg db ON db.node = und.b AND db.d > k) AS e_k
          FROM ks
        )
        SELECT CAST(k AS BIGINT) AS k, CAST(n_k AS BIGINT) AS n_k,
               CAST(e_k AS BIGINT) AS e_k,
               round(CASE WHEN n_k > 1
                          THEN 2.0 * e_k / (n_k * (n_k - 1))
                          ELSE 0.0 END, 9) AS phi
        FROM st
    """

    # salsa_scores: the same functional graph; 4 unrolled rounds of the
    # degree-normalized walk with per-node floor division (h div outdeg
    # forward, a div indeg backward) — identical integer arithmetic.
    _sa_scale = 10**12
    _sa_parts = [
        """e AS (
          SELECT i AS u, (i * 7 + 3) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
          UNION ALL
          SELECT i AS u, (i * 13 + 5) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
        )""",
        "nodes AS (SELECT DISTINCT u AS node FROM e "
        "UNION SELECT DISTINCT v AS node FROM e)",
        "od AS (SELECT u, count(*) AS od FROM e GROUP BY u)",
        "idg AS (SELECT v, count(*) AS id FROM e GROUP BY v)",
        f"sh0 AS (SELECT node, CAST({_sa_scale} AS BIGINT) AS h FROM nodes)",
    ]
    for _i in range(4):
        _sa_parts += [
            f"""sa{_i} AS MATERIALIZED (
              SELECT nodes.node, CAST(coalesce(t.ar, 0) AS BIGINT) AS a
              FROM nodes LEFT JOIN (
                SELECT e.v AS node, sum(sh{_i}.h // od.od) AS ar
                FROM e JOIN sh{_i} ON e.u = sh{_i}.node
                JOIN od ON od.u = e.u
                GROUP BY e.v) t USING (node))""",
            f"""sh{_i + 1} AS MATERIALIZED (
              SELECT nodes.node, CAST(coalesce(t.hr, 0) AS BIGINT) AS h
              FROM nodes LEFT JOIN (
                SELECT e.u AS node, sum(sa{_i}.a // idg.id) AS hr
                FROM e JOIN sa{_i} ON e.v = sa{_i}.node
                JOIN idg ON idg.v = e.v
                GROUP BY e.u) t USING (node))""",
        ]
    sqls["salsa_scores"] = (
        "WITH " + ",\n".join(_sa_parts)
        + """
        SELECT sh4.node, sh4.h AS hub_units, sa3.a AS auth_units
        FROM sh4 JOIN sa3 USING (node)
    """)

    # link_prediction: identical wedge self-join on the symmetrized
    # functional graph + NOT EXISTS anti-join; all-integer except one
    # per-row round(cn / (deg_a + deg_b - cn), 6) on an exact int ratio
    # with denominator < 600 (no representable half-ulp ties).
    sqls["link_prediction"] = """
        WITH e0 AS (
          SELECT i AS u, (i * 7 + 3) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
          UNION ALL
          SELECT i AS u, (i * 13 + 5) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
        ),
        sym AS (
          SELECT DISTINCT u, v FROM (
            SELECT u, v FROM e0 WHERE u <> v
            UNION ALL
            SELECT v AS u, u AS v FROM e0 WHERE u <> v
          )
        ),
        deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY u),
        pairs AS (
          SELECT x.v AS a, y.v AS b, count(*) AS cn
          FROM sym x JOIN sym y ON x.u = y.u AND x.v < y.v
          GROUP BY x.v, y.v
          HAVING count(*) >= 2
        ),
        ne AS (
          SELECT p.a, p.b, p.cn FROM pairs p
          WHERE NOT EXISTS (
            SELECT 1 FROM sym s WHERE s.u = p.a AND s.v = p.b)
        )
        SELECT CAST(ne.a AS BIGINT) AS a, CAST(ne.b AS BIGINT) AS b,
               CAST(ne.cn AS BIGINT) AS cn,
               CAST(da.d AS BIGINT) AS deg_a, CAST(db.d AS BIGINT) AS deg_b,
               round(CAST(ne.cn AS DOUBLE) / (da.d + db.d - ne.cn), 6)
                 AS jaccard,
               CAST(da.d * db.d AS BIGINT) AS pref_attach
        FROM ne JOIN deg da ON da.node = ne.a
                JOIN deg db ON db.node = ne.b
    """

    # pagerank: the same integer fixed-point power iteration unrolled as
    # a CTE chain (floor divisions via //, int64 sums — order-free).
    _pr_scale = 10**12
    _pr_parts = [
        """e AS (
          SELECT i AS u, (i * 7 + 3) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
          UNION ALL
          SELECT i AS u, (i * 13 + 5) % 300 AS v
          FROM range(0, 300) t(i) WHERE i % 17 <> 0
        )""",
        "nodes AS (SELECT DISTINCT u AS node FROM e "
        "UNION SELECT DISTINCT v AS node FROM e)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "deg AS (SELECT u, count(*) AS d FROM e GROUP BY u)",
        f"r0 AS (SELECT node, CAST({_pr_scale} AS BIGINT) "
        "// (SELECT n FROM nn) AS r FROM nodes)",
    ]
    for _i in range(4):
        _pr_parts += [
            f"""dang{_i} AS (
              SELECT coalesce(sum(r), 0) AS s FROM r{_i}
              LEFT JOIN deg ON r{_i}.node = deg.u WHERE deg.d IS NULL)""",
            f"""inf{_i} AS (
              SELECT e.v AS node, sum(r{_i}.r // deg.d) AS s
              FROM e JOIN r{_i} ON e.u = r{_i}.node
                     JOIN deg ON deg.u = e.u
              GROUP BY e.v)""",
            f"""r{_i + 1} AS (
              SELECT nodes.node,
                     (15 * CAST({_pr_scale} AS BIGINT))
                       // (100 * (SELECT n FROM nn))
                     + (85 * (coalesce(inf{_i}.s, 0)
                        + (SELECT s FROM dang{_i}) // (SELECT n FROM nn)))
                       // 100 AS r
              FROM nodes LEFT JOIN inf{_i} USING (node))""",
        ]
    sqls["pagerank"] = (
        "WITH " + ",\n".join(_pr_parts)
        + f"""
        SELECT node, CAST(r AS BIGINT) AS rank_units,
               round(r / {float(_pr_scale)!r}, 9) AS rank
        FROM r4"""
    )

    # graph_kcore: the same peeling unrolled to four materialized
    # rounds (fixpoint by round two on this fixture).
    _kc_parts = [
        """eraw AS (
          SELECT i AS u, (i // 20) * 20 + (i + d) % 20 AS v
          FROM range(0, 200) t(i), (SELECT unnest([1, 2, 3, 4]) AS d)
          UNION ALL
          SELECT i AS u, i + 1 AS v FROM range(200, 299) t(i)
          UNION ALL
          SELECT i * 20 AS u, 200 + i * 10 AS v FROM range(0, 10) t(i)
        )""",
        """c0 AS MATERIALIZED (
          SELECT DISTINCT u, v FROM (
            SELECT u, v FROM eraw WHERE u <> v
            UNION ALL SELECT v, u FROM eraw WHERE u <> v
          )
        )""",
    ]
    for _i in range(4):
        _kc_parts += [
            f"""k{_i} AS MATERIALIZED (
              SELECT u FROM c{_i} GROUP BY u HAVING count(*) >= 5
            )""",
            f"""c{_i + 1} AS MATERIALIZED (
              SELECT c.u, c.v FROM c{_i} c
              JOIN k{_i} a ON a.u = c.u
              JOIN k{_i} b ON b.u = c.v
            )""",
        ]
    sqls["graph_kcore"] = (
        "WITH " + ",\n".join(_kc_parts)
        + """
        SELECT u AS node, CAST(count(*) AS BIGINT) AS core_deg
        FROM c4 GROUP BY u HAVING count(*) >= 5"""
    )

    # graph_ktruss: the same fixture peeled by per-edge triangle
    # support, unrolled to four materialized rounds (fixpoint by round
    # three: chain/bridges/gadget-fringe, then the starved gadget
    # triangle, then nothing).
    _kt_parts = [
        """eraw AS (
          SELECT a.i AS u, b.i AS v
          FROM range(0, 200) a(i), range(0, 200) b(i)
          WHERE a.i // 10 = b.i // 10 AND a.i < b.i
          UNION ALL
          SELECT 200 + 2 * t.i + x.du AS u, 200 + 2 * t.i + x.dv AS v
          FROM range(0, 30) t(i),
               (VALUES (0, 1), (1, 2), (0, 2)) x(du, dv)
          UNION ALL
          SELECT t.i * 10 AS u, 200 + 2 * t.i AS v FROM range(0, 10) t(i)
          UNION ALL
          SELECT 300 + p.a AS u, 300 + p.b AS v
          FROM (VALUES (0, 2), (0, 3), (0, 4), (1, 2), (1, 3), (1, 4),
                       (2, 3), (2, 4), (3, 4)) p(a, b)
        )""",
        """c0 AS MATERIALIZED (
          SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
          FROM eraw WHERE u <> v
        )""",
    ]
    for _i in range(4):
        _kt_parts += [
            f"""s{_i} AS MATERIALIZED (
              SELECT u, v, count(*) AS s FROM (
                SELECT e1.u AS u, e1.v AS v
                FROM c{_i} e1 JOIN c{_i} e2 ON e2.u = e1.v
                JOIN c{_i} e3 ON e3.u = e1.u AND e3.v = e2.v
                UNION ALL
                SELECT e1.u, e2.v
                FROM c{_i} e1 JOIN c{_i} e2 ON e2.u = e1.v
                JOIN c{_i} e3 ON e3.u = e1.u AND e3.v = e2.v
                UNION ALL
                SELECT e1.v, e2.v
                FROM c{_i} e1 JOIN c{_i} e2 ON e2.u = e1.v
                JOIN c{_i} e3 ON e3.u = e1.u AND e3.v = e2.v
              ) GROUP BY u, v
            )""",
            f"""c{_i + 1} AS MATERIALIZED (
              SELECT c.u, c.v FROM c{_i} c
              JOIN s{_i} s ON s.u = c.u AND s.v = c.v
              WHERE s.s >= 3
            )""",
        ]
    sqls["graph_ktruss"] = (
        "WITH " + ",\n".join(_kt_parts)
        + """
        SELECT c.u, c.v, CAST(s.s AS BIGINT) AS support
        FROM c4 c JOIN s3 s ON s.u = c.u AND s.v = c.v
        WHERE s.s >= 3"""
    )

    # map_match: global brute-force nearest-segment argmin with the
    # operator's exact projection arithmetic (clamped t, euclidean
    # distance) — also proves the bucketed candidate join is complete.
    sqls["map_match"] = """
        WITH pts AS (
          SELECT i AS pid, (i * 37 % 997) / 10.0 AS x,
                 (i * 61 % 983) / 10.0 AS y
          FROM range(0, 500) t(i)
        ),
        segs AS (
          SELECT j AS seg_id,
                 (j * 53 % 90) + 2.0 AS x1, (j * 29 % 90) + 3.0 AS y1,
                 (j * 53 % 90) + 2.0 + (j * 17 % 21) - 10.0 AS x2,
                 (j * 29 % 90) + 3.0 + (j * 11 % 21) - 10.0 AS y2
          FROM range(0, 40) t(j)
        ),
        geom AS (
          SELECT p.pid, p.x, p.y, s.seg_id, s.x1, s.y1,
                 s.x2 - s.x1 AS dx, s.y2 - s.y1 AS dy
          FROM pts p CROSS JOIN segs s
        ),
        proj AS (
          SELECT pid, x, y, seg_id, x1, y1, dx, dy,
                 CASE WHEN dx * dx + dy * dy = 0.0 THEN 0.0
                 ELSE least(greatest(
                   ((x - x1) * dx + (y - y1) * dy) / (dx * dx + dy * dy),
                   0.0), 1.0) END AS t
          FROM geom
        ),
        scored AS (
          SELECT pid, x, y, seg_id, t,
                 sqrt((x - (x1 + t * dx)) * (x - (x1 + t * dx))
                      + (y - (y1 + t * dy)) * (y - (y1 + t * dy))) AS d
          FROM proj
        )
        SELECT pid, x, y, seg_id, round(t, 9) AS t, round(d, 9) AS dist
        FROM (SELECT *, row_number()
                OVER (PARTITION BY pid ORDER BY d, seg_id) AS rn
              FROM scored WHERE d <= 8.0)
        WHERE rn = 1
    """

    # graph_stats: same distinct edges; all Pearson terms int64-exact,
    # identical final float parenthesization.
    sqls["graph_stats"] = """
        WITH e AS (
          SELECT DISTINCT u, v FROM (
            SELECT i AS u, (i * 7 + 3) % 300 AS v
            FROM range(0, 300) t(i) WHERE i % 17 <> 0
            UNION ALL
            SELECT i AS u, (i * 13 + 5) % 300 AS v
            FROM range(0, 300) t(i) WHERE i % 17 <> 0
          ) WHERE u <> v
        ),
        nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
        deg AS (
          SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM e UNION ALL SELECT v FROM e
          ) GROUP BY node
        ),
        ed AS (
          SELECT du.d AS du, dv.d AS dv
          FROM e JOIN deg du ON du.node = e.u
                 JOIN deg dv ON dv.node = e.v
        ),
        sums AS (
          SELECT CAST(count(*) AS BIGINT) AS m,
                 CAST(sum(du * dv) AS BIGINT) AS sxy,
                 CAST(sum(du + dv) AS BIGINT) AS sx,
                 CAST(sum(du * du + dv * dv) AS BIGINT) AS sxx
          FROM ed
        ),
        base AS (
          SELECT (SELECT count(*) FROM nodes) AS n_nodes,
                 (SELECT count(*) FROM e) AS n_edges,
                 (SELECT count(*) FROM e a JOIN e b
                    ON a.u = b.v AND a.v = b.u) AS n_recip,
                 m, sxy, sx, sxx
          FROM sums
        )
        SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
               CAST(n_edges AS BIGINT) AS n_edges,
               round(CAST(n_recip AS DOUBLE) / n_edges, 6) AS reciprocity,
               round((CAST(sxy AS DOUBLE) / m
                      - (CAST(sx AS DOUBLE) / (2 * m))
                        * (CAST(sx AS DOUBLE) / (2 * m)))
                     / (CAST(sxx AS DOUBLE) / (2 * m)
                        - (CAST(sx AS DOUBLE) / (2 * m))
                          * (CAST(sx AS DOUBLE) / (2 * m))), 6)
                 AS assortativity
        FROM base
    """

    # trustrank: the seeded variant — teleport AND dangling mass land
    # only on seeds (node % 60 = 7); same int64 floor arithmetic.
    _tr_parts = list(_pr_parts[:4]) + [
        "sd AS (SELECT node FROM nodes WHERE node % 60 = 7)",
        "nsd AS (SELECT count(*) AS n FROM sd)",
        f"""r0t AS (SELECT node,
              CASE WHEN node IN (SELECT node FROM sd)
                   THEN CAST({_pr_scale} AS BIGINT) // (SELECT n FROM nsd)
                   ELSE CAST(0 AS BIGINT) END AS r
            FROM nodes)""",
    ]
    for _i in range(4):
        _tr_parts += [
            f"""dangt{_i} AS (
              SELECT coalesce(sum(r), 0) AS s FROM r{_i}t
              LEFT JOIN deg ON r{_i}t.node = deg.u WHERE deg.d IS NULL)""",
            f"""inft{_i} AS (
              SELECT e.v AS node, sum(r{_i}t.r // deg.d) AS s
              FROM e JOIN r{_i}t ON e.u = r{_i}t.node
                     JOIN deg ON deg.u = e.u
              GROUP BY e.v)""",
            f"""r{_i + 1}t AS (
              SELECT nodes.node,
                CASE WHEN nodes.node IN (SELECT node FROM sd)
                THEN (15 * CAST({_pr_scale} AS BIGINT))
                       // (100 * (SELECT n FROM nsd))
                     + (85 * (coalesce(inft{_i}.s, 0)
                        + (SELECT s FROM dangt{_i})
                          // (SELECT n FROM nsd))) // 100
                ELSE (85 * coalesce(inft{_i}.s, 0)) // 100 END AS r
              FROM nodes LEFT JOIN inft{_i} USING (node))""",
        ]
    sqls["trustrank"] = (
        "WITH " + ",\n".join(_tr_parts)
        + f"""
        SELECT node, node IN (SELECT node FROM sd) AS is_seed,
               CAST(r AS BIGINT) AS rank_units,
               round(r / {float(_pr_scale)!r}, 9) AS rank
        FROM r4t"""
    )

    # spam_mass: both unrolled fixed points (the full _pr_parts chain +
    # trustrank's seeded tail, which shares its first four CTEs) joined
    # on node; mass = PR - TR in the same int64 units.
    sqls["spam_mass"] = (
        "WITH " + ",\n".join(_pr_parts + _tr_parts[4:])
        + """
        SELECT r4.node,
               r4.node IN (SELECT node FROM sd) AS is_seed,
               CAST(r4.r AS BIGINT) AS pr_units,
               CAST(r4t.r AS BIGINT) AS tr_units,
               CAST(r4.r - r4t.r AS BIGINT) AS mass_units,
               CASE WHEN r4.r > 0 THEN
                 round((r4.r - r4t.r) / CAST(r4.r AS DOUBLE), 9)
               END AS rel_mass
        FROM r4 JOIN r4t ON r4.node = r4t.node"""
    )


    # benford: identical leading-digit math, counts, expectations, and
    # chi-square terms.
    sqls["benford"] = """
        WITH pos AS (
          SELECT l_extendedprice AS x FROM lineitem
          WHERE l_extendedprice > 0
        ),
        nn AS (SELECT count(*) AS n FROM pos),
        cnt AS (
          SELECT CAST(floor(x / pow(10.0, floor(log10(x)))) AS INT)
                   AS digit,
                 count(*) AS observed
          FROM pos GROUP BY 1
        ),
        dg AS (SELECT unnest(range(1, 10)) AS digit)
        SELECT CAST(dg.digit AS INT) AS digit,
               CAST(COALESCE(cnt.observed, 0) AS BIGINT) AS observed,
               round(CAST(nn.n AS DOUBLE)
                     * log10(1.0 + 1.0 / dg.digit), 9) AS expected,
               round((COALESCE(cnt.observed, 0)
                      - CAST(nn.n AS DOUBLE)
                        * log10(1.0 + 1.0 / dg.digit))
                     * (COALESCE(cnt.observed, 0)
                        - CAST(nn.n AS DOUBLE)
                          * log10(1.0 + 1.0 / dg.digit))
                     / (CAST(nn.n AS DOUBLE)
                        * log10(1.0 + 1.0 / dg.digit)), 9) AS chi2_term
        FROM dg LEFT JOIN cnt ON cnt.digit = dg.digit, nn
    """


    # corr_matrix: identical cent quantization, HUGEINT moments, and
    # per-pair float expression.
    _cm_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    _cm_q = ", ".join(
        f"CAST(round({c} * 100, 0) AS BIGINT) AS q{i}"
        for i, c in enumerate(_cm_cols))
    _cm_sums = ["count(*) AS n"]
    for _i in range(4):
        _cm_sums.append(f"SUM(q{_i}) AS s{_i}")
        for _j in range(_i, 4):
            _cm_sums.append(
                f"SUM(CAST(q{_i} AS HUGEINT) * CAST(q{_j} AS HUGEINT))"
                f" AS s{_i}_{_j}")
    _cm_rows = []
    for _i in range(4):
        for _j in range(_i + 1, 4):
            _num = (f"CAST(n * s{_i}_{_j} - CAST(s{_i} AS HUGEINT)"
                    f" * CAST(s{_j} AS HUGEINT) AS DOUBLE)")
            _vx = (f"CAST(n * s{_i}_{_i} - CAST(s{_i} AS HUGEINT)"
                   f" * CAST(s{_i} AS HUGEINT) AS DOUBLE)")
            _vy = (f"CAST(n * s{_j}_{_j} - CAST(s{_j} AS HUGEINT)"
                   f" * CAST(s{_j} AS HUGEINT) AS DOUBLE)")
            _cm_rows.append(
                f"SELECT '{_cm_cols[_i]}' AS col_x,"
                f" '{_cm_cols[_j]}' AS col_y,"
                f" round(CASE WHEN sqrt({_vx}) * sqrt({_vy}) <> 0.0"
                f" THEN {_num} / (sqrt({_vx}) * sqrt({_vy}))"
                f" END, 9) AS corr FROM mom")
    sqls["corr_matrix"] = f"""
        WITH q AS (SELECT {_cm_q} FROM lineitem),
        mom AS (SELECT {", ".join(_cm_sums)} FROM q)
        {" UNION ALL ".join(_cm_rows)}
    """

    # exact_quantiles: DuckDB's native quantile_disc is the independent
    # oracle for the histogram-refinement order statistic.
    sqls["exact_quantiles"] = """
        WITH a AS (SELECT quantile_disc(l_extendedprice,
                     [0.25, 0.5, 0.75, 0.95]) AS vs FROM lineitem)
        SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q,
               unnest(vs) AS value FROM a
    """

    # ogr_multijoin: unique keys -> OGR first-match LEFT JOIN == ANSI.
    sqls["ogr_multijoin"] = """
        SELECT c_custkey, c_acctbal, n_name, r_name FROM customer
        LEFT JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
        WHERE c_acctbal > 9000 ORDER BY c_custkey LIMIT 50
    """


    # contour length: 16-case marching squares in SQL (world4326 stencil)
    _gx1, _gy5 = 360.0 / 256, -180.0 / 256

    def _cv(dx: int, dy: int) -> str:
        fx = f"(px + {dx})" if dx else "px"
        fy = f"(py + {dy})" if dy else "py"
        return f"trunc((sin({fx} * 0.19) + cos({fy} * 0.13)) * 60.0 + 128.0)"

    _corn = {"a": _cv(0, 0), "b": _cv(1, 0), "c": _cv(1, 1), "d": _cv(0, 1)}

    def _ept(edge: int) -> tuple[str, str]:
        if edge == 0:
            return ("px + (L - a) / (b - a)", "CAST(py AS DOUBLE)")
        if edge == 1:
            return ("px + 1.0", "py + (L - b) / (c - b)")
        if edge == 2:
            return ("px + (L - d) / (c - d)", "py + 1.0")
        return ("CAST(px AS DOUBLE)", "py + (L - a) / (d - a)")

    def _seglen(e1: int, e2: int) -> str:
        x1, y1 = _ept(e1)
        x2, y2 = _ept(e2)
        return (f"sqrt(pow((({x2}) - ({x1})) * {_gx1!r}, 2) "
                f"+ pow((({y2}) - ({y1})) * {_gy5!r}, 2))")

    _case_len = []
    _case_cnt = []
    for code_, pairs_ in {8: (3, 0), 7: (0, 3), 4: (0, 1), 11: (1, 0),
                          2: (1, 2), 13: (2, 1), 1: (2, 3), 14: (3, 2),
                          12: (3, 1), 3: (1, 3), 6: (0, 2), 9: (2, 0)}.items():
        _case_len.append(f"WHEN {code_} THEN {_seglen(*pairs_)}")
        _case_cnt.append(f"WHEN {code_} THEN 1")
    _case_len.append(
        "WHEN 5 THEN CASE WHEN (a + b + c + d) / 4.0 >= L THEN "
        f"{_seglen(0, 1)} + {_seglen(2, 3)} ELSE "
        f"{_seglen(0, 3)} + {_seglen(2, 1)} END"
    )
    _case_len.append(
        "WHEN 10 THEN CASE WHEN (a + b + c + d) / 4.0 >= L THEN "
        f"{_seglen(3, 0)} + {_seglen(1, 2)} ELSE "
        f"{_seglen(1, 0)} + {_seglen(3, 2)} END"
    )
    _case_cnt.append("WHEN 5 THEN 2")
    _case_cnt.append("WHEN 10 THEN 2")
    _len_expr = "CASE code " + " ".join(_case_len) + " ELSE 0.0 END"
    _cnt_expr = "CASE code " + " ".join(_case_cnt) + " ELSE 0 END"
    _corn_cols = ",\n".join(f"          {v} AS {k}" for k, v in _corn.items())
    sqls["contour_length"] = f"""
        WITH lv AS (SELECT unnest([128.5, 150.5]) AS L),
        cells AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py, L,
{_corn_cols}
          FROM generate_series(0, 254) x(px)
          CROSS JOIN generate_series(0, 254) y(py)
          CROSS JOIN lv
        ),
        coded AS (
          SELECT *,
            (CASE WHEN a >= L THEN 8 ELSE 0 END
             + CASE WHEN b >= L THEN 4 ELSE 0 END
             + CASE WHEN c >= L THEN 2 ELSE 0 END
             + CASE WHEN d >= L THEN 1 ELSE 0 END) AS code
          FROM cells
        )
        SELECT L AS level,
               CAST(sum({_cnt_expr}) AS BIGINT) AS n_segments,
               round(sum({_len_expr}), 4) AS total_len
        FROM coded GROUP BY L
    """

    sqls["knn_auto"] = _KNN_ORACLE

    _fk = [(dx, dy, w) for dy, row in enumerate([[1, 2, 1], [2, 4, 2],
                                                 [1, 2, 1]])
           for dx, w in enumerate(row)]
    _fsum = " + ".join(
        f"trunc((sin((px + {dx - 1}) * 0.19) + cos((py + {dy - 1}) * 0.13)) "
        f"* 60.0 + 128.0) * {w / 16.0!r}"
        for dx, dy, w in _fk
    )
    sqls["focal_mean"] = f"""
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               ({_fsum}) AS v
        FROM generate_series(1, 254) x(px)
        CROSS JOIN generate_series(1, 254) y(py)
    """

    _gk_edges = []
    for r_ in range(4):
        for c_ in range(4):
            u_ = 4 * r_ + c_
            if c_ < 3:
                _gk_edges.append(
                    (u_, u_ + 1, 1.0 + ((u_ * 7919) % 97) / 89.0))
            if r_ < 3:
                _gk_edges.append(
                    (u_, u_ + 4, 1.0 + ((u_ * 104729) % 89) / 83.0))
    _gk_vals = ", ".join(f"({u}, {v}, {w!r})" for u, v, w in _gk_edges)
    sqls["graph_kshortest"] = f"""
        WITH RECURSIVE e(u, v, w) AS (SELECT * FROM (VALUES {_gk_vals})),
        p(node, cost, path) AS (
          SELECT 0, CAST(0.0 AS DOUBLE), '0'
          UNION ALL
          SELECT e.v, p.cost + e.w, p.path || '-' || CAST(e.v AS VARCHAR)
          FROM p JOIN e ON e.u = p.node
        )
        SELECT CAST(rank AS INTEGER) AS rank, round(cost, 6) AS cost, path
        FROM (
          SELECT row_number() OVER (ORDER BY cost ASC, path ASC) AS rank,
                 cost, path
          FROM p WHERE node = 15
        ) WHERE rank <= 3
    """

    # morph_open: binary mask m(dx,dy) over the closed-form fixture;
    # erode = least of the 9 masks, dilate = greatest, opening =
    # greatest over the 9 offsets of each offset's 9-term erosion.
    def _morph_mask(dx: int, dy: int) -> str:
        fx = f"(px + {dx})" if dx else "px"
        fy = f"(py + {dy})" if dy else "py"
        return (f"CASE WHEN trunc((sin({fx} * 0.19) + cos({fy} * 0.13))"
                f" * 60.0 + 128.0) >= 128.0 THEN 1 ELSE 0 END")

    _offs = [(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    _mo_erode = "least(" + ", ".join(
        _morph_mask(dx, dy) for dx, dy in _offs) + ")"
    _mo_dilate = "greatest(" + ", ".join(
        _morph_mask(dx, dy) for dx, dy in _offs) + ")"
    _mo_open = "greatest(" + ", ".join(
        "least(" + ", ".join(
            _morph_mask(ox + ex, oy + ey) for ex, ey in _offs) + ")"
        for ox, oy in _offs) + ")"
    _mo_close = "least(" + ", ".join(
        "greatest(" + ", ".join(
            _morph_mask(ox + ex, oy + ey) for ex, ey in _offs) + ")"
        for ox, oy in _offs) + ")"
    sqls["morph_close"] = f"""
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               CAST({_mo_close} AS INT) AS closed,
               CAST({_mo_dilate} - {_mo_erode} AS INT) AS gradient,
               CAST({_mo_close} - {_morph_mask(0, 0)} AS INT)
                 AS tophat_black
        FROM generate_series(2, 253) x(px)
        CROSS JOIN generate_series(2, 253) y(py)
    """

    sqls["morph_open"] = f"""
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               CAST({_mo_erode} AS INT) AS eroded,
               CAST({_mo_dilate} AS INT) AS dilated,
               CAST({_mo_open} AS INT) AS opened
        FROM generate_series(2, 253) x(px)
        CROSS JOIN generate_series(2, 253) y(py)
    """

    # openness: 64 slope samples over the closed-form fixture, greatest
    # per direction, atan once per direction, left-fold mean in the
    # kernel's OPENNESS_DIRS order; denominators are the repr() floats
    # the kernel computes (t, t*sqrt(2)).
    from lib_gdal_spark.operators.dem import OPENNESS_DIRS as _OD
    import math as _math

    def _op_v(ox: int, oy: int) -> str:
        fx = f"(px + {ox})" if ox else "px"
        fy = f"(py + {oy})" if oy else "py"
        return (f"trunc((sin({fx} * 0.19) + cos({fy} * 0.13))"
                f" * 60.0 + 128.0)")

    _op_dirs = []
    for _dx, _dy in _OD:
        _dist = _math.sqrt(2.0) if (_dx and _dy) else 1.0
        _terms = ", ".join(
            f"(({_op_v(_t * _dx, _t * _dy)}) - c) / {_t * _dist!r}"
            for _t in range(1, 9))
        _op_dirs.append(f"(90.0 - degrees(atan(greatest({_terms}))))")
    _op_fold = _op_dirs[0]
    for _d in _op_dirs[1:]:
        _op_fold = f"({_op_fold} + {_d})"
    sqls["openness"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(8, 247) x(px)
          CROSS JOIN generate_series(8, 247) y(py)
        ),
        ctr AS (SELECT px, py, {_op_v(0, 0)} AS c FROM pix)
        SELECT px, py, round(({_op_fold}) / 8.0, 6) AS openness
        FROM ctr
    """

    # sky_view_factor: same 64 slope samples; per direction
    # s = greatest(0, max_slope), term = 1 - s/sqrt(1+s*s) — no trig.
    _svf_dirs = []
    for _dx, _dy in _OD:
        _dist = _math.sqrt(2.0) if (_dx and _dy) else 1.0
        _terms = ", ".join(
            f"(({_op_v(_t * _dx, _t * _dy)}) - c) / {_t * _dist!r}"
            for _t in range(1, 9))
        _s = f"greatest(greatest({_terms}), 0.0)"
        _svf_dirs.append(f"(1.0 - {_s} / sqrt(1.0 + {_s} * {_s}))")
    _svf_fold = _svf_dirs[0]
    for _d in _svf_dirs[1:]:
        _svf_fold = f"({_svf_fold} + {_d})"
    sqls["sky_view_factor"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(8, 247) x(px)
          CROSS JOIN generate_series(8, 247) y(py)
        ),
        ctr AS (SELECT px, py, {_op_v(0, 0)} AS c FROM pix)
        SELECT px, py, round(({_svf_fold}) / 8.0, 9) AS svf
        FROM ctr
    """

    # geomorphons: per direction mx = greatest / mn = least of the same
    # 8 slope samples, then the trig-free tangent-addition sign test
    # (den = 1 - mx*mn; sum > flat iff den > 0 ? mx+mn > f*den : mx > 0)
    # with f = tan(radians(1.0)) embedded as the identical repr float;
    # counts -> the kernel's GEOMORPHON_MATRIX spelled as a CASE.
    from lib_gdal_spark.operators.dem import (
        GEOMORPHON_FORMS as _GF, GEOMORPHON_MATRIX as _GM)
    _gm_f = _math.tan(_math.radians(1.0))
    _gm_cols, _gm_plus, _gm_minus = [], [], []
    for _i, (_dx, _dy) in enumerate(_OD):
        _dist = _math.sqrt(2.0) if (_dx and _dy) else 1.0
        _terms = ", ".join(
            f"(({_op_v(_t * _dx, _t * _dy)}) - c) / {_t * _dist!r}"
            for _t in range(1, 9))
        _gm_cols.append(f"greatest({_terms}) AS mx{_i}, "
                        f"least({_terms}) AS mn{_i}")
        _den = f"(1.0 - mx{_i} * mn{_i})"
        _gm_plus.append(
            f"(CASE WHEN {_den} > 0.0"
            f" THEN (mx{_i} + mn{_i}) > {_gm_f!r} * {_den}"
            f" ELSE mx{_i} > 0.0 END)::INT")
        _gm_minus.append(
            f"(CASE WHEN {_den} > 0.0"
            f" THEN (mx{_i} + mn{_i}) < -({_gm_f!r} * {_den})"
            f" ELSE mx{_i} < 0.0 END)::INT")
    _gm_case = "CASE " + " ".join(
        f"WHEN nm = {_r} AND np = {_c} THEN {_v}"
        for _r, _row in enumerate(_GM) for _c, _v in enumerate(_row)
        if _v) + " END"
    _gm_name = "CASE form " + " ".join(
        f"WHEN {_i + 1} THEN '{_n}'" for _i, _n in enumerate(_GF)) + " END"
    sqls["geomorphons"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(8, 247) x(px)
          CROSS JOIN generate_series(8, 247) y(py)
        ),
        ctr AS (SELECT px, py, {_op_v(0, 0)} AS c FROM pix),
        dirs AS (SELECT px, py, {", ".join(_gm_cols)} FROM ctr),
        tern AS (
          SELECT px, py,
                 {" + ".join(_gm_plus)} AS np,
                 {" + ".join(_gm_minus)} AS nm
          FROM dirs
        ),
        cls AS (SELECT px, py, nm, np, {_gm_case} AS form FROM tern)
        SELECT px, py, CAST(nm AS INT) AS num_minus,
               CAST(np AS INT) AS num_plus, CAST(form AS INT) AS form,
               {_gm_name} AS landform
        FROM cls
    """

    # jenks_breaks: the identical Fisher DP unrolled — integer
    # cumulants, the same float SSE expression, per-level row_number
    # argmin with (cost, m) tie-break, and the 4-step backtrack chain.
    _jk_dp = []
    for _c in range(2, 6):
        _jk_dp.append(f"""dp{_c} AS MATERIALIZED (
          SELECT i, cost, m FROM (
            SELECT s.b AS i, d.cost + s.sse AS cost, s.p AS m,
                   row_number() OVER (PARTITION BY s.b
                                      ORDER BY d.cost + s.sse, s.p) AS rn
            FROM dp{_c - 1} d JOIN ssepair s ON s.p = d.i
          ) WHERE rn = 1
        )""")
    sqls["jenks_breaks"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 255) x(px)
          CROSS JOIN generate_series(0, 255) y(py)
        ),
        hist AS (
          SELECT CAST({_op_v(0, 0)} AS BIGINT) AS v, count(*) AS c
          FROM pix GROUP BY 1
        ),
        ordv AS (
          SELECT row_number() OVER (ORDER BY v) AS i, v, c FROM hist
        ),
        cum1 AS (
          SELECT i, v,
                 SUM(c) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS cn,
                 SUM(c * v) OVER (ORDER BY i
                                  ROWS UNBOUNDED PRECEDING) AS cs,
                 SUM(c * v * v) OVER (ORDER BY i
                                      ROWS UNBOUNDED PRECEDING) AS cs2
          FROM ordv
        ),
        cum AS (
          SELECT CAST(0 AS BIGINT) AS i, CAST(NULL AS BIGINT) AS v,
                 CAST(0 AS BIGINT) AS cn, CAST(0 AS BIGINT) AS cs,
                 CAST(0 AS BIGINT) AS cs2
          UNION ALL SELECT i, v, cn, cs, cs2 FROM cum1
        ),
        ssepair AS MATERIALIZED (
          SELECT p.i AS p, b.i AS b,
                 CAST(b.cs2 - p.cs2 AS DOUBLE)
                 - (CAST(b.cs - p.cs AS DOUBLE)
                    * CAST(b.cs - p.cs AS DOUBLE))
                   / CAST(b.cn - p.cn AS DOUBLE) AS sse
          FROM cum p JOIN cum b ON p.i < b.i
        ),
        dp1 AS (SELECT b AS i, sse AS cost, 0 AS m
                FROM ssepair WHERE p = 0),
        {",".join(_jk_dp)},
        bt AS (
          SELECT imax.i AS b5,
                 (SELECT m FROM dp5 WHERE i = imax.i) AS b4
          FROM (SELECT max(i) AS i FROM cum1) imax
        ),
        bt2 AS (SELECT b5, b4,
                       (SELECT m FROM dp4 WHERE i = bt.b4) AS b3 FROM bt),
        bt3 AS (SELECT b5, b4, b3,
                       (SELECT m FROM dp3 WHERE i = bt2.b3) AS b2
                FROM bt2),
        bt4 AS (SELECT b5, b4, b3, b2,
                       (SELECT m FROM dp2 WHERE i = bt3.b2) AS b1
                FROM bt3),
        cl AS (SELECT unnest([1, 2, 3, 4, 5]) AS cls),
        bounds AS (
          SELECT cls,
            CASE cls WHEN 1 THEN 0 WHEN 2 THEN b1 WHEN 3 THEN b2
                     WHEN 4 THEN b3 ELSE b4 END AS lo_i,
            CASE cls WHEN 1 THEN b1 WHEN 2 THEN b2 WHEN 3 THEN b3
                     WHEN 4 THEN b4 ELSE b5 END AS hi_i
          FROM cl, bt4
        )
        SELECT CAST(cls AS BIGINT) AS cls,
               (SELECT v FROM cum1 WHERE i = lo_i + 1) AS lower,
               (SELECT v FROM cum1 WHERE i = hi_i) AS upper,
               CAST((SELECT cn FROM cum WHERE i = hi_i)
                    - (SELECT cn FROM cum WHERE i = lo_i) AS BIGINT)
                 AS n_pixels,
               round((SELECT sse FROM ssepair
                      WHERE p = lo_i AND b = hi_i), 6) AS sse
        FROM bounds
    """

    # tpi_landforms: 24- and 288-term exact window sums, identical
    # quantization, HUGEINT moments, single-division z form, Horn slope,
    # and the same ordered classification CASE.
    def _tpi_sum(kk: int) -> str:
        # chunked into 16-term groups: DuckDB's binder recursion limit
        # (128) rejects a 288-term left-deep chain; integer sums are
        # grouping-invariant so the chunking cannot change the value
        terms = [
            _op_v(dx, dy)
            for dy in range(-kk, kk + 1) for dx in range(-kk, kk + 1)
            if not (dx == 0 and dy == 0)]
        chunks = [" + ".join(terms[i:i + 16])
                  for i in range(0, len(terms), 16)]
        return "(" + " + ".join(f"({c})" for c in chunks) + ")"

    from lib_gdal_spark.operators.dem import TPI_LANDFORMS as _TL
    _tl_name = ("CASE form " + " ".join(
        f"WHEN {i + 1} THEN '{nm}'" for i, nm in enumerate(_TL))
        + " END")
    sqls["tpi_landforms"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(8, 247) x(px)
          CROSS JOIN generate_series(8, 247) y(py)
        ),
        tq AS (
          SELECT px, py,
            CAST(floor(({_op_v(0, 0)} - {_tpi_sum(2)} / 24.0)
                       * 1000000.0 + 0.5) AS BIGINT) AS qs,
            CAST(floor(({_op_v(0, 0)} - {_tpi_sum(8)} / 288.0)
                       * 1000000.0 + 0.5) AS BIGINT) AS ql,
            degrees(atan(sqrt(
              ((({_op_v(1, -1)} + 2.0 * {_op_v(1, 0)} + {_op_v(1, 1)})
                - ({_op_v(-1, -1)} + 2.0 * {_op_v(-1, 0)}
                   + {_op_v(-1, 1)})) / (8.0 * 1.40625))
              * ((({_op_v(1, -1)} + 2.0 * {_op_v(1, 0)} + {_op_v(1, 1)})
                - ({_op_v(-1, -1)} + 2.0 * {_op_v(-1, 0)}
                   + {_op_v(-1, 1)})) / (8.0 * 1.40625))
              + ((({_op_v(-1, 1)} + 2.0 * {_op_v(0, 1)} + {_op_v(1, 1)})
                - ({_op_v(-1, -1)} + 2.0 * {_op_v(0, -1)}
                   + {_op_v(1, -1)})) / (8.0 * -0.703125))
              * ((({_op_v(-1, 1)} + 2.0 * {_op_v(0, 1)} + {_op_v(1, 1)})
                - ({_op_v(-1, -1)} + 2.0 * {_op_v(0, -1)}
                   + {_op_v(1, -1)})) / (8.0 * -0.703125))
            ) / 1.0)) AS slope
          FROM pix
        ),
        mo AS (
          SELECT count(*) AS n,
                 SUM(qs) AS ss, SUM(ql) AS sl_,
                 SUM(CAST(qs AS HUGEINT) * CAST(qs AS HUGEINT)) AS ss2,
                 SUM(CAST(ql AS HUGEINT) * CAST(ql AS HUGEINT)) AS sl2
          FROM tq
        ),
        z AS (
          SELECT px, py, slope,
            CAST(qs * n - ss AS DOUBLE)
              / sqrt(CAST(n * ss2 - CAST(ss AS HUGEINT)
                          * CAST(ss AS HUGEINT) AS DOUBLE)) AS zs,
            CAST(ql * n - sl_ AS DOUBLE)
              / sqrt(CAST(n * sl2 - CAST(sl_ AS HUGEINT)
                          * CAST(sl_ AS HUGEINT) AS DOUBLE)) AS zl
          FROM tq, mo
        ),
        cls AS (
          SELECT px, py, zs, zl, slope,
            CASE WHEN zs <= -1.0 AND zl <= -1.0 THEN 1
                 WHEN zs <= -1.0 AND zl < 1.0 THEN 2
                 WHEN zs <= -1.0 THEN 3
                 WHEN zs < 1.0 AND zl <= -1.0 THEN 4
                 WHEN zs < 1.0 AND zl < 1.0 AND slope <= 5.0 THEN 5
                 WHEN zs < 1.0 AND zl < 1.0 THEN 6
                 WHEN zs < 1.0 THEN 7
                 WHEN zl <= -1.0 THEN 8
                 WHEN zl < 1.0 THEN 9
                 ELSE 10 END AS form
          FROM z
        )
        SELECT px, py, round(zs, 6) AS zs, round(zl, 6) AS zl,
               round(slope, 6) AS slope, CAST(form AS INT) AS form,
               {_tl_name} AS landform
        FROM cls
    """

    # otsu_threshold: identical histogram cumulation + between-class
    # variance argmax with the same (var DESC, t ASC) tie-break.
    sqls["otsu_threshold"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 255) x(px)
          CROSS JOIN generate_series(0, 255) y(py)
        ),
        hist AS (
          SELECT CAST({_op_v(0, 0)} AS BIGINT) AS v, count(*) AS c
          FROM pix GROUP BY 1
        ),
        cum AS (
          SELECT v, c,
                 SUM(c) OVER (ORDER BY v
                              ROWS UNBOUNDED PRECEDING) AS c0,
                 SUM(c * v) OVER (ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS s0
          FROM hist
        ),
        tot AS (SELECT SUM(c) AS n, SUM(c * v) AS s FROM hist),
        sc AS (
          SELECT v AS threshold,
                 (c0 / n) * ((n - c0) / n)
                   * (s0 / c0 - (s - s0) / (n - c0))
                   * (s0 / c0 - (s - s0) / (n - c0)) AS between_var,
                 c0 AS n_below, n - c0 AS n_above
          FROM cum, tot WHERE c0 > 0 AND c0 < n
        )
        SELECT CAST(threshold AS BIGINT) AS threshold,
               round(between_var, 9) AS between_var,
               CAST(n_below AS BIGINT) AS n_below,
               CAST(n_above AS BIGINT) AS n_above
        FROM sc ORDER BY sc.between_var DESC, threshold LIMIT 1
    """

    # focal_stats: the 9 window samples as columns, 81 equality counts
    # for the majority (ties to smallest), exact-int sum/sum-of-squares
    # variance, and the identical explicit half-up 1e-6 std quantization.
    _fs_offs = [(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    _fs_vals = ", ".join(
        f"({_op_v(dx, dy)}) AS w{_i}"
        for _i, (dx, dy) in enumerate(_fs_offs))
    _fs_cnts = ", ".join(
        "(" + " + ".join(f"(CASE WHEN w{_i} = w{_j} THEN 1 ELSE 0 END)"
                         for _j in range(9)) + f") AS cnt{_i}"
        for _i in range(9))
    _fs_all = ", ".join(f"w{_i}" for _i in range(9))
    _fs_s = " + ".join(f"w{_i}" for _i in range(9))
    _fs_s2 = " + ".join(f"w{_i} * w{_i}" for _i in range(9))
    _fs_maxc = "greatest(" + ", ".join(f"cnt{_i}" for _i in range(9)) + ")"
    _fs_maj = "least(" + ", ".join(
        f"(CASE WHEN cnt{_i} = mc THEN w{_i} ELSE 1e18 END)"
        for _i in range(9)) + ")"
    sqls["focal_stats"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(1, 254) x(px)
          CROSS JOIN generate_series(1, 254) y(py)
        ),
        vals AS (SELECT px, py, {_fs_vals} FROM pix),
        cnt AS (SELECT px, py, {_fs_all}, {_fs_cnts},
                       {_fs_s} AS s, {_fs_s2} AS s2,
                       greatest({_fs_all}) - least({_fs_all}) AS rng
                FROM vals),
        mc AS (SELECT *, {_fs_maxc} AS mc FROM cnt)
        SELECT px, py,
               CAST({_fs_maj} AS BIGINT) AS f_majority,
               CAST(rng AS BIGINT) AS f_range,
               floor(sqrt((9.0 * s2 - s * s) / 81.0) * 1e6 + 0.5) / 1e6
                 AS f_std
        FROM mc
    """

    # dem_vrm: per-offset Horn gradients over the closed-form fixture;
    # the 9-normal sums use list_reduce over idx-ordered lists — the
    # same left fold as the kernel's VRM_OFFS accumulation.
    def _vrm_v(dx: int, dy: int) -> str:
        return (f"trunc((sin((px + ox + {dx}) * 0.19)"
                f" + cos((py + oy + {dy}) * 0.13)) * 60.0 + 128.0)")

    _vrm_w = {
        "a": _vrm_v(-1, -1), "b": _vrm_v(0, -1), "c": _vrm_v(1, -1),
        "d": _vrm_v(-1, 0), "f": _vrm_v(1, 0),
        "g": _vrm_v(-1, 1), "h": _vrm_v(0, 1), "i": _vrm_v(1, 1),
    }
    _vrm_offs = ", ".join(
        f"({i}, {ox}, {oy})"
        for i, (ox, oy) in enumerate(
            [(-1, -1), (0, -1), (1, -1), (-1, 0), (0, 0), (1, 0),
             (-1, 1), (0, 1), (1, 1)]))
    sqls["dem_vrm"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(2, 253) x(px)
          CROSS JOIN generate_series(2, 253) y(py)
        ),
        offs(idx, ox, oy) AS (SELECT * FROM (VALUES {_vrm_offs})),
        pq AS (
          SELECT px, py, idx,
            (({_vrm_w["c"]} + 2.0 * {_vrm_w["f"]} + {_vrm_w["i"]})
             - ({_vrm_w["a"]} + 2.0 * {_vrm_w["d"]} + {_vrm_w["g"]}))
              / (8.0 * 1.40625) AS p,
            (({_vrm_w["g"]} + 2.0 * {_vrm_w["h"]} + {_vrm_w["i"]})
             - ({_vrm_w["a"]} + 2.0 * {_vrm_w["b"]} + {_vrm_w["c"]}))
              / (8.0 * -0.703125) AS q
          FROM pix CROSS JOIN offs
        ),
        n AS (
          SELECT px, py, idx,
                 (0.0 - p) / den AS nx, (0.0 - q) / den AS ny,
                 1.0 / den AS nz
          FROM (SELECT *, sqrt(1.0 + (p * p + q * q)) AS den FROM pq)
        ),
        s AS (
          SELECT px, py,
                 list_reduce(list(nx ORDER BY idx), (u, w) -> u + w) AS sx,
                 list_reduce(list(ny ORDER BY idx), (u, w) -> u + w) AS sy,
                 list_reduce(list(nz ORDER BY idx), (u, w) -> u + w) AS sz
          FROM n GROUP BY px, py
        )
        SELECT px, py,
               round(1.0 - sqrt((sx * sx + sy * sy) + sz * sz) / 9.0, 9)
                 AS vrm
        FROM s
    """

    # zonal_crosstab: both fixtures in closed form; pixel area is the
    # dyadic 2025/2048, so count * area is exact before the round.
    sqls["zonal_crosstab"] = """
        WITH pix AS (
          SELECT x.px AS px, y.py AS py
          FROM generate_series(0, 255) x(px)
          CROSS JOIN generate_series(0, 255) y(py)
        ),
        v AS (
          SELECT CAST(trunc((sin(px * 0.19) + cos(py * 0.13)) * 60.0
                   + 128.0) AS BIGINT) // 32 AS zone,
                 ((px + py) // 2) // 64 AS cls
          FROM pix
        )
        SELECT zone, cls, CAST(count(*) AS BIGINT) AS n,
               round(count(*) * 0.98876953125, 6) AS area
        FROM v GROUP BY 1, 2
    """

    sqls["dem_aspect"] = _dem_oracle(
        "round(CASE WHEN 90.0 - degrees(atan2(dzdy, -dzdx)) < 0.0 "
        "THEN 90.0 - degrees(atan2(dzdy, -dzdx)) + 360.0 "
        "WHEN 90.0 - degrees(atan2(dzdy, -dzdx)) >= 360.0 "
        "THEN 90.0 - degrees(atan2(dzdy, -dzdx)) - 360.0 "
        "ELSE 90.0 - degrees(atan2(dzdy, -dzdx)) END, 6) AS aspect"
    )
    def _win_oracle(expr: str) -> str:
        def v(dx: int, dy: int) -> str:
            fx = f"(px + {dx})" if dx else "px"
            fy = f"(py + {dy})" if dy else "py"
            return (f"trunc((sin({fx} * 0.19) + cos({fy} * 0.13)) "
                    f"* 60.0 + 128.0)")
        win = {
            "a": v(-1, -1), "b": v(0, -1), "c": v(1, -1),
            "d": v(-1, 0), "e": v(0, 0), "f": v(1, 0),
            "g": v(-1, 1), "h": v(0, 1), "i": v(1, 1),
        }
        cells = ",\n".join(f"  {win[k]} AS {k}" for k in win)
        return f"""
            WITH pix AS (
              SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
              FROM generate_series(1, 254) x(px)
              CROSS JOIN generate_series(1, 254) y(py)
            ),
            win AS (SELECT px, py, {cells} FROM pix)
            SELECT px, py, {expr} FROM win
        """

    _tri_s = " + ".join(f"abs({w} - e)" for w in
                        ("a", "b", "c", "d", "f", "g", "h", "i"))
    sqls["dem_tri"] = _win_oracle(f"round(({_tri_s}) / 8.0, 6) AS tri")
    sqls["dem_tpi"] = _win_oracle(
        "round(e - (a + b + c + d + f + g + h + i) / 8.0, 6) AS tpi"
    )
    _win9 = "a, b, c, d, e, f, g, h, i"
    sqls["dem_roughness"] = _win_oracle(
        f"round(greatest({_win9}) - least({_win9}), 6) AS roughness"
    )

    # dem_flowdir: the eight drop/distance slopes and the first-match
    # CASE chain in the kernel's neighbor order (E, SE, S, SW, W, NW, N,
    # NE == codes ascending), which IS np.argmax's first-occurrence
    # tie-break; sqrt(2) is one correctly-rounded double both engines
    # share.
    _d8 = [("(e - f)", 1, False), ("(e - i)", 2, True),
           ("(e - h)", 4, False), ("(e - g)", 8, True),
           ("(e - d)", 16, False), ("(e - a)", 32, True),
           ("(e - b)", 64, False), ("(e - c)", 128, True)]
    _d8s = [f"({drop} / sqrt(2.0))" if diag else drop
            for drop, _, diag in _d8]
    _d8max = "greatest(" + ", ".join(_d8s) + ")"
    _d8case = " ".join(
        f"WHEN {s} = {_d8max} THEN {code}"
        for s, (_, code, _) in zip(_d8s, _d8))
    sqls["dem_flowdir"] = _win_oracle(
        f"CAST(CASE WHEN {_d8max} <= 0.0 THEN 0 {_d8case} END AS BIGINT)"
        " AS flowdir"
    )

    # dem_basins: the same flowdir arithmetic, a successor CASE, then
    # EIGHT materialized pointer-doubling CTEs (path length 256 cover).
    def _bv(dx2: int, dy2: int) -> str:
        fx = f"(px + {dx2})" if dx2 else "px"
        fy = f"(py + {dy2})" if dy2 else "py"
        return (f"trunc((sin({fx} * 0.19) + cos({fy} * 0.13)) "
                f"* 60.0 + 128.0)")

    _bwin = ",\n            ".join(
        f"{_bv(dx2, dy2)} AS {n}"
        for n, (dx2, dy2) in zip(
            "abcdefghi",
            [(-1, -1), (0, -1), (1, -1), (-1, 0), (0, 0), (1, 0),
             (-1, 1), (0, 1), (1, 1)]))
    _bdx = ("CASE code WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 0 "
            "WHEN 8 THEN -1 WHEN 16 THEN -1 WHEN 32 THEN -1 "
            "WHEN 64 THEN 0 WHEN 128 THEN 1 ELSE 0 END")
    _bdy = ("CASE code WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 4 THEN 1 "
            "WHEN 8 THEN 1 WHEN 16 THEN 0 WHEN 32 THEN -1 "
            "WHEN 64 THEN -1 WHEN 128 THEN -1 ELSE 0 END")
    _bdbl = ",\n        ".join(
        f"""s{_k + 1} AS MATERIALIZED (
          SELECT a.id, b.nxt FROM s{_k} a JOIN s{_k} b ON a.nxt = b.id
        )""" for _k in range(8))
    sqls["dem_basins"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(1, 254) x(px)
          CROSS JOIN generate_series(1, 254) y(py)
        ),
        win AS (
          SELECT px, py,
            {_bwin}
          FROM pix
        ),
        fd AS (
          SELECT px, py,
            CAST(CASE WHEN {_d8max} <= 0.0 THEN 0 {_d8case} END
                 AS BIGINT) AS code
          FROM win
        ),
        tgt AS (
          SELECT px, py, px + {_bdx} AS tx, py + {_bdy} AS ty FROM fd
        ),
        s0 AS MATERIALIZED (
          SELECT py * 65536 + px AS id,
            CASE WHEN tx BETWEEN 1 AND 254 AND ty BETWEEN 1 AND 254
                 THEN ty * 65536 + tx
                 ELSE py * 65536 + px END AS nxt
          FROM tgt
        ),
        {_bdbl}
        SELECT p.px, p.py, s8.nxt AS basin
        FROM pix p JOIN s8 ON s8.id = p.py * 65536 + p.px
    """

    # basin_zonal: the same basins chain + per-basin elevation stats;
    # elevations are integer-valued doubles, so sums are exact and the
    # mean is one IEEE division — engine-identical before the rounding.
    _bz_head, _bz_tail = sqls["dem_basins"].rsplit("SELECT p.px", 1)
    sqls["basin_zonal"] = _bz_head + f"""SELECT s8.nxt AS basin,
               CAST(count(*) AS BIGINT) AS n_cells,
               min({_bv(0, 0)}) AS z_min,
               max({_bv(0, 0)}) AS z_max,
               round(avg({_bv(0, 0)}), 6) AS z_mean
        FROM pix p JOIN s8 ON s8.id = p.py * 65536 + p.px
        GROUP BY 1
    """

    # cost_distance: identical grid-graph weights and 44 unrolled
    # min-relaxation rounds (fixpoint at 37 on this window); the seed
    # ids are py * 65536 + px.
    _cd_rounds = "".join(f"""
        r{i} AS MATERIALIZED (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM r{i - 1}
            UNION ALL
            SELECT e.v AS node, r.dist + e.w AS dist
            FROM r{i - 1} r JOIN edges e ON e.u = r.node
          ) GROUP BY node
        ),""" for i in range(1, 45))
    sqls["cost_distance"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(1, 40) x(px)
          CROSS JOIN generate_series(1, 40) y(py)
        ),
        cells AS MATERIALIZED (
          SELECT px, py, {_bv(0, 0)} AS c FROM pix
        ),
        edges AS MATERIALIZED (
          SELECT a.py * 65536 + a.px AS u, b.py * 65536 + b.px AS v,
                 ((a.c + b.c) / 2.0)
                 * (CASE WHEN a.px <> b.px AND a.py <> b.py
                         THEN sqrt(2.0) ELSE 1.0 END) AS w
          FROM cells a JOIN cells b
            ON b.px BETWEEN a.px - 1 AND a.px + 1
           AND b.py BETWEEN a.py - 1 AND a.py + 1
           AND (a.px <> b.px OR a.py <> b.py)
        ),
        r0 AS MATERIALIZED (
          SELECT * FROM (VALUES
            (5 * 65536 + 5, 0.0),
            (20 * 65536 + 38, 0.0),
            (38 * 65536 + 20, 0.0)) t(node, dist)
        ),{_cd_rounds}
        fin AS (SELECT node, dist FROM r44)
        SELECT p.px, p.py, round(f.dist, 9) AS dist
        FROM cells p JOIN fin f ON f.node = p.py * 65536 + p.px
    """

    # least_cost_path: the same fixpoint table, prev = the smallest
    # predecessor achieving du + w = dv exactly (the operator's
    # deterministic tie-break), then a recursive backtrack from the
    # target; step re-oriented seed -> target like the operator.
    _cd_head = sqls["cost_distance"].rsplit("fin AS", 1)[0]
    sqls["least_cost_path"] = "WITH RECURSIVE " + _cd_head.split("WITH ", 1)[1] + """
        fin AS MATERIALIZED (SELECT node, dist FROM r44),
        prevs AS MATERIALIZED (
          SELECT id, prev FROM (
            SELECT e.v AS id, e.u AS prev,
                   row_number() OVER (PARTITION BY e.v ORDER BY e.u) AS rn
            FROM edges e
            JOIN fin fu ON fu.node = e.u
            JOIN fin fv ON fv.node = e.v
            WHERE fu.dist + e.w = fv.dist
          ) WHERE rn = 1
        ),
        walk(back, id) AS (
          SELECT 0, 35 * 65536 + 10
          UNION ALL
          SELECT w.back + 1, p.prev FROM walk w JOIN prevs p ON p.id = w.id
        ),
        n AS (SELECT max(back) AS len FROM walk)
        SELECT CAST(n.len - w.back AS INT) AS step, c.px, c.py,
               round(f.dist, 9) AS dist
        FROM walk w CROSS JOIN n
        JOIN cells c ON c.py * 65536 + c.px = w.id
        JOIN fin f ON f.node = w.id
    """

    # cost_allocation: the cost_distance edges with 44 unrolled rounds
    # carrying (dist, seed); per-round (dist, seed) row_number argmin
    # mirrors the operator's lexicographic struct minimum.
    _ca_rounds = "".join(f"""
        ca{i} AS MATERIALIZED (
          SELECT node, dist, seed FROM (
            SELECT node, dist, seed,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY dist, seed) AS rn
            FROM (
              SELECT node, dist, seed FROM ca{i - 1}
              UNION ALL
              SELECT e.v AS node, r.dist + e.w AS dist, r.seed
              FROM ca{i - 1} r JOIN edges e ON e.u = r.node
            )
          ) WHERE rn = 1
        ),""" for i in range(1, 45))
    _ca_edges = sqls["cost_distance"].split("r0 AS", 1)[0]
    sqls["cost_allocation"] = _ca_edges + f"""ca0 AS MATERIALIZED (
          SELECT * FROM (VALUES
            (5 * 65536 + 5, 0.0, 5 * 65536 + 5),
            (20 * 65536 + 38, 0.0, 20 * 65536 + 38),
            (38 * 65536 + 20, 0.0, 38 * 65536 + 20))
            t(node, dist, seed)
        ),{_ca_rounds}
        fin AS (SELECT node, dist, seed FROM ca44)
        SELECT p.px, p.py, round(f.dist, 9) AS dist,
               CAST(f.seed % 65536 AS BIGINT) AS seed_px,
               CAST(f.seed // 65536 AS BIGINT) AS seed_py
        FROM cells p JOIN fin f ON f.node = p.py * 65536 + p.px
    """

    # cost_corridor: two independent relaxation chains over the SAME
    # edges (seeds A = (5,5)+(20,38), seeds B = (38,20)), 60 unrolled
    # rounds each (fixpoint earlier); corridor = round9(a) + round9(b)
    # re-rounded, matching the operator's composition of two
    # cost_distance outputs.
    def _cc_rounds(pfx: str) -> str:
        return "".join(f"""
        {pfx}{i} AS MATERIALIZED (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM {pfx}{i - 1}
            UNION ALL
            SELECT e.v AS node, r.dist + e.w AS dist
            FROM {pfx}{i - 1} r JOIN edges e ON e.u = r.node
          ) GROUP BY node
        ),""" for i in range(1, 61))

    _cc_edges = sqls["cost_distance"].split("r0 AS", 1)[0]
    sqls["cost_corridor"] = _cc_edges + f"""ca0 AS MATERIALIZED (
          SELECT * FROM (VALUES
            (5 * 65536 + 5, 0.0),
            (38 * 65536 + 20, 0.0)) t(node, dist)
        ),{_cc_rounds("ca")}
        cb0 AS MATERIALIZED (
          SELECT * FROM (VALUES
            (20 * 65536 + 38, 0.0)) t(node, dist)
        ),{_cc_rounds("cb")}
        fa AS (SELECT node, round(dist, 9) AS dist FROM ca60),
        fb AS (SELECT node, round(dist, 9) AS dist FROM cb60)
        SELECT p.px, p.py, fa.dist AS dist_a, fb.dist AS dist_b,
               round(fa.dist + fb.dist, 9) AS corridor
        FROM cells p
        JOIN fa ON fa.node = p.py * 65536 + p.px
        JOIN fb ON fb.node = p.py * 65536 + p.px
    """

    # raster_quantile_classes: quantile_disc quintile breaks over the
    # same closed-form pixels + the identical strict-greater class sum.
    sqls["raster_quantile_classes"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
                 CAST({_bv(0, 0)} AS DOUBLE) AS v
          FROM generate_series(0, 255) x(px)
          CROSS JOIN generate_series(0, 255) y(py)
        ),
        br AS (
          SELECT quantile_disc(v, [0.2, 0.4, 0.6, 0.8]) AS bs FROM pix
        )
        SELECT px, py, v,
               CAST((CASE WHEN v > bs[1] THEN 1 ELSE 0 END)
                  + (CASE WHEN v > bs[2] THEN 1 ELSE 0 END)
                  + (CASE WHEN v > bs[3] THEN 1 ELSE 0 END)
                  + (CASE WHEN v > bs[4] THEN 1 ELSE 0 END) AS INT) AS cls
        FROM pix, br
    """

    # strahler_order: identical flow edges on the [1,126]^2 window, then
    # 44 unrolled level-resolve rounds (materialized CTEs) — each round
    # admits every unresolved cell whose upstream set is fully resolved
    # and applies the Strahler rule via list aggregation (order-
    # insensitive: only the max and its multiplicity are used).
    _st_rounds = "".join(f"""
        c{i} AS MATERIALIZED (
          SELECT id, list_max(os)
                 + (CASE WHEN len(list_filter(os, x -> x = list_max(os)))
                         >= 2 THEN 1 ELSE 0 END) AS ord
          FROM (
            SELECT e.dst AS id, list(r.ord) AS os,
                   count(*) AS n_res, any_value(u.n_up) AS n_up
            FROM edges e
            JOIN r{i - 1} r ON r.id = e.src
            LEFT JOIN r{i - 1} d ON d.id = e.dst
            JOIN indeg u ON u.id = e.dst
            WHERE d.id IS NULL
            GROUP BY e.dst
          ) WHERE n_res = n_up
        ),
        r{i} AS MATERIALIZED (
          SELECT * FROM r{i - 1} UNION ALL SELECT id, ord FROM c{i}
        ),""" for i in range(1, 45))
    sqls["strahler_order"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(1, 126) x(px)
          CROSS JOIN generate_series(1, 126) y(py)
        ),
        win AS (
          SELECT px, py,
            {_bwin}
          FROM pix
        ),
        fd AS (
          SELECT px, py,
            CAST(CASE WHEN {_d8max} <= 0.0 THEN 0 {_d8case} END
                 AS BIGINT) AS code
          FROM win
        ),
        tgt AS (
          SELECT px, py, px + {_bdx} AS tx, py + {_bdy} AS ty FROM fd
        ),
        edges AS MATERIALIZED (
          SELECT py * 65536 + px AS src, ty * 65536 + tx AS dst
          FROM tgt
          WHERE (tx <> px OR ty <> py)
            AND tx BETWEEN 1 AND 126 AND ty BETWEEN 1 AND 126
        ),
        indeg AS MATERIALIZED (
          SELECT dst AS id, count(*) AS n_up FROM edges GROUP BY dst
        ),
        r0 AS MATERIALIZED (
          SELECT p.py * 65536 + p.px AS id, CAST(1 AS BIGINT) AS ord
          FROM pix p LEFT JOIN indeg i ON i.id = p.py * 65536 + p.px
          WHERE i.id IS NULL
        ),{_st_rounds}
        fin AS (SELECT id, ord FROM r44)
        SELECT p.px, p.py, CAST(f.ord AS BIGINT) AS strahler
        FROM pix p JOIN fin f ON f.id = p.py * 65536 + p.px
    """

    # flow_accumulation: the same flowdir + successor arithmetic, flow
    # EDGES only for positive-drop cells whose target stays interior,
    # then a recursive CTE walks every path (the D8 graph is acyclic —
    # strictly decreasing elevation — so each (ancestor, node) pair
    # occurs exactly once) and a count per destination is the upstream
    # cell count.
    sqls["flow_accumulation"] = f"""
        WITH RECURSIVE pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(1, 126) x(px)
          CROSS JOIN generate_series(1, 126) y(py)
        ),
        win AS (
          SELECT px, py,
            {_bwin}
          FROM pix
        ),
        fd AS (
          SELECT px, py,
            CAST(CASE WHEN {_d8max} <= 0.0 THEN 0 {_d8case} END
                 AS BIGINT) AS code
          FROM win
        ),
        tgt AS (
          SELECT px, py, px + {_bdx} AS tx, py + {_bdy} AS ty FROM fd
        ),
        edges AS MATERIALIZED (
          SELECT py * 65536 + px AS src, ty * 65536 + tx AS dst
          FROM tgt
          WHERE (tx <> px OR ty <> py)
            AND tx BETWEEN 1 AND 126 AND ty BETWEEN 1 AND 126
        ),
        walk AS (
          SELECT src, dst FROM edges
          UNION ALL
          SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
        ),
        acc AS (
          SELECT dst, count(*) AS n FROM walk GROUP BY dst
        )
        SELECT p.px, p.py, CAST(coalesce(a.n, 0) AS BIGINT) AS acc
        FROM pix p LEFT JOIN acc a ON a.dst = p.py * 65536 + p.px
    """

    # flow_length: the same D8 successor table with self-looping
    # terminals; a recursive-CTE walk folds integer (cardinal, diagonal)
    # step counts, and sqrt(2) is applied once in the final expression —
    # identical to the operator's pointer-doubling contract.
    sqls["flow_length"] = f"""
        WITH RECURSIVE pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(1, 126) x(px)
          CROSS JOIN generate_series(1, 126) y(py)
        ),
        win AS (
          SELECT px, py,
            {_bwin}
          FROM pix
        ),
        fd AS (
          SELECT px, py,
            CAST(CASE WHEN {_d8max} <= 0.0 THEN 0 {_d8case} END
                 AS BIGINT) AS code
          FROM win
        ),
        tgt AS (
          SELECT px, py, px + {_bdx} AS tx, py + {_bdy} AS ty FROM fd
        ),
        succ AS MATERIALIZED (
          SELECT py * 65536 + px AS id,
                 CASE WHEN (tx <> px OR ty <> py)
                       AND tx BETWEEN 1 AND 126 AND ty BETWEEN 1 AND 126
                      THEN ty * 65536 + tx ELSE py * 65536 + px END AS nxt,
                 CASE WHEN (tx <> px OR ty <> py)
                       AND tx BETWEEN 1 AND 126 AND ty BETWEEN 1 AND 126
                       AND NOT (abs(tx - px) = 1 AND abs(ty - py) = 1)
                      THEN 1 ELSE 0 END AS nc,
                 CASE WHEN (tx <> px OR ty <> py)
                       AND tx BETWEEN 1 AND 126 AND ty BETWEEN 1 AND 126
                       AND abs(tx - px) = 1 AND abs(ty - py) = 1
                      THEN 1 ELSE 0 END AS nd
          FROM tgt
        ),
        walk AS (
          SELECT id AS src, nxt AS cur, nc, nd FROM succ WHERE nxt <> id
          UNION ALL
          SELECT w.src, s.nxt, w.nc + s.nc, w.nd + s.nd
          FROM walk w JOIN succ s ON s.id = w.cur WHERE s.nxt <> s.id
        ),
        fin AS (
          SELECT w.src AS id, w.nc, w.nd
          FROM walk w JOIN succ t ON t.id = w.cur AND t.nxt = t.id
          UNION ALL
          SELECT id, 0, 0 FROM succ WHERE nxt = id
        )
        SELECT p.px, p.py,
               CAST(f.nc AS BIGINT) AS n_card,
               CAST(f.nd AS BIGINT) AS n_diag,
               round(f.nc + sqrt(2.0) * f.nd, 9) AS flow_len
        FROM pix p JOIN fin f ON f.id = p.py * 65536 + p.px
    """

    # flow_length_upstream: the same successor walk; per-node integer
    # max of nc*1e6 + nd*1414214 over every ancestor path.
    _flu_head = sqls["flow_length"].rsplit("fin AS", 1)[0]
    sqls["flow_length_upstream"] = _flu_head + f"""umax AS (
          SELECT cur AS id,
                 max(nc * 1000000 + nd * 1414214) AS upstream_units
          FROM walk GROUP BY cur
        )
        SELECT p.px, p.py,
               CAST(COALESCE(u.upstream_units, 0) AS BIGINT)
                 AS upstream_units,
               round(COALESCE(u.upstream_units, 0) / 1e6, 6)
                 AS upstream_len
        FROM pix p LEFT JOIN umax u ON u.id = p.py * 65536 + p.px
    """

    # dem_twi: the flow-accumulation walk composed with the Horn slope
    # window — ln((acc + 1) / max(tan(slope), 0.001)), op-for-op.
    sqls["dem_twi"] = f"""
        WITH RECURSIVE pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(1, 126) x(px)
          CROSS JOIN generate_series(1, 126) y(py)
        ),
        win AS (
          SELECT px, py,
            {_bwin}
          FROM pix
        ),
        fd AS (
          SELECT px, py,
            CAST(CASE WHEN {_d8max} <= 0.0 THEN 0 {_d8case} END
                 AS BIGINT) AS code
          FROM win
        ),
        tgt AS (
          SELECT px, py, px + {_bdx} AS tx, py + {_bdy} AS ty FROM fd
        ),
        edges AS MATERIALIZED (
          SELECT py * 65536 + px AS src, ty * 65536 + tx AS dst
          FROM tgt
          WHERE (tx <> px OR ty <> py)
            AND tx BETWEEN 1 AND 126 AND ty BETWEEN 1 AND 126
        ),
        walk AS (
          SELECT src, dst FROM edges
          UNION ALL
          SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
        ),
        acc AS (
          SELECT dst, count(*) AS n FROM walk GROUP BY dst
        ),
        slope AS (
          SELECT px, py,
            degrees(atan(sqrt(dzdx * dzdx + dzdy * dzdy) / 1.0)) AS sl
          FROM (
            SELECT px, py,
              ((c + 2.0 * f + i) - (a + 2.0 * d + g))
                / (8.0 * 1.40625) AS dzdx,
              ((g + 2.0 * h + i) - (a + 2.0 * b + c))
                / (8.0 * -0.703125) AS dzdy
            FROM win)
        )
        SELECT p.px, p.py,
               round(ln((coalesce(a.n, 0) + 1.0)
                        / greatest(tan(radians(s.sl)), 0.001)), 6) AS twi
        FROM pix p
        LEFT JOIN acc a ON a.dst = p.py * 65536 + p.px
        JOIN slope s ON s.px = p.px AND s.py = p.py
    """

    # fill_sinks: 80 unrolled Jacobi rounds of the Planchon-Darboux
    # min/max update (fixpoint at round 73 on this window — margin 7);
    # lattice ops only, so values match the priority-flood bit-for-bit.
    _fs_parts = [
        """fsg AS MATERIALIZED (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
                 CAST(y.py * 128 + x.px AS BIGINT) AS id,
                 trunc((sin(x.px * 0.19) + cos(y.py * 0.13)) * 60.0
                       + 128.0) AS z,
                 (x.px = 0 OR x.px = 127 OR y.py = 0 OR y.py = 127) AS brd
          FROM generate_series(0, 127) x(px)
          CROSS JOIN generate_series(0, 127) y(py)
        )""",
        """fsnb AS MATERIALIZED (
          SELECT g.id, n.id AS nid
          FROM fsg g JOIN fsg n
            ON n.px BETWEEN g.px - 1 AND g.px + 1
           AND n.py BETWEEN g.py - 1 AND g.py + 1
           AND (n.px <> g.px OR n.py <> g.py)
        )""",
        """fsw0 AS MATERIALIZED (
          SELECT id, CASE WHEN brd THEN z ELSE 1e30 END AS w FROM fsg
        )""",
    ]
    for _i in range(80):
        _fs_parts.append(
            f"""fsw{_i + 1} AS MATERIALIZED (
              SELECT g.id,
                     CASE WHEN g.brd THEN g.z
                          ELSE greatest(g.z, min(p.w)) END AS w
              FROM fsg g
              JOIN fsnb nb ON nb.id = g.id
              JOIN fsw{_i} p ON p.id = nb.nid
              GROUP BY g.id, g.z, g.brd
            )""")
    sqls["fill_sinks"] = (
        "WITH " + ",\n".join(_fs_parts)
        + """
        SELECT g.px, g.py, CAST(w.w AS BIGINT) AS fill
        FROM fsg g JOIN fsw80 w ON w.id = g.id"""
    )

    sqls["translate_auto"] = """
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               CAST(2 * x.px + 2 * y.py + 1 AS BIGINT) AS v
        FROM generate_series(0, 63) x(px) CROSS JOIN generate_series(0, 63) y(py)
    """

    _tl0, _tkx, _tla0, _tky = _TPS_AFF
    sqls["warp_tps"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        ll AS (
          SELECT px, py,
            {_tl0!r} + (px + 0.5) * {_tkx!r} AS lon,
            {_tla0!r} + (128.0 - (py + 0.5)) * {_tky!r} AS lat
          FROM pix
        ),
        sp AS (
          SELECT px, py,
            CAST(floor((lon + 180.0) / 1.40625) AS BIGINT) AS sx,
            CAST(floor((90.0 - lat) / 0.703125) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py,
               CAST(trunc((sin(sx * 0.19) + cos(sy * 0.13)) * 60.0 + 128.0)
                    AS BIGINT) AS v
        FROM sp
    """

    # RPC00B: P=(lat-OFF)/SC, L=(lon-OFF)/SC, H=0 at the fixed height;
    # nonzero terms only (adding literal 0.0 terms cannot change IEEE sums)
    _rl0, _rkx = 6.8, 0.4 / 128
    _rla0, _rky = 40.2, -0.4 / 128
    sqls["warp_rpc"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
        ),
        pl AS (
          SELECT px, py,
            (({_rla0!r} + (py + 0.5) * {_rky!r}) - 40.0) / 0.5 AS P,
            (({_rl0!r} + (px + 0.5) * {_rkx!r}) - 7.0) / 0.5 AS L
          FROM pix
        ),
        sl AS (
          SELECT px, py,
            128.0 + 120.0 * ((0.02 * L + P + 0.001 * L * L)
                             / (1.0 + 0.0005 * L + 0.0003 * P)) AS line,
            128.0 + 120.0 * ((L + -0.015 * P + 0.002 * P * P)
                             / (1.0 + 0.0005 * L + 0.0003 * P)) AS samp
          FROM pl
        ),
        sp AS (
          SELECT px, py,
            CAST(floor(samp) AS BIGINT) AS sx,
            CAST(floor(line) AS BIGINT) AS sy
          FROM sl
        )
        SELECT px, py, CAST((sx + sy) // 2 AS BIGINT) AS v
        FROM sp
    """

    _gl0, _gkx, _gla0, _gky = _GEOLOC_AFF
    sqls["warp_geoloc"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 63) x(px) CROSS JOIN generate_series(0, 63) y(py)
        ),
        ll AS (
          SELECT px, py,
            11.0 + (px + 0.5) * {10.0 / 64!r} AS lon,
            44.0 + (py + 0.5) * {-6.0 / 64!r} AS lat
          FROM pix
        ),
        sp AS (
          SELECT px, py,
            CAST(floor((lon - {_gl0!r}) / {_gkx!r}) AS BIGINT) AS sx,
            CAST(floor((lat - {_gla0!r}) / {_gky!r}) AS BIGINT) AS sy
          FROM ll
        )
        SELECT px, py, CAST((sx + sy) // 2 AS BIGINT) AS v
        FROM sp
    """

    _id_rows = []
    for fid_, bb_ in _OV_INPUT_BOXES.items():
        ai_ = _ov_method_inter(bb_)
        if ai_ > 0:
            _id_rows.append((fid_, 7, round(ai_, 6)))
        rem_ = _ov_area(bb_) - ai_
        if rem_ > 0:
            _id_rows.append((fid_, None, round(rem_, 6)))
    _idv = ", ".join(
        f"({f}, {m if m is not None else 'NULL'}, {a!r})"
        for f, m, a in _id_rows
    )
    sqls["layer_identity"] = (
        f"SELECT CAST(c0 AS BIGINT) AS in_fid, CAST(c1 AS BIGINT) AS m_fid, "
        f"CAST(c2 AS DOUBLE) AS area FROM (VALUES {_idv}) t(c0, c1, c2)"
    )
    _cl_rows = [
        (fid_, round(_ov_method_inter(bb_), 6), 1)
        for fid_, bb_ in _OV_INPUT_BOXES.items()
        if _ov_method_inter(bb_) > 0
    ]
    _clv = ", ".join(f"({f}, {a!r}, {n})" for f, a, n in _cl_rows)
    sqls["layer_clip"] = (
        f"SELECT CAST(c0 AS BIGINT) AS in_fid, CAST(c1 AS DOUBLE) AS area, "
        f"CAST(c2 AS BIGINT) AS n_pieces FROM (VALUES {_clv}) t(c0, c1, c2)"
    )

    sqls["dither_pct"] = """
        SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               CAST((x.px + y.py) % 2 AS BIGINT) AS v
        FROM generate_series(0, 127) x(px) CROSS JOIN generate_series(0, 127) y(py)
    """

    sqls["cutline_density"] = """
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
                 x.px + 0.5 AS cx, y.py + 0.5 AS cy
          FROM generate_series(0, 63) x(px) CROSS JOIN generate_series(0, 63) y(py)
        ),
        d AS (
          SELECT px, py,
            CASE WHEN cx >= 16.0 AND cx <= 48.0 AND cy >= 16.0 AND cy <= 48.0
                 THEN least(cx - 16.0, 48.0 - cx, cy - 16.0, 48.0 - cy)
                 ELSE -sqrt(pow(greatest(16.0 - cx, cx - 48.0, 0.0), 2)
                            + pow(greatest(16.0 - cy, cy - 48.0, 0.0), 2))
            END AS sd
          FROM pix
        )
        SELECT px, py,
               round(least(greatest(0.5 + sd / 8.0, 0.0), 1.0), 6) AS v
        FROM d
    """

    sqls["ogr_geometry_types"] = """
        SELECT CAST(fid AS BIGINT) AS fid,
          CASE fid % 10 WHEN 0 THEN 'POINT' WHEN 1 THEN 'LINESTRING'
               WHEN 2 THEN 'POLYGON' WHEN 3 THEN 'MULTIPOINT'
               WHEN 4 THEN 'MULTILINESTRING' WHEN 5 THEN 'MULTIPOLYGON'
               WHEN 6 THEN 'POINT' WHEN 7 THEN 'POINT'
               WHEN 8 THEN 'LINESTRING' ELSE 'POLYGON' END AS gtype,
          round(CASE fid % 10
               WHEN 2 THEN pow(1.0 + fid % 4, 2)
               WHEN 5 THEN pow(1.0 + fid % 4, 2)
                           + pow((1.0 + fid % 4) / 2.0, 2)
               WHEN 9 THEN pow(1.0 + fid % 4, 2)
               ELSE 0.0 END, 6) AS area,
          CASE fid % 10 WHEN 6 THEN 'M' WHEN 7 THEN 'ZM'
               WHEN 8 THEN 'M' WHEN 9 THEN 'ZM' ELSE '' END AS dim,
          CASE fid % 10
               WHEN 6 THEN CAST(fid * 10 AS DOUBLE)
               WHEN 7 THEN CAST(fid * 10 AS DOUBLE)
               WHEN 8 THEN 2.0 * (1.0 + fid % 4)
               WHEN 9 THEN 3.0
               ELSE NULL END AS m_max
        FROM generate_series(0, 99) t(fid)
        ORDER BY fid
    """

    sqls["ogr_reproject"] = f"""
        WITH pts AS ({_POINTS_SQL})
        SELECT pid AS fid,
          round(6378137.0 * radians(lon - 1.0), 4) AS minx,
          round(6378137.0 * ln(tan(pi() / 4.0 + radians(lat - 0.5) / 2.0)), 4)
            AS miny,
          round(6378137.0 * radians(lon + 1.0), 4) AS maxx,
          round(6378137.0 * ln(tan(pi() / 4.0 + radians(lat + 0.5) / 2.0)), 4)
            AS maxy
        FROM pts
        WHERE pid < 1500 AND lat > -83.0 AND lat < 83.0
    """

    sqls["ogr_special_fields"] = f"""
        WITH pts AS ({_POINTS_SQL})
        SELECT pid AS fid, 'POLYGON' AS gtype,
               round(4.0 * (1.0 + (pid % 5) * 0.5)
                         * (0.75 + (pid % 3) * 0.25), 6) AS area,
               'BRUSH(fc:#' || lpad(CAST(pid % 100 AS VARCHAR), 2, '0')
                 || ')' AS style
        FROM pts
        WHERE pid < 2000
          AND 4.0 * (1.0 + (pid % 5) * 0.5) * (0.75 + (pid % 3) * 0.25) > 8.2
        ORDER BY pid
    """

    sqls["ogr_execute_sql"] = """
        SELECT CAST(count(*) AS BIGINT) AS n,
               min(l_quantity) AS mn, max(l_quantity) AS mx
        FROM lineitem
        WHERE NOT coalesce(l_tax > 0.05, false)
          AND coalesce(l_returnflag IN ('A', 'R'), false)
    """


    # --- VERDICT r1 #5: oracles for previously-unchecked queries -----------


    sqls["lineref_parts"] = """
        SELECT 'p' || p AS path_id, CAST(k AS INTEGER) AS part_id,
               CASE WHEN k = 0 THEN 995.0
                    WHEN k = 9 THEN 1160.0
                    ELSE 1000.0 + 20.0*(k-1) END AS beg,
               CASE WHEN k = 0 THEN 1000.0
                    WHEN k = 9 THEN 1165.0
                    ELSE 1020.0 + 20.0*(k-1) END AS "end",
               CASE WHEN k IN (0, 9) THEN 5.0 ELSE 17.5 END AS length,
               CASE WHEN k IN (0, 9) THEN 1.0 ELSE 0.875 END AS scale_factor
        FROM generate_series(0, 9) s(p)
        CROSS JOIN generate_series(0, 9) t(k)
    """

    sqls["lineref_pos"] = """
        WITH q AS (
          SELECT q AS point_id, 6.5 + 2.9*q AS x, 0.5 + (q % 7)*0.3 AS y
          FROM generate_series(0, 29) s(q)
        )
        SELECT CAST(point_id AS INTEGER) AS point_id,
               CAST(floor((x - 5.0) / 17.5) AS INTEGER) + 1 AS part_id,
               round(1000.0 + (x - 5.0) / 0.875, 6) AS refdist,
               round(y, 6) AS dist
        FROM q
    """

    sqls["lineref_coord"] = """
        WITH q AS (
          SELECT q AS pos_id, 1000.5 + 7.25*q AS m
          FROM generate_series(0, 21) s(q)
        ), d AS (
          SELECT pos_id, m, 5.0 + (m - 1000.0)*0.875 AS arc
          FROM q
        )
        SELECT CAST(pos_id AS INTEGER) AS pos_id,
               CAST(floor((m - 1000.0) / 20.0) AS INTEGER) + 1 AS part_id,
               round(CASE WHEN arc <= 100.0 THEN arc ELSE 100.0 END, 6) AS x,
               round(CASE WHEN arc <= 100.0 THEN 0.0 ELSE arc - 100.0 END, 6)
                 AS y
        FROM d
    """

    sqls["vshift_apply"] = """
        SELECT i AS px, j AS py,
               round(CASE WHEN (i*31 + j) % 97 = 0 THEN -1.0
                     ELSE ((i*7 + j*13) % 200) * 0.3048
                          + (100.0 + (i + 0.5)*2.0) / 64.0
                          + (256.0 - (200.0 - (j + 0.5)*2.0)) / 64.0
                          - 0.375 END, 6) AS v
        FROM generate_series(0, 63) s(i)
        CROSS JOIN generate_series(0, 63) t(j)
    """

    sqls["flatten_mask"] = """
        SELECT i AS px, j AS py,
               CAST(CASE WHEN ((i // 4) + (j // 4)) % 2 = 0
                    THEN (i + j) % 251 ELSE -9999 END AS BIGINT) AS v
        FROM generate_series(0, 31) s(i)
        CROSS JOIN generate_series(0, 31) t(j)
    """

    # Fast-Hessian layer (octave 1, interval 2): filter 13, radius 6,
    # lobe 4, long-part 7, norm 169.  Integral image = two window cumsums
    # (all-integer, exact); the eight rectangle sums mirror
    # rect_sum's clamping (row/col-1 >= -1 via the zero-padded sat frame,
    # right/bottom LEAST-clamped to 39); det keeps the kernel's op order
    # with explicit DOUBLE casts so DuckDB decimal literals can't widen.
    sqls["surf_hessian"] = """
        WITH px AS (
          SELECT x.px, y.py,
                 CAST((17*x.px + 31*y.py + x.px*y.py) % 97 AS BIGINT) AS v
          FROM generate_series(0, 39) x(px)
          CROSS JOIN generate_series(0, 39) y(py)
        ),
        rowcum AS (
          SELECT px, py, SUM(v) OVER (PARTITION BY py ORDER BY px) AS rc
          FROM px
        ),
        sat0 AS (
          SELECT px, py, SUM(rc) OVER (PARTITION BY px ORDER BY py) AS s
          FROM rowcum
        ),
        sat AS (
          SELECT py AS r, px AS c, s FROM sat0
          UNION ALL SELECT -1, t.px, 0 FROM generate_series(-1, 39) t(px)
          UNION ALL SELECT t.py, -1, 0 FROM generate_series(0, 39) t(py)
        ),
        grid AS (
          SELECT gr.r, gc.c
          FROM generate_series(6, 34) gr(r)
          CROSS JOIN generate_series(6, 34) gc(c)
        ),
        rects AS (
          SELECT g.r, g.c, k.k,
            CASE k.k WHEN 1 THEN g.r-3 WHEN 2 THEN g.r-3 WHEN 3 THEN g.r-6
                     WHEN 4 THEN g.r-3 WHEN 5 THEN g.r-4 WHEN 6 THEN g.r+1
                     WHEN 7 THEN g.r-4 ELSE g.r+1 END AS rw,
            CASE k.k WHEN 1 THEN g.c-6 WHEN 2 THEN g.c-1 WHEN 3 THEN g.c-5
                     WHEN 4 THEN g.c-3 WHEN 5 THEN g.c-4 WHEN 6 THEN g.c+1
                     WHEN 7 THEN g.c+1 ELSE g.c-4 END AS cl,
            CASE k.k WHEN 1 THEN 13 WHEN 2 THEN 4 WHEN 3 THEN 7
                     WHEN 4 THEN 7 ELSE 4 END AS w,
            CASE k.k WHEN 1 THEN 7 WHEN 2 THEN 7 WHEN 3 THEN 13
                     WHEN 4 THEN 4 ELSE 4 END AS h
          FROM grid g
          CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6),(7),(8)) k(k)
        ),
        rsum AS (
          SELECT t.r, t.c, t.k,
                 GREATEST(a.s + b.s - x.s - y.s, 0) AS rs
          FROM rects t
          JOIN sat a ON a.r = t.rw - 1
                    AND a.c = t.cl - 1
          JOIN sat b ON b.r = LEAST(t.rw + t.h - 1, 39)
                    AND b.c = LEAST(t.cl + t.w - 1, 39)
          JOIN sat x ON x.r = t.rw - 1
                    AND x.c = LEAST(t.cl + t.w - 1, 39)
          JOIN sat y ON y.r = LEAST(t.rw + t.h - 1, 39)
                    AND y.c = t.cl - 1
        ),
        d AS (
          SELECT r, c,
            CAST(MAX(CASE WHEN k=1 THEN rs END)
                 - 3*MAX(CASE WHEN k=2 THEN rs END) AS DOUBLE) / 169.0 AS dxx,
            CAST(MAX(CASE WHEN k=3 THEN rs END)
                 - 3*MAX(CASE WHEN k=4 THEN rs END) AS DOUBLE) / 169.0 AS dyy,
            CAST(MAX(CASE WHEN k=5 THEN rs END)
                 + MAX(CASE WHEN k=6 THEN rs END)
                 - MAX(CASE WHEN k=7 THEN rs END)
                 - MAX(CASE WHEN k=8 THEN rs END) AS DOUBLE) / 169.0 AS dxy
          FROM rsum GROUP BY r, c
        )
        SELECT CAST(r AS INT) AS r, CAST(c AS INT) AS c,
               dxx*dyy - ((CAST(0.9 AS DOUBLE)*CAST(0.9 AS DOUBLE))*dxy)*dxy
                 AS det,
               CAST(CASE WHEN dxx + dyy >= 0 THEN 1 ELSE -1 END AS INT)
                 AS sign
        FROM d
    """

    # gdalinfo report: gradient/checker stats computed closed-form in SQL;
    # byte20's row is the reference's *published* byte.tif statistics
    # (GDAL autotest: min 74, max 255, mean 126.765, stddev 22.92847…),
    # an anchor independent of this engine.
    sqls["gdal_info"] = """
        WITH grad AS (
          SELECT CAST(trunc((x.i + y.j) * 0.5) AS DOUBLE) v
          FROM generate_series(0,255) x(i) CROSS JOIN generate_series(0,255) y(j)
        ), chk AS (
          SELECT CAST(CASE WHEN ((x.i // 8) + (y.j // 8)) % 2 = 0
                      THEN 20 ELSE 235 END AS DOUBLE) v
          FROM generate_series(0,63) x(i) CROSS JOIN generate_series(0,63) y(j)
        )
        SELECT 'gradient256' AS raster_id, CAST(256 AS BIGINT) AS width,
               CAST(256 AS BIGINT) AS height,
               0.0 AS ulx, 256.0 AS uly, 256.0 AS lrx, 0.0 AS lry,
               CAST(count(*) AS BIGINT) AS n, min(v) AS vmin, max(v) AS vmax,
               round(avg(v), 6) AS mean, round(stddev_pop(v), 6) AS stddev
        FROM grad
        UNION ALL
        SELECT 'checker64', CAST(64 AS BIGINT), CAST(64 AS BIGINT),
               0.0, 64.0, 64.0, 0.0,
               CAST(count(*) AS BIGINT), min(v), max(v),
               round(avg(v), 6), round(stddev_pop(v), 6)
        FROM chk
        UNION ALL
        SELECT 'byte20', CAST(20 AS BIGINT), CAST(20 AS BIGINT),
               440720.0, 3751320.0, 441920.0, 3750120.0,
               CAST(400 AS BIGINT), 74.0, 255.0, 126.765, 22.928471
    """

    # gdal2ogr: pixel centers through gt (0,1,0,256,0,-1), -step 3
    sqls["raster_to_points"] = """
        SELECT CAST(y.py * 256 + x.px AS BIGINT) AS fid,
               x.px + 0.5 AS x, 256.0 - (y.py + 0.5) AS y,
               CAST(trunc((x.px + y.py) * 0.5) AS BIGINT) AS z
        FROM generate_series(0, 255, 3) x(px)
        CROSS JOIN generate_series(0, 255, 3) y(py)
    """

    # dumpoverviews: AVERAGE cascade of an 8-px checkerboard stays the
    # coarser checkerboard through level 2 (blocks never straddle squares)
    sqls["dump_overviews"] = """
        SELECT CAST(l.k AS BIGINT) AS level,
               CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py,
               CAST(CASE WHEN ((x.px // (8 // (1 << l.k)))
                             + (y.py // (8 // (1 << l.k)))) % 2 = 0
                    THEN 20 ELSE 235 END AS BIGINT) AS v
        FROM generate_series(0, 2) l(k)
        CROSS JOIN generate_series(0, 63) x(px)
        CROSS JOIN generate_series(0, 63) y(py)
        WHERE x.px < (64 // (1 << l.k)) AND y.py < (64 // (1 << l.k))
    """

    # ogrinfo -so: per-type count + extent; feature envelopes are the
    # deterministic point formula shifted by each type's constant offsets
    sqls["ogr_layer_summary"] = f"""
        WITH pts AS ({_POINTS_SQL})
        SELECT CAST(1 AS BIGINT) AS geom_type,
               CAST(count(*) AS BIGINT) AS n_features,
               min(lon) AS minx, min(lat) AS miny,
               max(lon) AS maxx, max(lat) AS maxy
        FROM pts WHERE pid % 3 = 0
        UNION ALL
        SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
               min(lon), min(lat) - 1.0, max(lon) + 5.0, max(lat)
        FROM pts WHERE pid % 3 = 2
        UNION ALL
        SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
               min(lon), min(lat), max(lon) + 2.0, max(lat) + 3.0
        FROM pts WHERE pid % 3 = 1
    """

    # gdalsrsinfo: registry parameters as published EPSG constants; the
    # derived polar-stereographic k0 is recomputed INDEPENDENTLY from
    # Snyder 21-32..34 in SQL (t_ts, m_ts) rather than copied.
    srs_rows = []
    _AIRY_A = 6377563.396
    _CLRK66_A = 6378206.4
    for (epsg, proj, fi, lon0, k0, lat_ts, lat0, lat1, lat2, fe, fn,
         a_ax) in [
        (4326, "longlat", 298.257224, None, None, None, None, None, None,
         None, None, 6378137.0),
        (3857, "merc", 0.0, 0.0, None, None, None, None, None, 0.0, 0.0, 6378137.0),
        (32611, "tmerc", 298.257224, -117.0, 0.9996, None, None, None, None,
         500000.0, 0.0, 6378137.0),
        (32733, "tmerc", 298.257224, 15.0, 0.9996, None, None, None, None,
         500000.0, 10000000.0, 6378137.0),
        (26910, "tmerc", 298.257222, -123.0, 0.9996, None, None, None, None,
         500000.0, 0.0, 6378137.0),
        (25832, "tmerc", 298.257222, 9.0, 0.9996, None, None, None, None,
         500000.0, 0.0, 6378137.0),
        (5070, "aea", 298.257222, -96.0, None, None, 23.0, 29.5, 45.5,
         0.0, 0.0, 6378137.0),
        (3577, "aea", 298.257222, 132.0, None, None, 0.0, -18.0, -36.0,
         0.0, 0.0, 6378137.0),
        (2154, "lcc", 298.257222, 3.0, None, None, 46.5, 49.0, 44.0,
         700000.0, 6600000.0, 6378137.0),
        (3347, "lcc", 298.257222, -91.866667, None, None, 63.390675, 49.0,
         77.0, 6200000.0, 3000000.0, 6378137.0),
        (3031, "stere", 298.257224, 0.0, "K0", -71.0, None, None, None,
         0.0, 0.0, 6378137.0),
        (3413, "stere", 298.257224, -45.0, "K0", 70.0, None, None, None,
         0.0, 0.0, 6378137.0),
        (3976, "stere", 298.257224, 0.0, "K0", -70.0, None, None, None,
         0.0, 0.0, 6378137.0),
        (3995, "stere", 298.257224, 0.0, "K0", 71.0, None, None, None,
         0.0, 0.0, 6378137.0),
    (27700, "tmerc", 299.324965, -2.0, 0.999601, None, 49.0, None,
         None, 400000.0, -100000.0, _AIRY_A),
        (2193, "tmerc", 298.257222, 173.0, 0.9996, None, 0.0, None, None,
         1600000.0, 10000000.0, 6378137.0),
        (54008, "sinu", 0.0, 0.0, None, None, None, None, None,
         0.0, 0.0, 6378137.0),
        (54009, "moll", 0.0, 0.0, None, None, None, None, None,
         0.0, 0.0, 6378137.0),
        (4267, "longlat", 294.978698, None, None, None, None, None, None,
         None, None, _CLRK66_A),
        (3035, "laea", 298.257222, 10.0, None, None, 52.0, None, None,
         4321000.0, 3210000.0, 6378137.0),
        (28992, "sterea", 299.152813, 5.387639, 0.999908, None,
         52.156161, None, None, 155000.0, 463000.0, 6377397.155),
        (5514, "krovak", 299.152813, 24.833333, 0.9999, None,
         49.5, 78.5, None, 0.0, 0.0, 6377397.155),
        # Trinidad 1903 grid: Clarke 1858 in LINKS (a = 20926348 ft/0.66)
        (30200, "cass", round(1.0 / _CRS._CLARKE1858_F, 6), -61.333333,
         None, None, 10.441667, None, None, 430000.0, 325000.0,
         round(_CRS._CLARKE1858_A_LINKS, 6)),
        (29101, "poly", 298.25, -54.0, None, None, 0.0, None, None,
         5000000.0, 10000000.0, 6378160.0),
        (3395, "merc", 298.257224, 0.0, 1.0, None, None, None, None,
         0.0, 0.0, 6378137.0),
        (3002, "merc", 299.152813, 110.0, 0.997, None, None, None, None,
         3900000.0, 900000.0, 6377397.155),
        (4087, "eqc", 298.257224, 0.0, None, 0.0, None, None, None,
         0.0, 0.0, 6378137.0),
        # omerc: azimuth in the lat1 slot, grid angle in lat2
        (29873, "omerc", 300.8017, 115.0, 0.99984, None, 4.0,
         53.315820, 53.130102, 590476.87, 442857.65, 6377298.556),
        (32661, "stere", 298.257224, 0.0, 0.994, 90.0, None, None, None,
         2000000.0, 2000000.0, 6378137.0),
        (32761, "stere", 298.257224, 0.0, 0.994, -90.0, None, None, None,
         2000000.0, 2000000.0, 6378137.0),
        # NAD83 State Plane (functions/stateplane_data registry values)
        (26985, "lcc", 298.257222, -77.0, None, None, 37.666667, 38.3,
         39.45, 400000.0, 0.0, 6378137.0),
        (32139, "lcc", 298.257222, -100.333333, None, None, 29.666667,
         30.116667, 31.883333, 700000.0, 3000000.0, 6378137.0),
        (32111, "tmerc", 298.257222, -74.5, 0.9999, None, 38.833333,
         None, None, 150000.0, 0.0, 6378137.0),
    ]:
        def lit(v):
            return "CAST(NULL AS DOUBLE)" if v is None else repr(float(v))

        if k0 == "K0":
            k0sql = f"""(SELECT round(
                (cos(pts) / sqrt(1.0 - (e * sin(pts)) * (e * sin(pts))))
                * sqrt(pow(1.0 + e, 1.0 + e) * pow(1.0 - e, 1.0 - e))
                / (2.0 * (tan(pi() / 4.0 - pts / 2.0)
                   / pow((1.0 - e * sin(pts)) / (1.0 + e * sin(pts)),
                         e / 2.0))), 6)
                FROM (SELECT sqrt(f * (2.0 - f)) e, radians({abs(lat_ts)!r}) pts
                      FROM (SELECT 1.0 / 298.257223563 f)))"""
        else:
            k0sql = lit(k0)
        srs_rows.append(
            f"SELECT CAST({epsg} AS BIGINT) AS epsg, '{proj}' AS proj, "
            f"{a_ax!r} AS a, {lit(fi)} AS f_inv, {lit(lon0)} AS lon0, "
            f"{k0sql} AS k0, {lit(lat_ts)} AS lat_ts, {lit(lat0)} AS lat0, "
            f"{lit(lat1)} AS lat1, {lit(lat2)} AS lat2, "
            f"{lit(fe)} AS false_e, {lit(fn)} AS false_n"
        )
    sqls["srs_info"] = " UNION ALL ".join(srs_rows)

    # triangle_counts: orientation-independent result, so an independent
    # three-way self-join over normalized u<v edges is a full oracle.
    sqls["triangle_counts"] = """
        WITH e AS (
          SELECT DISTINCT least(o_orderkey % 97, o_custkey % 97) AS u,
                          greatest(o_orderkey % 97, o_custkey % 97) AS v
          FROM orders
          WHERE o_orderkey % 97 <> o_custkey % 97
        ),
        tri AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM e e1
          JOIN e e2 ON e2.u = e1.v
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        corners AS (
          SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri
        )
        SELECT CAST(node AS BIGINT) AS node,
               CAST(count(*) AS BIGINT) AS triangles
        FROM corners GROUP BY node
    """


    # gml_roundtrip: the geometry family is deterministic in fid, so
    # type/vertex-count/area are closed-form; identical=1 asserts the
    # WKB -> GML2 -> WKB -> GML3 -> WKB loop is byte-lossless.
    sqls["explode_collections"] = """
        WITH f AS (
          SELECT fid, fid % 6 AS k, 1.0 + fid % 4 AS w
          FROM generate_series(0, 59) t(fid)
        ),
        e AS (
          SELECT fid, k, w, part
          FROM f CROSS JOIN generate_series(0, 2) p(part)
          WHERE part < CASE k WHEN 3 THEN 3 WHEN 4 THEN 2 WHEN 5 THEN 2
                        ELSE 1 END
        )
        SELECT CAST(fid AS BIGINT) AS fid, CAST(part AS BIGINT) AS part,
               CASE WHEN k IN (0, 3) THEN 'POINT'
                    WHEN k IN (1, 4) THEN 'LINESTRING'
                    ELSE 'POLYGON' END AS gtype,
               CAST(CASE WHEN k IN (0, 3) THEN 1
                         WHEN k = 1 THEN 3
                         WHEN k = 4 THEN (CASE part WHEN 0 THEN 2 ELSE 3 END)
                         ELSE 5 END AS BIGINT) AS nv,
               round(CASE WHEN k = 2 THEN w * w
                          WHEN k = 5 THEN (CASE part WHEN 0 THEN w * w
                               ELSE (w / 2.0) * (w / 2.0) END)
                          ELSE 0.0 END, 6) AS area
        FROM e
    """

    sqls["wrap_dateline"] = """
        WITH g AS (
          SELECT gid, gid % 3 AS k, gid % 5 AS a, gid % 3 AS b2,
                 gid % 4 AS c, gid % 3 AS d,
                 -40.0 + (gid % 8) * 10.0 AS y0
          FROM generate_series(0, 35) t(gid)
        ),
        lt AS (
          SELECT gid, c, d,
                 (180.0 - (172.0 + c)) / ((184.0 + d) - (172.0 + c)) AS t
          FROM g WHERE k = 1
        ),
        ly AS (SELECT gid, c, d, 10.0 + t * (30.0 - 10.0) AS yc FROM lt)
        SELECT CAST(gid AS BIGINT) AS gid, CAST(0 AS BIGINT) AS part,
               'POLYGON' AS gtype, round((10.0 - a) * 10.0, 6) AS area,
               round(170.0 + a, 6) AS minx, 180.0 AS maxx,
               round(y0, 6) AS miny, round(y0 + 10.0, 6) AS maxy
        FROM g WHERE k = 0
        UNION ALL
        SELECT gid, 1, 'POLYGON', round((6.0 + b2) * 10.0, 6),
               -180.0, round(-174.0 + b2, 6), round(y0, 6),
               round(y0 + 10.0, 6)
        FROM g WHERE k = 0
        UNION ALL
        SELECT gid, 0, 'LINESTRING', 0.0, round(172.0 + c, 6), 180.0,
               10.0, round(yc, 6)
        FROM ly
        UNION ALL
        SELECT gid, 1, 'LINESTRING', 0.0, -180.0, round(-176.0 + d, 6),
               round(yc, 6), 30.0
        FROM ly
        UNION ALL
        SELECT gid, 0, 'POLYGON', 50.0, 10.0, 20.0, 0.0, 5.0
        FROM g WHERE k = 2
    """

    sqls["geojson_roundtrip"] = """
        SELECT CAST(fid AS BIGINT) AS fid,
          CASE fid % 6 WHEN 0 THEN 'POINT' WHEN 1 THEN 'LINESTRING'
               WHEN 2 THEN 'POLYGON' WHEN 3 THEN 'MULTIPOINT'
               WHEN 4 THEN 'MULTILINESTRING' ELSE 'MULTIPOLYGON' END AS gtype,
          CAST(CASE fid % 6 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 5
               WHEN 3 THEN 3 WHEN 4 THEN 5 ELSE 10 END AS BIGINT) AS nv,
          round(CASE fid % 6
               WHEN 2 THEN pow(1.0 + fid % 4, 2)
               WHEN 5 THEN pow(1.0 + fid % 4, 2)
                           + pow((1.0 + fid % 4) / 2.0, 2)
               ELSE 0.0 END, 6) AS area,
          CAST(1 AS BIGINT) AS identical
        FROM generate_series(0, 59) t(fid)
    """

    sqls["gml_roundtrip"] = """
        SELECT CAST(fid AS BIGINT) AS fid,
          CASE fid % 6 WHEN 0 THEN 'POINT' WHEN 1 THEN 'LINESTRING'
               WHEN 2 THEN 'POLYGON' WHEN 3 THEN 'MULTIPOINT'
               WHEN 4 THEN 'MULTILINESTRING' ELSE 'MULTIPOLYGON' END AS gtype,
          CAST(CASE fid % 6 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 5
               WHEN 3 THEN 3 WHEN 4 THEN 5 ELSE 10 END AS BIGINT) AS nv,
          round(CASE fid % 6
               WHEN 2 THEN pow(1.0 + fid % 4, 2)
               WHEN 5 THEN pow(1.0 + fid % 4, 2)
                           + pow((1.0 + fid % 4) / 2.0, 2)
               ELSE 0.0 END, 6) AS area,
          CAST(1 AS BIGINT) AS identical
        FROM generate_series(0, 59) t(fid)
    """

    # zonal_stats: integer-valued pixels -> every float sum is exact.
    sqls["zonal_stats"] = f"""
        WITH pix AS ({_PIXELS_SQL}),
        burned AS ({burn_parts}),
        vals AS (
          SELECT px, py, CAST((px * 7 + py * 13) % 100 AS DOUBLE) AS v
          FROM pix
        )
        SELECT CAST(fid AS DOUBLE) AS zone,
               CAST(count(*) AS BIGINT) AS n_pixels,
               round(sum(v), 6) AS v_sum,
               min(v) AS v_min, max(v) AS v_max,
               round(sum(v) / count(*), 6) AS v_mean
        FROM burned JOIN vals USING (px, py)
        GROUP BY fid
    """

    # zonal_majority: identical burned pixels, per-(zone, value) counts,
    # and the same (count, value) argmin orderings.
    sqls["zonal_majority"] = f"""
        WITH pix AS ({_PIXELS_SQL}),
        burned AS ({burn_parts}),
        vals AS (
          SELECT px, py, CAST((px * 7 + py * 13) % 100 AS BIGINT) AS v
          FROM pix
        ),
        cnt AS (
          SELECT fid AS zone, v, count(*) AS c
          FROM burned JOIN vals USING (px, py)
          GROUP BY 1, 2
        ),
        rk AS (
          SELECT zone, v, c,
                 row_number() OVER (PARTITION BY zone
                                    ORDER BY c DESC, v ASC) AS rmaj,
                 row_number() OVER (PARTITION BY zone
                                    ORDER BY c ASC, v ASC) AS rmin
          FROM cnt
        ),
        var AS (SELECT zone, count(*) AS variety FROM cnt GROUP BY zone)
        SELECT CAST(var.zone AS DOUBLE) AS zone,
               CAST(var.variety AS BIGINT) AS variety,
               CAST(mj.v AS BIGINT) AS majority,
               CAST(mj.c AS BIGINT) AS maj_count,
               CAST(mn.v AS BIGINT) AS minority,
               CAST(mn.c AS BIGINT) AS min_count
        FROM var
        JOIN rk mj ON mj.zone = var.zone AND mj.rmaj = 1
        JOIN rk mn ON mn.zone = var.zone AND mn.rmin = 1
    """


    # gtiff_roundtrip: closed-form per-raster stats — the Spark side must
    # get there through real TIFF encode->decode (LZW/deflate/packbits).
    sqls["gtiff_roundtrip"] = """
        SELECT 'g' || CASE WHEN r < 10 THEN '0' ELSE '' END || r
                   AS raster_id,
               CAST(sum((7 * px + 13 * py + r) % 251) AS BIGINT) AS sum_v,
               CAST(count(*) AS BIGINT) AS n_px,
               CAST(min((7 * px + 13 * py + r) % 251) AS BIGINT) AS min_v,
               CAST(max((7 * px + 13 * py + r) % 251) AS BIGINT) AS max_v,
               CAST(r * 10.0 AS DOUBLE) AS gt0
        FROM generate_series(0, 47) g(r)
        CROSS JOIN generate_series(0, 39) a(px)
        CROSS JOIN generate_series(0, 39) b(py)
        GROUP BY r
    """

    # shp_roundtrip: closed-form feature table — the Spark side must get
    # there through real .shp/.dbf encode->decode + ring assembly.
    sqls["shp_roundtrip"] = """
        SELECT 's' || CASE WHEN k < 10 THEN '0' ELSE '' END || k AS src,
               CAST(j AS BIGINT) AS fid,
               CAST(k * 10 + j AS BIGINT) AS val,
               CAST(CASE WHEN j = 2 THEN 2 ELSE 1 END AS INT) AS n_rings,
               CAST((j + 1) * (j + 1)
                    - CASE WHEN j = 2 THEN 0.25 ELSE 0 END AS DOUBLE)
                   AS area
        FROM generate_series(0, 59) a(k)
        CROSS JOIN generate_series(0, 2) b(j)
    """

    sqls["georss_items"] = """
        SELECT 'f' || k AS src, CAST(j AS BIGINT) AS fid,
               't' || j AS title,
               CAST((3 * k + j) % 340 - 170 AS DOUBLE) AS lon,
               CAST((k + j) % 80 - 40 AS DOUBLE) AS lat
        FROM generate_series(0, 99) a(k)
        CROSS JOIN generate_series(0, 4) b(j)
    """

    sqls["gtiff_export"] = """
        SELECT 'x' || CASE WHEN r < 10 THEN '0' ELSE '' END || r
                   AS raster_id,
               CAST(64 AS INT) AS w, CAST(64 AS INT) AS h,
               CAST(sum((9 * px + 5 * py + r) % 200) AS DOUBLE) AS sum_v,
               CAST(r * 5.0 AS DOUBLE) AS gt0
        FROM generate_series(0, 19) g(r)
        CROSS JOIN generate_series(0, 63) a(px)
        CROSS JOIN generate_series(0, 63) b(py)
        GROUP BY r
    """

    # hilbert_keys: the same rotate-and-accumulate iteration unrolled as
    # a 16-step integer CTE chain (xor() + CASE rotations, all BIGINT).
    _hl_parts = [
        """s0 AS (
          SELECT i, (7 * i) % 65536 AS x, (13 * i + 5) % 65536 AS y,
                 CAST(0 AS BIGINT) AS d
          FROM generate_series(0, 2999) t(i)
        )"""
    ]
    for _k in range(16):
        _s = 1 << (15 - _k)
        _hl_parts.append(f"""s{_k + 1} AS MATERIALIZED (
          SELECT i,
            CASE WHEN (y & {_s}) > 0 THEN x
                 WHEN (x & {_s}) > 0 THEN {_s} - 1 - y ELSE y END AS x,
            CASE WHEN (y & {_s}) > 0 THEN y
                 WHEN (x & {_s}) > 0 THEN {_s} - 1 - x ELSE x END AS y,
            d + {_s}::BIGINT * {_s} * xor(
                3 * (CASE WHEN (x & {_s}) > 0 THEN 1 ELSE 0 END),
                CASE WHEN (y & {_s}) > 0 THEN 1 ELSE 0 END) AS d
          FROM s{_k})""")
    sqls["hilbert_keys"] = (
        "WITH " + ",\n".join(_hl_parts)
        + "\nSELECT i, CAST(d AS BIGINT) AS hkey FROM s16")

    sqls["hgt_cells"] = """
        SELECT 'N' || (40 + c) || 'W' || (100 + c) || '.hgt'
                   AS raster_id,
               CAST(sum((3 * px + 5 * py + c) % 4000 - 200) AS BIGINT)
                   AS sum_v,
               round(CAST(-(100 + c) - 1.0 / 240 AS DOUBLE), 9) AS gt0
        FROM generate_series(0, 24) g(c)
        CROSS JOIN generate_series(0, 120) a(px)
        CROSS JOIN generate_series(0, 120) b(py)
        GROUP BY c
    """

    sqls["dted_cells"] = """
        SELECT 't' || CASE WHEN c < 10 THEN '0' ELSE '' END || c
                   AS raster_id,
               CAST(sum((7 * px + 11 * py + c) % 900 - 100) AS BIGINT)
                   AS sum_v,
               CAST(min((7 * px + 11 * py + c) % 900 - 100) AS BIGINT)
                   AS min_v,
               round(CAST(c - 15 - 1.0 / 240 AS DOUBLE), 9) AS gt0
        FROM generate_series(0, 29) g(c)
        CROSS JOIN generate_series(0, 120) a(px)
        CROSS JOIN generate_series(0, 120) b(py)
        GROUP BY c
    """

    sqls["netcdf_roundtrip"] = """
        SELECT 'n' || CASE WHEN c < 10 THEN '0' ELSE '' END || c
                   AS raster_id,
               CAST(sum((7 * px + 11 * py + 13 * c) % 500 - 50) AS BIGINT)
                   AS sum_v,
               CAST(min((7 * px + 11 * py + 13 * c) % 500 - 50) AS BIGINT)
                   AS min_v,
               round(CAST(2.0 * c AS DOUBLE), 9) AS gt0
        FROM generate_series(0, 23) g(c)
        CROSS JOIN generate_series(0, 119) a(px)
        CROSS JOIN generate_series(0, 89) b(py)
        GROUP BY c
    """


    sqls["dxf_entities"] = """
        SELECT 'd' || CASE WHEN k < 10 THEN '0' ELSE '' END || k AS src,
               CAST(j AS BIGINT) AS fid,
               CASE j WHEN 0 THEN 'POINT' WHEN 1 THEN 'LINE'
                      WHEN 2 THEN 'LWPOLYLINE' ELSE 'CIRCLE' END
                   AS entity,
               round(CASE j
                 WHEN 0 THEN 2 * k + 2 * (k % 7)
                 WHEN 1 THEN 2 * k + 7
                 WHEN 2 THEN (k % 4 + 1) * (k % 4 + 1)
                 ELSE 45.0 * (k % 3 + 1) * (k % 3 + 1)
                      * sin(radians(4))
               END, 6) AS meas
        FROM generate_series(0, 59) a(k)
        CROSS JOIN generate_series(0, 3) b(j)
    """

    # mvt_tiles: web-mercator quantization reproduced closed-form —
    # O = 20037508.342789244, size = 2O/8 at z=3, extent 4096.
    sqls["mvt_tiles"] = """
        WITH p AS (
          SELECT i,
                 -177.25 + fmod(i * 13.7, 354.0) AS lon,
                 -63.05 + fmod(i * 9.3, 127.0) AS lat
          FROM generate_series(0, 199) t(i)
        ), m AS (
          SELECT i,
                 lon / 180.0 * 20037508.342789244 AS mx,
                 ln(tan((90 + lat) * pi() / 360.0)) / pi()
                     * 20037508.342789244 AS my
          FROM p
        ), k AS (
          SELECT i, mx, my,
                 CAST(floor((mx + 20037508.342789244)
                      / (20037508.342789244 / 4)) AS INT) AS tx,
                 CAST(floor((20037508.342789244 - my)
                      / (20037508.342789244 / 4)) AS INT) AS ty
          FROM m
        )
        SELECT i, tx, ty,
               CAST(round((mx + 20037508.342789244)
                    / (20037508.342789244 / 4) * 4096
                    - tx * 4096, 0) AS INT) AS px,
               CAST(round((20037508.342789244 - my)
                    / (20037508.342789244 / 4) * 4096
                    - ty * 4096, 0) AS INT) AS py
        FROM k
    """


    sqls["format_convert"] = """
        SELECT k, CAST(1 AS INT) AS bytes_equal, CAST(2 AS INT) AS n_rings,
               CAST((k % 6 + 2) * (k % 6 + 2) - 0.25 AS DOUBLE) AS area
        FROM generate_series(0, 79) t(k)
    """

    sqls["cdx_index"] = """
        SELECT 'com,example,h' || (id % 50) || ')/p' || id ||
               CASE WHEN id % 3 = 0
                    THEN '?a=' || (id % 7) || '&b=2' ELSE '' END AS surt,
               strftime(TIMESTAMP '2024-01-01 00:00:00'
                        + to_seconds(id), '%Y%m%d%H%M%S') AS ts,
               'https://WWW.H' || (id % 50) || '.Example.com' ||
               CASE WHEN id % 2 = 0 THEN ':443' ELSE '' END ||
               '/P' || id ||
               CASE WHEN id % 3 = 0
                    THEN '?b=2&a=' || (id % 7) ELSE '' END AS url,
               CAST(CASE WHEN id % 5 = 4 THEN 404 ELSE 200 END AS INT)
                   AS status,
               'text/html' AS mime,
               md5(repeat('x', CAST(10 + id % 90 AS INT))) AS digest,
               CAST(10 + id % 90 AS BIGINT) AS length
        FROM generate_series(0, 799) t(id)
    """

    sqls["ehdr_roundtrip"] = """
        SELECT 'e' || CASE WHEN r < 10 THEN '0' ELSE '' END || r
                   AS raster_id,
               CAST(c + 1 AS INT) AS band,
               CAST(sum((5 * px + 9 * py + r + 100 * c) % 251) AS BIGINT)
                   AS sum_v,
               CAST(r * 3.0 AS DOUBLE) AS gt0
        FROM generate_series(0, 35) g(r)
        CROSS JOIN generate_series(0, 1) ch(c)
        CROSS JOIN generate_series(0, 19) a(px)
        CROSS JOIN generate_series(0, 19) b(py)
        GROUP BY r, c
    """

    sqls["png_roundtrip"] = """
        SELECT 'p' || CASE WHEN r < 10 THEN '0' ELSE '' END || r
                   AS raster_id,
               CAST(c + 1 AS INT) AS band,
               CAST(sum((3 * px + 7 * py + r + 11 * c) % 256) AS BIGINT)
                   AS sum_v,
               CAST(count(*) AS BIGINT) AS n_px
        FROM generate_series(0, 39) g(r)
        CROSS JOIN generate_series(0, 3) ch(c)
        CROSS JOIN generate_series(0, 23) a(px)
        CROSS JOIN generate_series(0, 23) b(py)
        GROUP BY r, c
    """

    sqls["sitemap_entries"] = """
        SELECT 's' || k AS src,
               'https://s' || k || '.example/' || i AS loc,
               CASE WHEN i % 2 = 0 THEN '2024-03-' ||
                    CASE WHEN (k + i) % 28 + 1 < 10 THEN '0' ELSE '' END
                    || ((k + i) % 28 + 1)
                    ELSE '-' END AS lastmod,
               CAST(CASE WHEN i % 2 = 0 THEN ((k + i) % 10) / 10.0
                    ELSE -1.0 END AS DOUBLE) AS prio
        FROM generate_series(0, 119) a(k)
        CROSS JOIN generate_series(0, 7) b(i)
    """

    # mif_roundtrip: measures per feature class — point x+2y, pline
    # Σ(x+2y), region shell area minus the 0.5-side hole (0.25).
    sqls["csv_layer"] = """
        SELECT k,
               round(CAST((k % 5 + 2) * (k % 5 + 2) AS DOUBLE), 6) AS area,
               'doc,"' || k || '"' AS name,
               k AS n,
               k / 4.0 AS x
        FROM generate_series(0, 49) t(k)
    """

    sqls["mif_roundtrip"] = """
        SELECT 'm' || CASE WHEN k < 10 THEN '0' ELSE '' END || k AS src,
               CAST(j AS BIGINT) AS fid,
               CAST(k * 10 + j AS BIGINT) AS val,
               CAST(CASE j
                 WHEN 0 THEN 2 * k + 2 * ((3 * k) % 7)
                 WHEN 1 THEN 3 * k + 11
                 ELSE (k % 5 + 2) * (k % 5 + 2) - 0.25
               END AS DOUBLE) AS meas
        FROM generate_series(0, 49) a(k)
        CROSS JOIN generate_series(0, 2) b(j)
    """

    sqls["aaigrid_roundtrip"] = """
        SELECT 'a' || CASE WHEN r < 10 THEN '0' ELSE '' END || r
                   AS raster_id,
               CAST(sum(CASE WHEN (11 * px + 3 * py + r) % 53 = 0
                             THEN -9999 ELSE (11 * px + 3 * py + r) % 53
                        END) AS BIGINT) AS sum_v,
               CAST(sum(CASE WHEN (11 * px + 3 * py + r) % 53 = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_nodata,
               CAST(r * 2.0 AS DOUBLE) AS gt0
        FROM generate_series(0, 39) g(r)
        CROSS JOIN generate_series(0, 23) a(px)
        CROSS JOIN generate_series(0, 23) b(py)
        GROUP BY r
    """


    sqls["warc_ingest"] = """
        WITH g AS (
          SELECT k, i, k * 25 + i AS g
          FROM generate_series(0, 39) a(k)
          CROSS JOIN generate_series(0, 24) b(i)
        )
        SELECT 'https://h' || (g % 500) || '.example/' || k || '/' || i
                   AS url,
               CAST(CASE i % 5 WHEN 1 THEN 404 WHEN 3 THEN 301
                    ELSE 200 END AS INT) AS http_status,
               CAST(50 + g % 200 AS BIGINT) AS n_bytes,
               CAST(epoch(TIMESTAMP '2024-01-01 00:00:00') + g AS BIGINT)
                   AS ts_epoch
        FROM g
    """

    # viewshed: same all-integer sampled-LOS construction; the only
    # float is the correctly-rounded sample-snap divide (engine-exact,
    # see operators/viewshed.py docstring).
    sqls["viewshed"] = """
        WITH pxl AS (
          SELECT x, y,
                 CAST(((x*x + 3*y) % 37) + ((x + y*y) % 23)
                      + CASE WHEN x = 40 THEN 60 ELSE 0 END AS BIGINT) AS z
          FROM generate_series(0, 63) a(x)
          CROSS JOIN generate_series(0, 63) b(y)
        ), obs AS (
          SELECT z + 3 AS oz FROM pxl WHERE x = 32 AND y = 32
        ), tgt AS (
          SELECT x AS tx, y AS ty, z AS tz,
                 greatest(abs(x - 32), abs(y - 32)) AS n
          FROM pxl
        ), smp AS (
          SELECT tx, ty, tz, n, unnest(range(1, n)) AS t
          FROM tgt WHERE n >= 2
        ), pos AS (
          SELECT tx, ty, tz, n, t,
                 CAST(floor((32 * n + t * (tx - 32)) / n + 0.5)
                      AS BIGINT) AS sx,
                 CAST(floor((32 * n + t * (ty - 32)) / n + 0.5)
                      AS BIGINT) AS sy
          FROM smp
        ), blk AS (
          SELECT tx, ty,
                 SUM(CASE WHEN (p.z - o.oz) * pos.n
                              >= (pos.tz - o.oz) * pos.t
                     THEN 1 ELSE 0 END) AS nb
          FROM pos
          JOIN pxl p ON p.x = pos.sx AND p.y = pos.sy
          CROSS JOIN obs o
          GROUP BY tx, ty
        )
        SELECT CAST(t.tx AS BIGINT) AS px, CAST(t.ty AS BIGINT) AS py,
               COALESCE(b.nb, 0) = 0 AS visible,
               CAST(COALESCE(b.nb, 0) AS BIGINT) AS n_blockers
        FROM tgt t LEFT JOIN blk b ON b.tx = t.tx AND b.ty = t.ty
    """

    sqls["wet_wat_ingest"] = """
        WITH g AS (
          SELECT k, i, k * 20 + i AS g
          FROM generate_series(0, 29) a(k)
          CROSS JOIN generate_series(0, 19) b(i)
        )
        SELECT 'https://h' || (g % 300) || '.example/p/' || g AS url,
               CAST(5 + g % 13 AS BIGINT) AS n_tokens,
               'Title ' || (g % 50) AS title,
               CAST(g % 4 AS BIGINT) AS n_links,
               CAST(epoch(TIMESTAMP '2024-02-01 00:00:00') + g AS BIGINT)
                   AS ts_epoch
        FROM g
    """


    # cog_pyramid: block-average sums telescope — sum(level k) equals
    # sum(level 0)/4^k exactly (dyadic divisions of an integer total).
    sqls["cog_pyramid"] = """
        WITH l0 AS (
          SELECT r, sum((3 * px + 5 * py + r) % 97) AS s
          FROM generate_series(0, 29) g(r)
          CROSS JOIN generate_series(0, 63) a(px)
          CROSS JOIN generate_series(0, 63) b(py)
          GROUP BY r
        )
        SELECT 'c' || CASE WHEN r < 10 THEN '0' ELSE '' END || r
                   AS raster_id,
               CAST(lvl AS INT) AS level,
               CAST(64 / pow(2, lvl) AS INT) AS w,
               CAST(64 / pow(2, lvl) AS INT) AS h,
               CAST(s / pow(4, lvl) AS DOUBLE) AS sum_v
        FROM l0 CROSS JOIN generate_series(0, 2) t(lvl)
    """

    sqls["osm_way_assembly"] = """
        WITH refs AS (
          SELECT k, pos,
                 CASE WHEN pos < 5 THEN k * 10 + pos
                      ELSE ((k + 1) % 100) * 10 + (pos - 5) END AS nid
          FROM generate_series(0, 99) a(k)
          CROSS JOIN generate_series(0, 7) b(pos)
        )
        SELECT k AS way_id, CAST(8 AS INT) AS n_pts,
               CAST(sum((pos + 1) * ((nid * 7 % 360 - 180)
                        + 2.0 * (nid * 13 % 170 - 85))) AS DOUBLE) AS wsum
        FROM refs GROUP BY k
    """

    sqls["kml_placemarks"] = """
        SELECT d.id AS doc_id, CAST(j AS BIGINT) AS fid,
               'pm' || j AS name,
               CAST((d.id * 3 + j) % 160 - 80 AS DOUBLE) AS lon,
               CAST((d.id + j) % 80 AS DOUBLE) AS lat,
               CAST(d.id * 10 + j AS BIGINT) AS v
        FROM generate_series(0, 149) d(id)
        CROSS JOIN generate_series(0, 3) t(j)
    """

    sqls["gpx_track_points"] = """
        SELECT d.id AS doc_id, CAST(i AS BIGINT) AS fid,
               CAST((d.id * 3 + i) % 160 AS DOUBLE) AS lon,
               CAST(d.id % 80 AS DOUBLE) AS lat,
               CAST(d.id + i AS DOUBLE) AS ele
        FROM generate_series(0, 199) d(id)
        CROSS JOIN generate_series(0, 4) t(i)
    """

    zg_parts = []
    fourpi = repr(4.0 * math.pi)
    for mid, (mnx, mny, mxx, mxy) in METHOD_BOXES.items():
        zg_parts.append(f"""
        SELECT CAST({mid} AS BIGINT) AS zone,
          (SELECT count(*) FROM generate_series(0, 255) t(px)
           WHERE -180.0 + (px + 0.5) * 1.40625 > {mnx!r}
             AND -180.0 + (px + 0.5) * 1.40625 < {mxx!r}) AS nw,
          (SELECT count(*) FROM generate_series(0, 255) t(py)
           WHERE 90.0 - (py + 0.5) * 0.703125 > {mny!r}
             AND 90.0 - (py + 0.5) * 0.703125 < {mxy!r}) AS nh
        """)
    sqls["zonal_geometry"] = f"""
        WITH b AS ({' UNION ALL '.join(zg_parts)})
        SELECT zone, nw * nh AS area_px,
          round(nw * nh * (1.40625 * 0.703125), 9) AS area,
          round((2 * nh) * 0.703125 + (2 * nw) * 1.40625, 9) AS perimeter,
          round({fourpi} * (nw * nh * (1.40625 * 0.703125))
                / (((2 * nh) * 0.703125 + (2 * nw) * 1.40625)
                   * ((2 * nh) * 0.703125 + (2 * nw) * 1.40625)), 9)
            AS compactness
        FROM b
    """

    # str_partition: the same ranks/cuts via two row_number windows and
    # integer floor division.
    sqls["str_partition"] = f"""
        WITH pts AS (
          SELECT pid, lon AS x, lat AS y FROM ({_POINTS_SQL})
          WHERE lon >= 0 AND lon < 40 AND lat >= 0 AND lat < 40
        ),
        nn AS (SELECT count(*) AS n FROM pts),
        rx AS (
          SELECT pid, x, y,
                 row_number() OVER (ORDER BY x, pid) AS r
          FROM pts
        ),
        sl AS (
          SELECT pid, x, y,
                 ((r - 1) * 4) // (SELECT n FROM nn) AS slab
          FROM rx
        ),
        ry AS (
          SELECT pid, x, y, slab,
                 row_number() OVER (PARTITION BY slab
                                    ORDER BY y, pid) AS r2,
                 count(*) OVER (PARTITION BY slab) AS m
          FROM sl
        )
        SELECT pid, x, y, CAST(slab AS BIGINT) AS slab,
               CAST(((r2 - 1) * 4) // m AS BIGINT) AS cell,
               CAST(slab * 4 + ((r2 - 1) * 4) // m AS BIGINT) AS part
        FROM ry
    """

    # line_density: all (segment, cell) pairs brute force with the
    # identical clip formula, half-up 1e-9 quantization, exact sums.
    import math as _ldm
    _ld_area = _ldm.pi * (1.5 * 1.5)  # pi * r2, the operator's op order
    sqls["line_density"] = f"""
        WITH segs AS (
          SELECT k AS sid,
                 ((k * 7919) % 4000) / 100.0 AS x0,
                 ((k * 104729) % 4000) / 100.0 AS y0,
                 ((k * 7919) % 4000) / 100.0
                   + (((k * 31 + 7) % 200) - 100) / 100.0 AS x1,
                 ((k * 104729) % 4000) / 100.0
                   + (((k * 53 + 11) % 200) - 100) / 100.0 AS y1
          FROM generate_series(0, 199) t(k)
        ),
        cells AS (
          SELECT CAST(i.ci AS INT) AS ci, CAST(j.cj AS INT) AS cj,
                 (i.ci + 0.5) * 2.0 AS cx, (j.cj + 0.5) * 2.0 AS cy
          FROM generate_series(0, 19) i(ci)
          CROSS JOIN generate_series(0, 19) j(cj)
        ),
        p1 AS (
          SELECT ci, cj,
                 x1 - x0 AS dx, y1 - y0 AS dy,
                 (x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0) AS a,
                 x0 - cx AS fx, y0 - cy AS fy
          FROM segs CROSS JOIN cells
        ),
        p2 AS (
          SELECT ci, cj, a,
                 2.0 * (fx * dx + fy * dy) AS b,
                 fx * fx + fy * fy - 2.25 AS c0
          FROM p1
        ),
        p3 AS (
          SELECT ci, cj, a, b, b * b - 4.0 * a * c0 AS disc FROM p2
        ),
        p4 AS (
          SELECT ci, cj, a,
                 CASE WHEN a > 0.0 AND disc > 0.0
                      THEN greatest((-b - sqrt(disc)) / (2.0 * a), 0.0)
                      ELSE 0.0 END AS lo,
                 CASE WHEN a > 0.0 AND disc > 0.0
                      THEN least((-b + sqrt(disc)) / (2.0 * a), 1.0)
                      ELSE 0.0 END AS hi,
                 (a > 0.0 AND disc > 0.0) AS live
          FROM p3
        ),
        p5 AS (
          SELECT ci, cj,
                 CAST(floor((CASE WHEN live AND hi > lo
                             THEN (hi - lo) * sqrt(a)
                             ELSE 0.0 END) * 1e9 + 0.5) AS BIGINT) AS u
          FROM p4
        ),
        agg AS (
          SELECT ci, cj, SUM(u) AS length_units FROM p5 GROUP BY 1, 2
        )
        SELECT c.ci, c.cj,
               CAST(COALESCE(a.length_units, 0) AS BIGINT)
                 AS length_units,
               round(COALESCE(a.length_units, 0) / 1e9
                     / {_ld_area!r}, 9) AS density
        FROM cells c LEFT JOIN agg a ON a.ci = c.ci AND a.cj = c.cj
    """

    # ------------------------------------------------------------------
    # session-12: image filters — the window cells spelled closed-form
    # from the world4326 fixture, row-major w0..w8 like focal_stats.
    # ------------------------------------------------------------------
    def _win9(px: str = "px", py: str = "py") -> str:
        cells = []
        idx = 0
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                fx = f"({px} + {dx})" if dx else px
                fy = f"({py} + {dy})" if dy else py
                cells.append(
                    f"CAST(trunc((sin({fx} * 0.19) + cos({fy} * 0.13))"
                    f" * 60.0 + 128.0) AS BIGINT) AS w{idx}")
                idx += 1
        return ", ".join(cells)

    sqls["focal_median"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(1, 254) x(px)
          CROSS JOIN generate_series(1, 254) y(py)
        ),
        win AS (SELECT px, py, {_win9()} FROM pix)
        SELECT px, py,
               CAST(list_sort([w0, w1, w2, w3, w4, w5, w6, w7, w8])[5]
                    AS BIGINT) AS f_median
        FROM win
    """

    sqls["unsharp_mask"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(1, 254) x(px)
          CROSS JOIN generate_series(1, 254) y(py)
        ),
        win AS (SELECT px, py, {_win9()} FROM pix)
        SELECT px, py,
               w4 + 0.5 * (w4 - (w0 + 2.0 * w1 + w2 + 2.0 * w3 + 4.0 * w4
                    + 2.0 * w5 + w6 + 2.0 * w7 + w8) / 16.0) AS f_sharp
        FROM win
    """

    # kuwahara: the four overlapping 3x3 quadrants of the 5x5 window,
    # ranked on the integer 9*s2 - s*s, first-wins argmin ties.
    def _quad(qi: int, cx: int, cy: int) -> str:
        terms_s, terms_s2 = [], []
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                ox, oy = cx + dx, cy + dy
                fx = f"(px + {ox})" if ox else "px"
                fy = f"(py + {oy})" if oy else "py"
                v = (f"CAST(trunc((sin({fx} * 0.19) + cos({fy} * 0.13))"
                     f" * 60.0 + 128.0) AS BIGINT)")
                terms_s.append(v)
                terms_s2.append(f"{v} * {v}")
        return (f"({' + '.join(terms_s)}) AS s{qi}, "
                f"({' + '.join(terms_s2)}) AS ss{qi}")

    quads = ",\n          ".join(
        _quad(qi, cx, cy)
        for qi, (cx, cy) in enumerate(
            [(-1, -1), (1, -1), (-1, 1), (1, 1)]))
    sqls["kuwahara"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(2, 253) x(px)
          CROSS JOIN generate_series(2, 253) y(py)
        ),
        qsum AS (
          SELECT px, py,
          {quads}
          FROM pix
        ),
        tvar AS (
          SELECT px, py, s0, s1, s2, s3,
                 9 * ss0 - s0 * s0 AS t0, 9 * ss1 - s1 * s1 AS t1,
                 9 * ss2 - s2 * s2 AS t2, 9 * ss3 - s3 * s3 AS t3
          FROM qsum
        ),
        sel AS (
          SELECT px, py,
            CASE WHEN t0 <= t1 AND t0 <= t2 AND t0 <= t3 THEN 0
                 WHEN t1 < t0 AND t1 <= t2 AND t1 <= t3 THEN 1
                 WHEN t2 < t0 AND t2 < t1 AND t2 <= t3 THEN 2
                 ELSE 3 END AS f_quad,
            CASE WHEN t0 <= t1 AND t0 <= t2 AND t0 <= t3 THEN s0
                 WHEN t1 < t0 AND t1 <= t2 AND t1 <= t3 THEN s1
                 WHEN t2 < t0 AND t2 < t1 AND t2 <= t3 THEN s2
                 ELSE s3 END AS f_sum
          FROM tvar
        )
        SELECT px, py, CAST(f_quad AS BIGINT) AS f_quad,
               CAST(f_sum AS BIGINT) AS f_sum,
               f_sum / 9.0 AS f_mean
        FROM sel
    """


    sqls["edit_distance"] = """
        SELECT doc_id,
               CAST(levenshtein(substr(text, 1, 24), substr(text, 25, 24))
                    AS INT) AS dist
        FROM documents WHERE doc_id < 2000
    """


    # ------------------------------------------------------------------
    # session-12: line generalization + minimum enclosing circle
    # ------------------------------------------------------------------
    _TRACKS = f"""
        tpts AS (
          SELECT pid // 8 AS tid, pid % 8 AS vi, lon AS x, lat AS y
          FROM ({_POINTS_SQL}) WHERE pid < 400
        ),
        tr AS (
          SELECT tid, list(x ORDER BY vi) AS xs, list(y ORDER BY vi) AS ys
          FROM tpts GROUP BY tid
        )
    """

    def _chk(e: str) -> str:
        """One Chaikin pass over list expression ``e`` — the identical
        0.75*a + 0.25*b arithmetic as functions/smooth.chaikin_step."""
        return (
            f"list_concat(list_concat([({e})[1]], "
            f"flatten(list_transform(generate_series(1, len({e}) - 1), "
            f"i -> [0.75 * ({e})[i] + 0.25 * ({e})[i + 1], "
            f"0.25 * ({e})[i] + 0.75 * ({e})[i + 1]]))), "
            f"[({e})[len({e})]])")

    sqls["chaikin_smooth"] = f"""
        WITH {_TRACKS},
        it1 AS (
          SELECT tid, {_chk('xs')} AS xs, {_chk('ys')} AS ys FROM tr
        ),
        it2 AS (
          SELECT tid, {_chk('xs')} AS xs, {_chk('ys')} AS ys FROM it1
        )
        SELECT tid, CAST(gs.i - 1 AS BIGINT) AS vi,
               xs[gs.i] AS x, ys[gs.i] AS y
        FROM it2 CROSS JOIN generate_series(1, 32) gs(i)
    """

    sqls["snap_to_grid"] = f"""
        WITH tpts AS (
          SELECT pid // 8 AS tid, pid % 8 AS vi, lon AS x, lat AS y
          FROM ({_POINTS_SQL}) WHERE pid < 400
        ),
        snapped AS (
          SELECT tid, vi,
                 floor(x / 0.05 + 0.5) * 0.05 AS sx,
                 floor(y / 0.05 + 0.5) * 0.05 AS sy
          FROM tpts
        ),
        kept AS (
          SELECT tid, vi, sx, sy,
                 (lag(sx) OVER w IS NULL
                  OR sx <> lag(sx) OVER w OR sy <> lag(sy) OVER w) AS keep
          FROM snapped
          WINDOW w AS (PARTITION BY tid ORDER BY vi)
        )
        SELECT tid,
               CAST(row_number() OVER (PARTITION BY tid ORDER BY vi) - 1
                    AS BIGINT) AS vi,
               sx, sy
        FROM kept WHERE keep
    """

    sqls["min_enclosing_circle"] = """
        WITH mpts AS (
          SELECT event_id // 12 AS gid, event_id % 12 AS i,
                 (event_id * 7919) % 400 AS x,
                 (event_id * 104729) % 400 AS y
          FROM events WHERE event_id < 480
        ),
        pairs AS (
          SELECT a.gid, a.i AS i1, b.i AS i2, CAST(-1 AS BIGINT) AS i3,
                 a.x + b.x AS ox, a.y + b.y AS oy,
                 (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS rr,
                 CAST(2 AS BIGINT) AS den
          FROM mpts a JOIN mpts b ON a.gid = b.gid AND a.i < b.i
        ),
        trip0 AS (
          SELECT a.gid, a.i AS i1, b.i AS i2, c.i AS i3,
                 a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by, c.x AS cx,
                 c.y AS cy,
                 a.x * a.x + a.y * a.y AS aa,
                 b.x * b.x + b.y * b.y AS bb,
                 c.x * c.x + c.y * c.y AS cc,
                 2 * (a.x * (b.y - c.y) + b.x * (c.y - a.y)
                      + c.x * (a.y - b.y)) AS d
          FROM mpts a
          JOIN mpts b ON a.gid = b.gid AND a.i < b.i
          JOIN mpts c ON a.gid = c.gid AND b.i < c.i
        ),
        triples AS (
          SELECT gid, i1, i2, i3,
                 aa * (by - cy) + bb * (cy - ay) + cc * (ay - by) AS ox,
                 aa * (cx - bx) + bb * (ax - cx) + cc * (bx - ax) AS oy,
                 (ax * d - (aa * (by - cy) + bb * (cy - ay)
                            + cc * (ay - by)))
                 * (ax * d - (aa * (by - cy) + bb * (cy - ay)
                              + cc * (ay - by)))
                 + (ay * d - (aa * (cx - bx) + bb * (ax - cx)
                              + cc * (bx - ax)))
                 * (ay * d - (aa * (cx - bx) + bb * (ax - cx)
                              + cc * (bx - ax))) AS rr,
                 d AS den
          FROM trip0 WHERE d <> 0
        ),
        cand AS (SELECT * FROM pairs UNION ALL SELECT * FROM triples),
        cov AS (
          SELECT c.gid, c.i1, c.i2, c.i3, c.ox, c.oy, c.rr, c.den,
                 SUM(CASE WHEN
                   (p.x * c.den - c.ox) * (p.x * c.den - c.ox)
                   + (p.y * c.den - c.oy) * (p.y * c.den - c.oy) <= c.rr
                   THEN 1 ELSE 0 END) AS n_in,
                 COUNT(*) AS n
          FROM cand c JOIN mpts p ON p.gid = c.gid
          GROUP BY c.gid, c.i1, c.i2, c.i3, c.ox, c.oy, c.rr, c.den
        )
        SELECT gid, CAST(i1 AS BIGINT) AS k1, CAST(i2 AS BIGINT) AS k2,
               CAST(i3 AS BIGINT) AS k3,
               CAST(ox AS DOUBLE) / CAST(den AS DOUBLE) AS cx,
               CAST(oy AS DOUBLE) / CAST(den AS DOUBLE) AS cy,
               CAST(rr AS DOUBLE) / CAST(den * den AS DOUBLE) AS r2
        FROM cov
        WHERE n_in = n
        QUALIFY row_number() OVER (
          PARTITION BY gid
          ORDER BY CAST(rr AS DOUBLE) / CAST(den * den AS DOUBLE) ASC,
                   i1 ASC, i2 ASC, i3 ASC) = 1
    """

    # ipf_gravity: the 8 IPF half-steps unrolled as CTE stages; the
    # integer half-up update (2vt + s) // (2s) is engine-exact.
    def _ipf_half(prev: str, key: str) -> str:
        return f"""
          SELECT c.i, c.j,
                 CASE WHEN s.s = 0 THEN 0
                      ELSE (2 * c.v * t.t + s.s) // (2 * s.s) END AS v
          FROM {prev} c
          JOIN (SELECT {key}, SUM(v) AS s FROM {prev} GROUP BY {key}) s
            ON s.{key} = c.{key}
          JOIN tgt_{key} t ON t.{key} = c.{key}
        """

    _ipf_stages = []
    _prev = "seed"
    for _r in range(4):
        for _key in ("i", "j"):
            _nm = f"st{len(_ipf_stages)}"
            _ipf_stages.append(f"{_nm} AS ({_ipf_half(_prev, _key)})")
            _prev = _nm
    sqls["ipf_gravity"] = f"""
        WITH zones AS (SELECT g.z FROM generate_series(0, 11) g(z)),
        seed AS (
          SELECT a.z AS i, b.z AS j,
                 (1 + (a.z * 5 + b.z * 7) % 9) * 1000 AS v
          FROM zones a CROSS JOIN zones b
        ),
        tgt_i AS (SELECT z AS i, (40 + (z * 31) % 25) * 1000 AS t
                  FROM zones),
        tgt_j AS (SELECT z AS j, (40 + (z * 31) % 25) * 1000 AS t
                  FROM zones),
        {', '.join(_ipf_stages)}
        SELECT i, j, CAST(v AS BIGINT) AS t_milli,
               CAST(v AS DOUBLE) / 1000.0 AS t
        FROM {_prev}
    """

    # visvalingam: 4 unrolled elimination stages, each the identical
    # lag/lead + integer doubled-area + per-track argmin delete.
    def _vw_step(prev: str, k: int) -> str:
        return f"""
        s{k} AS (
          SELECT tid, vi, x, y FROM (
            SELECT tid, vi, x, y,
              CASE WHEN ax IS NOT NULL AND cx IS NOT NULL THEN
                abs((x - ax) * (cy - ay) - (cx - ax) * (y - ay)) END AS a2
            FROM (
              SELECT tid, vi, x, y,
                     lag(x)  OVER w AS ax, lag(y)  OVER w AS ay,
                     lead(x) OVER w AS cx, lead(y) OVER w AS cy
              FROM {prev}
              WINDOW w AS (PARTITION BY tid ORDER BY vi)
            )
          )
          QUALIFY NOT (a2 IS NOT NULL AND row_number() OVER (
            PARTITION BY tid ORDER BY a2 ASC NULLS LAST, vi ASC) = 1)
        )"""

    _vw = ",".join(_vw_step(f"s{k - 1}" if k else "vpts", k)
                   for k in range(4))
    sqls["visvalingam"] = f"""
        WITH vpts AS (
          SELECT event_id // 10 AS tid, event_id % 10 AS vi,
                 (event_id * 7919) % 1000 AS x,
                 (event_id * 104729) % 1000 AS y
          FROM events WHERE event_id < 300
        ),
        {_vw}
        SELECT tid,
               CAST(row_number() OVER (PARTITION BY tid ORDER BY vi) - 1
                    AS BIGINT) AS out_vi,
               CAST(vi AS BIGINT) AS vi, x, y
        FROM s3
    """

    # pca_features: covariance aggregates + 24 power-iteration CTE
    # stages generated to mirror operators/pca.py FLOP-for-FLOP.
    def _pc(a: int, b: int) -> str:
        lo, hi = sorted((a, b))
        return f"CAST(n * q{lo}{hi} - s{a} * s{b} AS DOUBLE)"

    _D = 6
    _qcols = ", ".join(
        f"SUM(f{a} * f{b}) AS q{a}{b}"
        for a in range(1, _D + 1) for b in range(a, _D + 1))
    _scols = ", ".join(f"SUM(f{a}) AS s{a}" for a in range(1, _D + 1))
    _covcols = ("n, " + ", ".join(f"s{a}" for a in range(1, _D + 1)) + ", "
                + ", ".join(f"q{a}{b}" for a in range(1, _D + 1)
                            for b in range(a, _D + 1)))
    _pca_stages = []
    _prev = "it0"
    for _k in range(1, 25):
        _wx = ", ".join(
            f"({' + '.join(f'{_pc(a, b)} * v{b}' for b in range(1, _D + 1))})"
            f" AS w{a}" for a in range(1, _D + 1))
        _n2 = " + ".join(f"w{a} * w{a}" for a in range(1, _D + 1))
        _vx = ", ".join(f"w{a} / nrm AS v{a}" for a in range(1, _D + 1))
        _pca_stages.append(
            f"it{_k} AS (SELECT {_covcols}, nrm, {_vx} FROM ("
            f"SELECT *, sqrt({_n2}) AS nrm FROM ("
            f"SELECT {_covcols}, {_wx} FROM {_prev})))")
        _prev = f"it{_k}"
    _trace = " + ".join(_pc(a, a) for a in range(1, _D + 1))
    sqls["pca_features"] = f"""
        WITH feats AS (
          SELECT doc_id,
            length(text) AS f1,
            length(text) - length(replace(text, ' ', '')) AS f2,
            length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
              AS f3,
            length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
              AS f4,
            length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
              AS f5,
            length(text) - length(replace(text, 'e', '')) AS f6
          FROM documents
        ),
        cov AS (
          SELECT COUNT(*) AS n, {_scols}, {_qcols} FROM feats
        ),
        it0 AS (
          SELECT {_covcols},
                 {", ".join(f"1.0 AS v{a}" for a in range(1, _D + 1))}
          FROM cov
        ),
        {', '.join(_pca_stages)}
        SELECT CAST(n AS BIGINT) AS n, nrm AS eig,
               nrm / ({_trace}) AS explained,
               {", ".join(f"v{a}" for a in range(1, _D + 1))}
        FROM {_prev}
    """

    # solar_exposure: horizon scan + Horn incidence, all fixed ops.
    def _wv(dx: str | int, dy: str | int) -> str:
        fx = f"(px + {dx})" if dx else "px"
        fy = f"(py + {dy})" if dy else "py"
        return (f"trunc((sin({fx} * 0.19) + cos({fy} * 0.13))"
                f" * 60.0 + 128.0)")

    _horizon = ", ".join(
        f"(({_wv(t, 0)}) - v0) / {t}.0" for t in range(1, 9))
    sqls["solar_exposure"] = f"""
        WITH pix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(8, 247) x(px)
          CROSS JOIN generate_series(8, 247) y(py)
        ),
        base AS (
          SELECT px, py, {_wv(0, 0)} AS v0,
                 {_wv(-1, -1)} AS a, {_wv(0, -1)} AS b, {_wv(1, -1)} AS c,
                 {_wv(-1, 0)} AS d, {_wv(1, 0)} AS f,
                 {_wv(-1, 1)} AS g, {_wv(0, 1)} AS h, {_wv(1, 1)} AS i
          FROM pix
        ),
        calc AS (
          SELECT px, py,
            greatest({_horizon}) AS m,
            ((c + 2.0 * f + i) - (a + 2.0 * d + g)) / (8.0 * 1.40625)
              AS p,
            ((g + 2.0 * h + i) - (a + 2.0 * b + c)) / (8.0 * -0.703125)
              AS q
          FROM base
        ),
        expo AS (
          SELECT px, py,
            CASE WHEN m > 0.25 THEN -1.0 ELSE
              greatest(((0.0 - p) * (4.0 / sqrt(17.0))
                        + (1.0 / sqrt(17.0)))
                       / sqrt(1.0 + (p * p + q * q)), 0.0) END AS v
          FROM calc
        )
        SELECT px, py,
               CAST(CASE WHEN v = -1.0 THEN 1 ELSE 0 END AS BIGINT)
                 AS shadowed,
               greatest(v, 0.0) AS exposure
        FROM expo
    """

    # isochrone_bands: reuse the cost_distance fixpoint chain verbatim,
    # band the rounded distances, exact nano-unit sums for the mean.
    _iso_head = sqls["cost_distance"].rsplit("SELECT p.px", 1)[0]
    sqls["isochrone_bands"] = _iso_head + """
        SELECT CAST(floor(round(f.dist, 9) / 20.0) AS BIGINT) AS band,
               CAST(count(*) AS BIGINT) AS n_cells,
               min(round(f.dist, 9)) AS d_min,
               max(round(f.dist, 9)) AS d_max,
               CAST(SUM(CAST(round(round(f.dist, 9) * 1e9) AS BIGINT))
                    AS BIGINT) AS d_sum_nano,
               CAST(SUM(CAST(round(round(f.dist, 9) * 1e9) AS BIGINT))
                    AS DOUBLE) / count(*) / 1000000000.0 AS d_mean
        FROM cells p JOIN fin f ON f.node = p.py * 65536 + p.px
        GROUP BY 1
    """

    # dem_hand: flow-accumulation chain + drainage-stopping doubling.
    _hd_head = sqls["flow_accumulation"].rsplit("SELECT p.px", 1)[0]
    _hd_dbl = "".join(
        f""",
        hs{k} AS (
          SELECT a.id, b.nxt FROM hs{k - 1} a JOIN hs{k - 1} b
            ON a.nxt = b.id
        )""" for k in range(1, 9))
    sqls["dem_hand"] = _hd_head + f""",
        drn AS (
          SELECT p.px, p.py, coalesce(a.n, 0) >= 40 AS drain
          FROM pix p LEFT JOIN acc a ON a.dst = p.py * 65536 + p.px
        ),
        hs0 AS (
          SELECT t.py * 65536 + t.px AS id,
            CASE WHEN d.drain THEN t.py * 65536 + t.px
                 WHEN t.tx BETWEEN 1 AND 126 AND t.ty BETWEEN 1 AND 126
                   THEN t.ty * 65536 + t.tx
                 ELSE t.py * 65536 + t.px END AS nxt
          FROM tgt t JOIN drn d ON d.px = t.px AND d.py = t.py
        ){_hd_dbl}
        SELECT p.px, p.py, CAST(hs8.nxt AS BIGINT) AS land,
               CAST(CASE WHEN dl.drain THEN 1 ELSE 0 END AS BIGINT)
                 AS drained,
               CASE WHEN dl.drain THEN CAST(wz.e - wl.e AS BIGINT) END
                 AS hand
        FROM pix p
        JOIN hs8 ON hs8.id = p.py * 65536 + p.px
        JOIN drn dl ON dl.px = hs8.nxt % 65536
                   AND dl.py = hs8.nxt // 65536
        JOIN win wz ON wz.px = p.px AND wz.py = p.py
        JOIN win wl ON wl.px = hs8.nxt % 65536
                   AND wl.py = hs8.nxt // 65536
    """

    # largest_empty_circle: same fixture as min_enclosing_circle; the
    # candidate family is Voronoi vertices + bisector x wall + corners.
    _lec_edges = []
    for _e, (_horiz, _fx) in enumerate([(True, 0), (True, 400),
                                        (False, 0), (False, 400)]):
        if _horiz:
            _den0 = "2 * (bx - ax)"
            _num0 = f"(bb - aa - 2 * {_fx} * (by - ay))"
        else:
            _den0 = "2 * (by - ay)"
            _num0 = f"(bb - aa - 2 * {_fx} * (bx - ax))"
        _v = f"(CASE WHEN {_den0} < 0 THEN -{_num0} ELSE {_num0} END)"
        _dn = f"abs({_den0})"
        _nx = _v if _horiz else f"{_fx} * {_dn}"
        _ny = f"{_fx} * {_dn}" if _horiz else _v
        _lec_edges.append(f"""
          SELECT gid, i1, i2, CAST({-(_e + 1)} AS BIGINT) AS i3,
                 {_nx} AS nx, {_ny} AS ny, {_dn} AS den
          FROM pair0
          WHERE {_den0} <> 0 AND {_v} >= 0 AND {_v} <= 400 * {_dn}""")
    _lec_corners = " UNION ALL ".join(
        f"""SELECT gid, CAST(-1 AS BIGINT) AS i1, CAST(-1 AS BIGINT) AS i2,
               CAST({-(10 + _ci)} AS BIGINT) AS i3,
               CAST({_cx} AS BIGINT) AS nx, CAST({_cy} AS BIGINT) AS ny,
               CAST(1 AS BIGINT) AS den
            FROM (SELECT DISTINCT gid FROM mpts)"""
        for _ci, (_cx, _cy) in enumerate(
            [(0, 0), (400, 0), (0, 400), (400, 400)]))
    sqls["largest_empty_circle"] = f"""
        WITH mpts AS (
          SELECT event_id // 12 AS gid, event_id % 12 AS i,
                 (event_id * 7919) % 400 AS x,
                 (event_id * 104729) % 400 AS y
          FROM events WHERE event_id < 480
        ),
        trip0 AS (
          SELECT a.gid, a.i AS i1, b.i AS i2, c.i AS i3,
                 a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by, c.x AS cx,
                 c.y AS cy,
                 a.x * a.x + a.y * a.y AS aa,
                 b.x * b.x + b.y * b.y AS bb,
                 c.x * c.x + c.y * c.y AS cc,
                 2 * (a.x * (b.y - c.y) + b.x * (c.y - a.y)
                      + c.x * (a.y - b.y)) AS d
          FROM mpts a
          JOIN mpts b ON a.gid = b.gid AND a.i < b.i
          JOIN mpts c ON a.gid = c.gid AND b.i < c.i
        ),
        tripc AS (
          SELECT gid, i1, i2, i3, d,
                 aa * (by - cy) + bb * (cy - ay) + cc * (ay - by) AS ux,
                 aa * (cx - bx) + bb * (ax - cx) + cc * (bx - ax) AS uy
          FROM trip0 WHERE d <> 0
        ),
        tripn AS (
          SELECT gid, i1, i2, i3,
                 CASE WHEN d < 0 THEN -ux ELSE ux END AS nx,
                 CASE WHEN d < 0 THEN -uy ELSE uy END AS ny,
                 abs(d) AS den
          FROM tripc
        ),
        tripf AS (
          SELECT * FROM tripn
          WHERE nx >= 0 AND nx <= 400 * den
            AND ny >= 0 AND ny <= 400 * den
        ),
        pair0 AS (
          SELECT a.gid, a.i AS i1, b.i AS i2,
                 a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by,
                 a.x * a.x + a.y * a.y AS aa,
                 b.x * b.x + b.y * b.y AS bb
          FROM mpts a JOIN mpts b ON a.gid = b.gid AND a.i < b.i
        ),
        cand AS (
          SELECT gid, CAST(i1 AS BIGINT) AS i1, CAST(i2 AS BIGINT) AS i2,
                 CAST(i3 AS BIGINT) AS i3, nx, ny, den
          FROM tripf
          UNION ALL {' UNION ALL '.join(_lec_edges)}
          UNION ALL {_lec_corners}
        ),
        near AS (
          SELECT c.gid, c.i1, c.i2, c.i3, c.nx, c.ny, c.den,
                 MIN((p.x * c.den - c.nx) * (p.x * c.den - c.nx)
                     + (p.y * c.den - c.ny) * (p.y * c.den - c.ny)) AS rr
          FROM cand c JOIN mpts p ON p.gid = c.gid
          GROUP BY c.gid, c.i1, c.i2, c.i3, c.nx, c.ny, c.den
        )
        SELECT gid, i1 AS k1, i2 AS k2, i3 AS k3,
               CAST(nx AS DOUBLE) / CAST(den AS DOUBLE) AS cx,
               CAST(ny AS DOUBLE) / CAST(den AS DOUBLE) AS cy,
               CAST(rr AS DOUBLE) / CAST(den * den AS DOUBLE) AS r2
        FROM near
        QUALIFY row_number() OVER (
          PARTITION BY gid
          ORDER BY CAST(rr AS DOUBLE) / CAST(den * den AS DOUBLE) DESC,
                   i1 ASC, i2 ASC, i3 ASC) = 1
    """


    # hist_match: integer CDF alignment, cross-multiplied (no division);
    # src = gradient256 ((px+py) * 255/510 truncated), ref = world4326.
    sqls["hist_match"] = """
        WITH spix AS (
          SELECT CAST(x.px AS BIGINT) AS px, CAST(y.py AS BIGINT) AS py
          FROM generate_series(0, 255) x(px)
          CROSS JOIN generate_series(0, 255) y(py)
        ),
        sval AS (
          SELECT CAST(trunc((px + py) * (255.0 / 510.0)) AS BIGINT) AS v
          FROM spix
        ),
        shist AS (SELECT v, COUNT(*) AS n FROM sval GROUP BY v),
        scum AS (
          SELECT v, n, SUM(n) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM shist
        ),
        rval AS (
          SELECT CAST(trunc((sin(px * 0.19) + cos(py * 0.13)) * 60.0
                            + 128.0) AS BIGINT) AS r
          FROM spix
        ),
        rhist AS (SELECT r, COUNT(*) AS n FROM rval GROUP BY r),
        rcum AS (
          SELECT r, SUM(n) OVER (ORDER BY r
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rc
          FROM rhist
        ),
        tot AS (
          SELECT (SELECT SUM(n) FROM shist) AS ns,
                 (SELECT SUM(n) FROM rhist) AS nr
        )
        SELECT s.v AS src_val,
               CAST(MAX(s.n) AS BIGINT) AS n_px,
               CAST(MIN(r.r) AS BIGINT) AS dst_val
        FROM scum s CROSS JOIN tot t
        LEFT JOIN rcum r ON r.rc * t.ns >= s.cum * t.nr
        GROUP BY s.v
    """

    return sqls
