"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship job is the north-star pipeline — CC-style pages -> text/coord
extraction -> cell keys -> PIP spatial join + web-mercator tile assignment —
reported both as seconds and as pages/sec. Each job is forced with a noop
sink (full computation, no driver collect).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from lib_gdal_spark.operators import geo as GEO  # noqa: E402
from lib_gdal_spark.operators import pip_join as PIP  # noqa: E402
from lib_gdal_spark.session import get_spark  # noqa: E402
from lib_gdal_spark.sources import pages as PG  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "200000"))


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def run_pages_pipeline(spark) -> None:
    """North-star job: pages -> enrich -> PIP join + tile assignment."""
    pg = PG.generate_pages(spark, N_PAGES)
    # One enrichment pass feeds both consumers — locally a persist, at scale
    # the checkpointed Iceberg stage table (streaming.checkpoint).
    enr = GEO.enrich_pages(pg, res=12).persist()
    try:
        polys = E._polygons_df(spark)
        pts = enr.where(F.col("cell").isNotNull())
        hits = PIP.pip_join(pts, polys, res=7, points_res=12,
                            point_cols=("url", "lon", "lat"))
        tiled = GEO.with_tile(enr, z=12)
        _force(hits)
        _force(tiled.select("url", "z", "tx", "ty"))
    finally:
        enr.unpersist()


BENCH = {
    "pages_pipeline": run_pages_pipeline,
    "pip_join_pentagon": lambda s: _force(E.q_pip_join_pentagon(s, SF_DIR)),
    "tile_assign_z8": lambda s: _force(E.q_tile_assign_z8(s, SF_DIR)),
    "knn_kring": lambda s: _force(E.q_knn_kring(s, SF_DIR)),
    "summary_agg": lambda s: _force(E.q_ogr_summary_record(s, SF_DIR)),
    "first_match_join": lambda s: _force(E.q_ogr_first_match_join(s, SF_DIR)),
    "raster_pyramid": lambda s: _force(E.q_raster_pyramid(s, SF_DIR)),
    "rasterize": lambda s: _force(E.q_rasterize_counts(s, SF_DIR)),
    "polygonize": lambda s: _force(E.q_polygonize_components(s, SF_DIR)),
    "dem_slope": lambda s: _force(E.q_dem_slope(s, SF_DIR)),
    "grid_idw": lambda s: _force(E.q_grid_idw(s, SF_DIR)),
    "warp_bilinear": lambda s: _force(E.q_warp_bilinear_z2(s, SF_DIR)),
    # round-2 additions
    "warp_utm": lambda s: _force(E.q_warp_utm_nearest(s, SF_DIR)),
    "polygonize_rings": lambda s: _force(E.q_polygonize_rings(s, SF_DIR)),
    "layer_union": lambda s: _force(E.q_layer_union(s, SF_DIR)),
    "band_stats": lambda s: _force(E.q_band_stats(s, SF_DIR)),
    "pyramid_cubic": lambda s: _force(E.q_pyramid_cubic_l1(s, SF_DIR)),
    "grid_invdistnn": lambda s: _force(E.q_grid_invdistnn(s, SF_DIR)),
    "graph_sssp": lambda s: _force(E.q_graph_sssp(s, SF_DIR)),
    # round-3 additions
    "warp_ps": lambda s: _force(E.q_warp_ps_nearest(s, SF_DIR)),
    "warp_mollweide": lambda s: _force(E.q_warp_mollweide_nearest(s, SF_DIR)),
    "warp_datum_shift": lambda s: _force(E.q_warp_datum_shift(s, SF_DIR)),
    "translate_cubic": lambda s: _force(E.q_translate_cubic(s, SF_DIR)),
    "raster_checksum": lambda s: _force(E.q_raster_checksum(s, SF_DIR)),
    "pyramid_magphase": lambda s: _force(E.q_pyramid_magphase_l1(s, SF_DIR)),
    "special_fields": lambda s: _force(E.q_ogr_special_fields(s, SF_DIR)),
    "ogr_reproject": lambda s: _force(E.q_ogr_reproject(s, SF_DIR)),
    # round-3 pipeline additions
    "semantic_dedup": lambda s: _force(E.q_semantic_dedup(s, SF_DIR)),
    "ogr_multijoin": lambda s: _force(E.q_ogr_multijoin(s, SF_DIR)),
    "exact_quantiles": lambda s: _force(E.q_exact_quantiles(s, SF_DIR)),
    "pagerank": lambda s: _force(E.q_pagerank(s, SF_DIR)),
    "triangle_counts": lambda s: _force(E.q_triangle_counts(s, SF_DIR)),
    "zonal_stats": lambda s: _force(E.q_zonal_stats(s, SF_DIR)),
    "gtiff_roundtrip": lambda s: _force(E.q_gtiff_roundtrip(s, SF_DIR)),
    "osm_way_assembly": lambda s: _force(E.q_osm_way_assembly(s, SF_DIR)),
    "cdx_index": lambda s: _force(E.q_cdx_index(s, SF_DIR)),
    "mvt_tiles": lambda s: _force(E.q_mvt_tiles(s, SF_DIR)),
    # round-3 continuation additions
    "wet_wat_ingest": lambda s: _force(E.q_wet_wat_ingest(s, SF_DIR)),
    "viewshed": lambda s: _force(E.q_viewshed(s, SF_DIR)),
    "dem_hillshade_multi": lambda s: _force(E.q_dem_hillshade_multi(s, SF_DIR)),
    "contour_polygons": lambda s: _force(E.q_contour_polygons(s, SF_DIR)),
    "tpch_promo_share": lambda s: _force(E.q_tpch_promo_share(s, SF_DIR)),
    "s2_cells": lambda s: _force(E.q_s2_cells(s, SF_DIR)),
    "s2_ring_pairs": lambda s: _force(E.q_s2_ring_pairs(s, SF_DIR)),
    # round-4 session-2 additions
    "warp_laea": lambda s: _force(E.q_warp_laea_nearest(s, SF_DIR)),
    "warp_rdnew": lambda s: _force(E.q_warp_rdnew_nearest(s, SF_DIR)),
    "warp_krovak": lambda s: _force(E.q_warp_krovak_nearest(s, SF_DIR)),
    "geodesic_rings": lambda s: _force(E.q_geodesic_ring_stats(s, SF_DIR)),
    "rhumb_line": lambda s: _force(E.q_rhumb_line(s, SF_DIR)),
    "geohash_cells": lambda s: _force(E.q_geohash_cells(s, SF_DIR)),
    # round-4 session-3 additions
    "vincenty": lambda s: _force(E.q_vincenty_distance(s, SF_DIR)),
    "mgrs_cells": lambda s: _force(E.q_mgrs_cells(s, SF_DIR)),
    "plus_codes": lambda s: _force(E.q_plus_codes(s, SF_DIR)),
    "quadkeys": lambda s: _force(E.q_quadkeys(s, SF_DIR)),
    "warp_cassini": lambda s: _force(E.q_warp_cassini_nearest(s, SF_DIR)),
    "warp_polyconic": lambda s: _force(E.q_warp_polyconic_nearest(s, SF_DIR)),
    "warp_mercator": lambda s: _force(E.q_warp_mercator_nearest(s, SF_DIR)),
    "warp_eqc": lambda s: _force(E.q_warp_eqc_nearest(s, SF_DIR)),
    "warp_omerc": lambda s: _force(E.q_warp_omerc_nearest(s, SF_DIR)),
    "warp_ups": lambda s: _force(E.q_warp_ups_nearest(s, SF_DIR)),
    "warp_stateplane_md": lambda s: _force(E.q_warp_stateplane_md(s, SF_DIR)),
    "warp_stateplane_nj": lambda s: _force(E.q_warp_stateplane_nj(s, SF_DIR)),
    "mgrs_polar_cells": lambda s: _force(E.q_mgrs_polar_cells(s, SF_DIR)),
    "edit_distance": lambda s: _force(E.q_edit_distance(s, SF_DIR)),
    "ransac_line": lambda s: _force(E.q_ransac_line(s, SF_DIR)),
    "gc_navigation": lambda s: _force(E.q_gc_navigation(s, SF_DIR)),
    "rhumb_destination": lambda s: _force(E.q_rhumb_destination(s, SF_DIR)),
    # round-4 session-6 additions
    "hex_kring_pairs": lambda s: _force(E.q_hex_kring_pairs(s, SF_DIR)),
    "dbscan_clusters": lambda s: _force(E.q_dbscan_clusters(s, SF_DIR)),
    "polyline_encode": lambda s: _force(E.q_polyline_encode(s, SF_DIR)),
    "trustrank": lambda s: _force(E.q_trustrank(s, SF_DIR)),
    "url_history": lambda s: _force(E.q_url_history(s, SF_DIR)),
    "lpa_communities": lambda s: _force(E.q_lpa_communities(s, SF_DIR)),
    "dem_flowdir": lambda s: _force(E.q_dem_flowdir(s, SF_DIR)),
    "salted_hot_join": lambda s: _force(E.q_salted_hot_join(s, SF_DIR)),
    "dem_basins": lambda s: _force(E.q_dem_basins(s, SF_DIR)),
    "jsonld_geo": lambda s: _force(E.q_jsonld_geo(s, SF_DIR)),
    "graph_stats": lambda s: _force(E.q_graph_stats(s, SF_DIR)),
    # round-4 session-8 additions (flow_accumulation / strahler_order /
    # cost_distance / least_cost_path / cost_corridor are gate-only: wall time
    # dominated by fixed iterative-round latency, not data volume, so
    # they would add minutes to the suite without measuring throughput)
    "map_match": lambda s: _force(E.q_map_match(s, SF_DIR)),
    "polygon_neighbors": lambda s: _force(E.q_polygon_neighbors(s, SF_DIR)),
    "raster_quantile_classes":
        lambda s: _force(E.q_raster_quantile_classes(s, SF_DIR)),
    # round-4 session-9 additions
    "skyline_docs": lambda s: _force(E.q_skyline_docs(s, SF_DIR)),
    "morph_open": lambda s: _force(E.q_morph_open(s, SF_DIR)),
    "zonal_crosstab": lambda s: _force(E.q_zonal_crosstab(s, SF_DIR)),
    "openness": lambda s: _force(E.q_openness(s, SF_DIR)),
    "sky_view_factor": lambda s: _force(E.q_sky_view_factor(s, SF_DIR)),
    "pq_encode": lambda s: _force(E.q_pq_encode(s, SF_DIR)),
    "pq_topk": lambda s: _force(E.q_pq_topk(s, SF_DIR)),
    "dem_vrm": lambda s: _force(E.q_dem_vrm(s, SF_DIR)),
    # round-4 session-10 additions: geostatistics + spatial stats + text
    "areal_interp": lambda s: _force(E.q_areal_interp(s, SF_DIR)),
    "grid_kriging": lambda s: _force(E.q_grid_kriging(s, SF_DIR)),
    "grid_gwr": lambda s: _force(E.q_grid_gwr(s, SF_DIR)),
    # round-4 session-11 additions (cost_corridor/cost_allocation stay
    # gate-only with the other fixpoint ops; the fixed-size fixture
    # queries are covered by the gate; the entries below scale with
    # SF_DIR and measure real throughput)
    "geomorphons": lambda s: _force(E.q_geomorphons(s, SF_DIR)),
    "focal_stats": lambda s: _force(E.q_focal_stats(s, SF_DIR)),
    "netcdf_roundtrip": lambda s: _force(E.q_netcdf_roundtrip(s, SF_DIR)),
    "tpi_landforms": lambda s: _force(E.q_tpi_landforms(s, SF_DIR)),
    "st_dbscan": lambda s: _force(E.q_st_dbscan(s, SF_DIR)),
    # round-4 session-12 additions (chaikin/snap/mec/visvalingam/mst/ipf
    # are fixed-size fixture queries -> gate-only; the entries below
    # scale with SF_DIR or the full fixture rasters)
    "focal_median": lambda s: _force(E.q_focal_median(s, SF_DIR)),
    "kuwahara": lambda s: _force(E.q_kuwahara(s, SF_DIR)),
    "hist_match": lambda s: _force(E.q_hist_match(s, SF_DIR)),
    "pca_features": lambda s: _force(E.q_pca_features(s, SF_DIR)),
    "morph_close": lambda s: _force(E.q_morph_close(s, SF_DIR)),
}


def main() -> None:
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM AND the Python/Arrow worker pools so q1 measures the
    # engine, not interpreter startup (a long-lived cluster amortizes both)
    spark.range(1000).select(F.sum("id")).collect()
    import pandas as _pd

    def _noop(it):
        for b in it:
            yield b

    spark.range(0, 3200, 1, 32).mapInPandas(
        _noop, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # n>=5 reps per query (VERDICT r2 #8): report min (the engine's actual
    # cost once caches are warm and JIT settled) plus median (robustness);
    # reps interleave per query so per-rep JVM drift hits all reps equally.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    samples: dict[str, list[float]] = {name: [] for name in BENCH}
    for name, fn in BENCH.items():
        for _ in range(reps):
            t0 = time.time()
            fn(spark)
            samples[name].append(round(time.time() - t0, 3))

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return round(s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2, 3)

    times = {name: min(xs) for name, xs in samples.items()}
    medians = {name: _median(xs) for name, xs in samples.items()}
    total = round(sum(times.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_median": medians,
        "reps": reps,
        "sf": float(sf),
        "n_pages": N_PAGES,
        "pages_per_sec": round(N_PAGES / times["pages_pipeline"], 1),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
