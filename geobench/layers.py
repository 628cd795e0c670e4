"""The traced run: every layer timed from outside, at two levels.

(a) Each layer's DataFrame is forced on its own, with its input already
materialised, inside a span named after the layer; the spans together are
the traced job. (b) Each layer's public kernel functions are called
directly on real batches of the workload's data.

A layer the workload does not use is not called, so its time reads near
zero and its counts zero, on every workload alike.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geobench.tracing import Tracer
from geobench.workloads import CELL_RES, LayerInputs
from lib_gdal_spark.functions import cells as C
from lib_gdal_spark.functions import extract as X
from lib_gdal_spark.functions import geometry as G
from lib_gdal_spark.kernels import resample as R
from lib_gdal_spark.operators import geo as GEO
from lib_gdal_spark.operators import knn as KNN
from lib_gdal_spark.operators import pip_join as PIP
from lib_gdal_spark.operators import raster as RA
from lib_gdal_spark.sinks import tilestore as TS

BATCH_ROWS = 65536  # spark.sql.execution.arrow.maxRecordsPerBatch
KERNEL_TILES = 4  # destination tiles the resample/encode kernels run on
MATERIALIZE = "trace.materialize"  # caching between layers: tracing cost
LAYER_SPANS = ("sources.scan", "geo.enrich", "geo.with_tile", "pip_join.cover",
               "pip_join.join", "knn.join", "raster.warp", "tilestore.write")


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def trace_layers(tracer: Tracer, li: LayerInputs, out_dir: str) -> dict:
    """Run the traced job and the kernel calls; return per-layer metrics.

    Each layer is forced with a noop sink on cached input; caching its
    output for the next layer is a separate ``trace.materialize`` span.
    A layer the workload does not use is not called: its span is empty,
    so its time reads near zero and its counts zero.
    """
    m: dict[str, float] = dict.fromkeys(
        ("pip_join.cover_rows", "pip_join.hits", "pip_join.candidates",
         "pip_join.envelope_pass", "pip_join.envelope_ratio",
         "tilestore.files", "tilestore.bytes"), 0)
    kept: list[DataFrame] = []

    def cached(df: DataFrame) -> DataFrame:
        with tracer.span(MATERIALIZE):
            kept.append(df.persist())
            df.count()
        return df

    enr = warped = None
    env = pd.DataFrame({"lon": [], "lat": [], "fid": []})
    try:
        with tracer.span("job"):
            with tracer.span("sources.scan"):
                for df in li.scans:
                    _noop(df)
            for df in li.scans:
                cached(df)
            with tracer.span("geo.enrich"):
                if li.pages is not None:
                    _noop(GEO.enrich_pages(li.pages, res=CELL_RES))
            if li.pages is not None:
                enr = cached(GEO.enrich_pages(li.pages, res=CELL_RES))
            with tracer.span("geo.with_tile"):
                if enr is not None:
                    _noop(GEO.with_tile(enr, z=12))
            points = li.pip_points
            if points is None and enr is not None:
                points = enr.where(F.col("cell").isNotNull()).select(
                    "url", "lon", "lat", "cell")
            with tracer.span("pip_join"):
                with tracer.span("pip_join.cover"):
                    if li.pip_polygons is not None:
                        m["pip_join.cover_rows"] = PIP.polygon_cover(
                            li.pip_polygons, li.pip_res).count()
                with tracer.span("pip_join.join"):
                    if li.pip_polygons is not None:
                        m["pip_join.hits"] = PIP.pip_join(
                            points, li.pip_polygons, res=li.pip_res,
                            points_res=CELL_RES).count()
            with tracer.span("knn.join"):
                if li.knn_queries is not None:
                    _noop(KNN.knn_kring(li.knn_queries, li.knn_targets,
                                        k=li.knn_k, res=li.knn_res, rings=1))
            with tracer.span("raster.warp"):
                if li.raster_tiles is not None:
                    _noop(RA.warp_to_mercator_tiles_dist(
                        li.raster_tiles, li.raster_z, alg="bilinear"))
            if li.raster_tiles is not None:
                warped = cached(RA.warp_to_mercator_tiles_dist(
                    li.raster_tiles, li.raster_z, alg="bilinear"))
            with tracer.span("tilestore.write"):
                if warped is not None:
                    manifest = TS.write_mbtiles_sharded(
                        warped, out_dir, "world").collect()
                    m["tilestore.files"] = len(manifest)
                    m["tilestore.bytes"] = sum(int(r["bytes"]) for r in manifest)

        with tracer.span("counts"):
            if li.pip_polygons is not None:
                counts, env = _pip_counts(points, li)
                m.update(counts)
            m.update(_raster_counts(li))

        with tracer.span("kernels"):
            m.update(_extract_kernels(tracer, li.pages))
            m.update(_pip_kernel(tracer, env, li.pip_polygons))
            m.update(_knn_kernels(tracer, li))
            m.update(_raster_kernels(tracer, li))
    finally:
        for df in kept:
            df.unpersist()

    for name in LAYER_SPANS:
        m[f"{name}_s"] = tracer.self_time(name)
    m["pip_join.hit_ratio"] = _ratio(m["pip_join.hits"], m["pip_join.envelope_pass"])
    return m


def _pip_counts(points: DataFrame, li: LayerInputs):
    """Candidates of the cell equi-join and survivors of the envelope test,
    counted on the plan shape ``pip_join`` builds; returns the counts and
    the survivors."""
    cover = PIP.polygon_cover(li.pip_polygons, li.pip_res)
    pts = points.withColumn(
        "__cover_cell",
        C.cell_parent_expr(F.col("cell"), CELL_RES - li.pip_res))
    cand = pts.join(F.broadcast(cover), pts["__cover_cell"] == cover["cell"])
    env = cand.where(
        (F.col("lon") >= F.col("minx")) & (F.col("lon") <= F.col("maxx"))
        & (F.col("lat") >= F.col("miny")) & (F.col("lat") <= F.col("maxy"))
    ).select("lon", "lat", "fid").toPandas()
    candidates = cand.count()
    return {"pip_join.candidates": candidates,
            "pip_join.envelope_pass": len(env),
            "pip_join.envelope_ratio": _ratio(len(env), candidates)}, env


def _raster_counts(li: LayerInputs) -> dict:
    if li.raster_tiles is None:
        return {"raster.tasks": 0, "raster.src_tiles_joined": 0,
                "raster.read_amplification": 0.0}
    tasks = RA.mercator_warp_tasks(li.raster_tiles, li.raster_z, alg="bilinear")
    joined = tasks.count()
    return {"raster.tasks": tasks.select("dst_x", "dst_y").distinct().count(),
            "raster.src_tiles_joined": joined,
            "raster.read_amplification": _ratio(joined, li.raster_tiles.count())}


def _extract_kernels(tracer: Tracer, pages: DataFrame | None) -> dict:
    batch = (pages.select("html").limit(BATCH_ROWS).toPandas()["html"]
             if pages is not None else None)
    with tracer.span("extract.batch") as s:
        if batch is not None:
            _, lon, lat = X.extract_enriched(X.decode_html(batch))
    with tracer.span("cells.lonlat_to_cell") as c:
        if batch is not None:
            ok = ~(np.isnan(lon.to_numpy()) | np.isnan(lat.to_numpy()))
            C.lonlat_to_cell(lon.to_numpy()[ok], lat.to_numpy()[ok], CELL_RES)
    return {"extract.batch_s": s.duration,
            "extract.rows_per_s": _ratio(len(batch) if batch is not None else 0,
                                         s.duration),
            "cells.lonlat_to_cell_s": c.duration}


def _pip_kernel(tracer: Tracer, env: pd.DataFrame, polys: DataFrame | None) -> dict:
    """The exact ray cast, per polygon, on the envelope survivors."""
    rings = ({int(r["fid"]): G.polygon_rings(bytes(r["geom_wkb"]))
              for r in polys.collect()} if polys is not None else {})
    px, py = env["lon"].to_numpy(), env["lat"].to_numpy()
    fids = env["fid"].to_numpy()
    groups = [(rings[int(f)], fids == f) for f in np.unique(fids)]
    with tracer.span("geometry.points_in_rings") as s:
        for ring, sel in groups:
            G.points_in_rings(px[sel], py[sel], ring)
    return {"pip_join.geometry.points_in_rings_s": s.duration}


def _knn_kernels(tracer: Tracer, li: LayerInputs) -> dict:
    """k_ring on the query cells; candidates counted as the join makes them."""
    if li.knn_queries is None:
        with tracer.span("cells.k_ring") as s:
            pass
        return {"cells.k_ring_s": s.duration, "knn.candidates": 0,
                "knn.useful_ratio": 0.0}
    q = li.knn_queries.toPandas()
    t = li.knn_targets.select("tlon", "tlat").toPandas()
    qcell = C.lonlat_to_cell(q["qlon"].to_numpy(), q["qlat"].to_numpy(), li.knn_res)
    with tracer.span("cells.k_ring") as s:
        ring = C.k_ring(qcell, 1)
    tcell = C.lonlat_to_cell(t["tlon"].to_numpy(), t["tlat"].to_numpy(), li.knn_res)
    cells, counts = np.unique(tcell, return_counts=True)
    flat = ring[ring >= 0]
    pos = np.clip(np.searchsorted(cells, flat), 0, len(cells) - 1)
    candidates = int(counts[pos][cells[pos] == flat].sum())
    return {"cells.k_ring_s": s.duration, "knn.candidates": candidates,
            "knn.useful_ratio": _ratio(li.knn_k * len(q), candidates)}


def _raster_kernels(tracer: Tracer, li: LayerInputs) -> dict:
    """Warp, then PNG-encode, a few destination tiles from the whole
    source mosaic (the single-task form of the distributed warp)."""
    dst_gts, src, gt = [], None, None
    if li.raster_tiles is not None:
        pdf = li.raster_tiles.toPandas()
        tw, th = int(pdf["tile_w"].max()), int(pdf["tile_h"].max())
        src = np.zeros((int((pdf["tile_y"] * th + pdf["tile_h"]).max()),
                        int((pdf["tile_x"] * tw + pdf["tile_w"]).max())))
        for r in pdf.itertuples():
            src[r.tile_y * th:r.tile_y * th + r.tile_h,
                r.tile_x * tw:r.tile_x * tw + r.tile_w] = np.reshape(
                    r.pixels, (r.tile_h, r.tile_w))
        a = pdf.sort_values(["tile_y", "tile_x"]).iloc[0]
        gt = (a.gt0, a.gt1, a.gt2, a.gt3, a.gt4, a.gt5)
        n = 1 << li.raster_z
        res = 2.0 * C.ORIGIN_SHIFT / n / 256
        for key in range(min(KERNEL_TILES, n * n)):
            minx, _, _, maxy = C.tile_bounds_mercator(
                np.array([li.raster_z]), np.array([key % n]), np.array([key // n]))
            dst_gts.append((float(minx[0]), res, 0.0, float(maxy[0]), 0.0, -res))
    with tracer.span("resample.warp_tile") as w:
        outs = [R.warp_tile(src, gt, (256, 256), g, alg="bilinear",
                            dtype="uint8", transform=RA.merc_inverse)
                for g in dst_gts]
    with tracer.span("tilestore.encode_png") as e:
        for out in outs:
            TS.encode_png_gray(np.clip(out, 0, 255))
    per_tile = max(len(outs), 1)
    return {"resample.warp_tile_s": w.duration / per_tile,
            "resample.pixels_per_s": _ratio(256 * 256 * len(outs), w.duration),
            "tilestore.encode_png_s": e.duration / per_tile}
