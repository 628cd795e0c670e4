"""The benchmark's three workloads.

Each workload generates its inputs from a seed into parquet (the local
stand-in for the Iceberg table), computes the expected outputs with the
NumPy references of ``oracle``, and then runs as a batch job over those
files only. Why each exists:

- ``pages_geo_join``: the flagship job. Extraction dominates and the join
  sees few candidates, so extract/cells changes move it and join changes
  should not.
- ``pip_dense_knn``: extraction is bypassed; thousands of small polygons
  around the Zipf city centres give hot cells many join candidates, and a
  k-ring kNN pass runs over the same skewed points.
- ``raster_tile_write``: no vector work; the distributed warp, the
  resample kernel and a real tile write (PNG + MBTiles) on disk.

Protocol: ``generate`` (untimed, no Spark, cached by the caller) -> ``load`` ->
``run`` (the timed job) -> ``observe`` (untimed, reads back the outputs
and releases what ``run`` kept) -> ``check`` (list of problems, empty when
the outputs are correct). ``layers`` gives the traced run the inputs each
layer sees on this workload.
"""

from __future__ import annotations

import json
import os
import sqlite3
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import __spark_entry__ as E
from geobench import oracle
from lib_gdal_spark.functions import cells as C
from lib_gdal_spark.functions import geometry as G
from lib_gdal_spark.kernels import resample as R
from lib_gdal_spark.operators import geo as GEO
from lib_gdal_spark.operators import knn as KNN
from lib_gdal_spark.operators import pip_join as PIP
from lib_gdal_spark.operators import raster as RA
from lib_gdal_spark.sinks import tilestore as TS
from lib_gdal_spark.sources import pages as PG
from lib_gdal_spark.sources import rasters as RS

CELL_RES = 12  # resolution of the cell key enrich_pages attaches
# The seed picks which pages are drawn (a block of page ids); the city
# layout stays that of one generator seed. Moving the cities with the seed
# moves the amount of work (city latitudes set cell sizes, Zipf ranks set
# hot-cell sizes), which would make runs with different seeds disagree.
LAYOUT_SEED = 42
ID_BLOCK = 10**8  # page ids per seed


def page_ids(seed: int, n: int) -> np.ndarray:
    return np.int64(seed % 10**10) * ID_BLOCK + np.arange(n, dtype=np.int64)

# Parquet schemas of the generated tables, as Spark would write them.
PAGES = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", "UTC")),
                   ("html", pa.binary()), ("text", pa.string()),
                   ("lang", pa.string())])
POINTS = pa.schema([("url", pa.string()), ("lon", pa.float64()),
                    ("lat", pa.float64()), ("cell", pa.int64())])
POLYGONS = pa.schema([("fid", pa.int64()), ("geom_wkb", pa.binary())])
QUERIES = pa.schema([("qid", pa.int64()), ("qlon", pa.float64()),
                     ("qlat", pa.float64())])
TILES = pa.schema(
    [("raster_id", pa.string())]
    + [(c, pa.int32()) for c in ("band", "zoom", "tile_x", "tile_y")]
    + [("dtype", pa.string()), ("tile_w", pa.int32()), ("tile_h", pa.int32())]
    + [(f"gt{i}", pa.float64()) for i in range(6)]
    + [("nodata", pa.float64()), ("pixels", pa.list_(pa.float64()))])


def write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema,
                  parts: int = 1) -> None:
    """Write ``df`` as a parquet table of ``parts`` files, in row order."""
    os.makedirs(path)
    for i, rows in enumerate(np.array_split(np.arange(len(df)), parts)):
        pq.write_table(pa.Table.from_pandas(df.iloc[rows], schema=schema,
                                            preserve_index=False),
                       os.path.join(path, f"part-{i:05d}.parquet"))


@dataclass
class LayerInputs:
    """What each layer receives on one workload in the traced run;
    ``None`` means the workload does not use the layer."""

    scans: list
    pages: DataFrame | None = None
    pip_points: DataFrame | None = None  # None: the enriched pages
    pip_polygons: DataFrame | None = None
    pip_res: int = 7
    knn_queries: DataFrame | None = None
    knn_targets: DataFrame | None = None
    knn_k: int = 5
    knn_res: int = 13
    raster_tiles: DataFrame | None = None
    raster_z: int = 1


def _write_expected(d: str, obj) -> None:
    with open(os.path.join(d, "expected.json"), "w") as f:
        json.dump(obj, f)


def _read_expected(d: str):
    with open(os.path.join(d, "expected.json")) as f:
        return json.load(f)


def _pid(url_col: str = "url") -> F.Column:
    """A page's index within its seed's id block, from its url."""
    return F.substring_index(F.col(url_col), "/", -1).cast("long") % ID_BLOCK


def _urls(ids: np.ndarray) -> pd.Series:
    ids = pd.Series(ids)
    return ("https://host" + (ids % 1000).astype(str) + ".example/page/"
            + ids.astype(str))


def _polygons_pdf(polys: dict[int, np.ndarray]) -> pd.DataFrame:
    return pd.DataFrame({"fid": list(polys),
                         "geom_wkb": [G.wkb_polygon([r]) for r in polys.values()]})


def _closed(verts) -> np.ndarray:
    ring = np.asarray(verts, dtype=np.float64)
    return np.vstack([ring, ring[:1]])


class PagesGeoJoin:
    """pages -> enrich (extract + cells) -> PIP on 3 pentagons + z12 tiles."""

    name = "pages_geo_join"
    tile_z = 12

    def __init__(self, scale: float = 1.0) -> None:
        self.n_pages = max(2000, int(200_000 * scale))
        self.rows = self.n_pages
        self.size_key = f"n{self.n_pages}"

    def generate(self, d: str, seed: int, parts: int) -> None:
        ids = page_ids(seed, self.n_pages)
        pages = PG.build_batch(ids, LAYOUT_SEED)
        pages["warc_ts"] = pages["warc_ts"].dt.tz_localize("UTC")
        write_parquet(pages, os.path.join(d, "pages.parquet"), PAGES, parts)
        lon, lat = PG.page_coords(ids, LAYOUT_SEED)
        geo = ~np.isnan(lon)
        ids, lon, lat = ids[geo], oracle.text_coord(lon[geo]), oracle.text_coord(lat[geo])
        urls = _urls(ids)
        hits, ambiguous = [], []
        for fid, verts in E.POLYGONS.items():
            inside, on_edge = oracle.inside_convex(verts, lon, lat)
            hits += [[u, fid] for u in urls[inside]]
            ambiguous += [[u, fid] for u in urls[on_edge]]
        tx, ty = C.lonlat_to_tile(lon, lat, self.tile_z)
        _write_expected(d, {
            "geo_rows": int(geo.sum()),
            "hits": sorted(hits), "ambiguous": sorted(ambiguous),
            "tiles": [int(len(tx)), int(tx.sum()), int(ty.sum()),
                      int((tx * ty).sum())],
        })

    def expected(self, d: str):
        return _read_expected(d)

    def load(self, spark, d: str) -> dict:
        polys = {fid: _closed(v) for fid, v in E.POLYGONS.items()}
        # one partition: a 3-row dimension table
        return {"pages": spark.read.parquet(os.path.join(d, "pages.parquet")),
                "polygons": spark.createDataFrame(_polygons_pdf(polys)).coalesce(1)}

    def run(self, spark, inp: dict, out_dir: str):
        enr = GEO.enrich_pages(inp["pages"], res=CELL_RES).persist()
        hits = PIP.pip_join(enr.where(F.col("cell").isNotNull()),
                            inp["polygons"], res=7, points_res=CELL_RES)
        hit_rows = hits.collect()
        GEO.with_tile(enr, z=self.tile_z).write.format("noop").mode(
            "overwrite").save()
        return enr, hit_rows

    def observe(self, out) -> dict:
        enr, hit_rows = out
        try:
            # Only pages with coordinates: with_tile puts NULL coordinates
            # in tile (0, 2^z - 1) instead of the NULL tile it documents.
            t = GEO.with_tile(enr, z=self.tile_z).where(F.col("lon").isNotNull())
            digest = t.agg(F.count("*"), F.sum("tx"), F.sum("ty"),
                           F.sum(F.col("tx") * F.col("ty"))).first()
            geo_rows = enr.where(F.col("cell").isNotNull()).count()
        finally:
            enr.unpersist(blocking=True)
        return {"hits": sorted([r["url"], int(r["fid"])] for r in hit_rows),
                "tiles": [int(v or 0) for v in digest], "geo_rows": geo_rows,
                "output_bytes": 0}

    def check(self, got: dict, want: dict) -> list[str]:
        problems = []
        ambiguous = {tuple(h) for h in want["ambiguous"]}
        got_hits = {tuple(h) for h in got["hits"]} - ambiguous
        if got_hits != {tuple(h) for h in want["hits"]}:
            problems.append("pip_join hit set differs from the half-plane test")
        if got["tiles"] != want["tiles"]:
            problems.append("with_tile digest differs from lonlat_to_tile")
        if got["geo_rows"] != want["geo_rows"]:
            problems.append("enrich_pages geo row count differs")
        return problems

    def layers(self, inp: dict) -> LayerInputs:
        return LayerInputs(scans=[inp["pages"]], pages=inp["pages"],
                           pip_polygons=inp["polygons"])


class PipDenseKnn:
    """Enriched points -> PIP on ~2000 city polygons + k-ring kNN."""

    name = "pip_dense_knn"
    grid = 7  # polygons per city: grid x grid
    spacing = 0.03  # degrees between polygon centres
    k = 5
    knn_res = 13
    pip_res = 7
    n_checked_queries = 64

    def __init__(self, scale: float = 1.0) -> None:
        self.n_pages = max(2000, int(60_000 * scale))
        self.n_queries = max(50, int(1000 * scale))
        self.size_key = f"n{self.n_pages}q{self.n_queries}"
        self.rows = None  # geo points; known once generated

    def _polygons(self, seed: int) -> dict[int, np.ndarray]:
        """Small convex polygons on a grid around every city centre.

        Each stays inside its own grid cell, so they never overlap within
        a city. Vertices are not snapped to the 1e-4 page lattice, so a
        page on an edge (left unchecked by ``check``) is very rare.
        """
        rng = np.random.default_rng([seed, 7])
        clon, clat = PG.city_centers(LAYOUT_SEED)
        off = (np.arange(self.grid) - (self.grid - 1) / 2) * self.spacing
        polys, fid = {}, 1
        for cx, cy in zip(clon, clat):
            for gx in off:
                for gy in off:
                    sides = int(rng.integers(5, 9))
                    r = self.spacing * rng.uniform(0.3, 0.4)
                    jx, jy = rng.uniform(-0.05, 0.05, 2) * self.spacing
                    a = rng.uniform(0, 2 * np.pi) + 2 * np.pi * np.arange(sides) / sides
                    verts = np.column_stack([cx + gx + jx + r * np.cos(a),
                                             cy + gy + jy + r * np.sin(a)])
                    polys[fid] = _closed(verts)
                    fid += 1
        return polys

    def _points(self, seed: int):
        ids = page_ids(seed, self.n_pages)
        lon, lat = PG.page_coords(ids, LAYOUT_SEED)
        geo = ~np.isnan(lon)
        return ids[geo], lon[geo], lat[geo]

    def _queries(self, seed: int):
        ids = page_ids(seed, 2 * self.n_queries) + ID_BLOCK // 2
        lon, lat = PG.page_coords(ids, LAYOUT_SEED)
        geo = ~np.isnan(lon)
        return lon[geo][: self.n_queries], lat[geo][: self.n_queries]

    def generate(self, d: str, seed: int, parts: int) -> None:
        ids, lon, lat = self._points(seed)
        urls = _urls(ids)
        pts = pd.DataFrame({"url": urls, "lon": lon, "lat": lat,
                            "cell": C.lonlat_to_cell(lon, lat, CELL_RES)})
        write_parquet(pts, os.path.join(d, "points.parquet"), POINTS, parts)
        polys = self._polygons(seed)
        write_parquet(_polygons_pdf(polys), os.path.join(d, "polygons.parquet"),
                      POLYGONS)
        qlon, qlat = self._queries(seed)
        q = pd.DataFrame({"qid": np.arange(len(qlon), dtype=np.int64),
                          "qlon": qlon, "qlat": qlat})
        write_parquet(q, os.path.join(d, "queries.parquet"), QUERIES)

        order = np.argsort(lon, kind="stable")
        slon, slat, sids = lon[order], lat[order], ids[order]
        per_fid = {}
        for fid, ring in polys.items():
            lo = np.searchsorted(slon, ring[:, 0].min(), "left")
            hi = np.searchsorted(slon, ring[:, 0].max(), "right")
            sel = (slat[lo:hi] >= ring[:, 1].min()) & (slat[lo:hi] <= ring[:, 1].max())
            inside, on_edge = oracle.inside_convex(
                ring[:-1], slon[lo:hi][sel], slat[lo:hi][sel])
            p = sids[lo:hi][sel][inside] % ID_BLOCK
            per_fid[str(fid)] = (None if on_edge.any() else
                                 [int(len(p)), int(p.sum()), int((p * p).sum())])
        m = min(self.n_checked_queries, len(qlon))
        knn = oracle.knn_reference(qlon[:m], qlat[:m], lon, lat,
                                   np.asarray(urls), self.k, self.knn_res)
        _write_expected(d, {"points": int(len(ids)), "per_fid": per_fid,
                            "knn": knn})

    def expected(self, d: str):
        want = _read_expected(d)
        self.rows = want["points"]
        return want

    def load(self, spark, d: str) -> dict:
        return {n: spark.read.parquet(os.path.join(d, f"{n}.parquet"))
                for n in ("points", "polygons", "queries")}

    def _targets(self, points: DataFrame) -> DataFrame:
        return points.select(F.col("url").alias("tid"), F.col("lon").alias("tlon"),
                             F.col("lat").alias("tlat"))

    def run(self, spark, inp: dict, out_dir: str):
        hits = PIP.pip_join(inp["points"], inp["polygons"], res=self.pip_res,
                            points_res=CELL_RES)
        per_fid = hits.groupBy("fid").agg(
            F.count("*").alias("n"), F.sum(_pid()).alias("s"),
            F.sum(_pid() * _pid()).alias("s2")).collect()
        nn = KNN.knn_kring(inp["queries"], self._targets(inp["points"]),
                           k=self.k, res=self.knn_res, rings=1).collect()
        return per_fid, nn

    def observe(self, out) -> dict:
        per_fid, nn = out
        by_q: dict[int, list] = {}
        for r in sorted(nn, key=lambda r: (r["qid"], r["rank"])):
            by_q.setdefault(int(r["qid"]), []).append((r["tid"], float(r["dist_km"])))
        return {"per_fid": {str(r["fid"]): [int(r["n"]), int(r["s"]), int(r["s2"])]
                            for r in per_fid},
                "knn": by_q, "output_bytes": 0}

    def check(self, got: dict, want: dict) -> list[str]:
        problems = []
        bad = [f for f, v in want["per_fid"].items()
               if v is not None and got["per_fid"].get(f, [0, 0, 0]) != v]
        extra = set(got["per_fid"]) - set(want["per_fid"])
        if bad or extra:
            problems.append(f"pip_join differs from brute-force containment "
                            f"on {len(bad) + len(extra)} polygons")
        wrong = [q for q, (exact, ref) in enumerate(want["knn"])
                 if exact and not oracle.same_knn(got["knn"].get(q, []), ref)]
        if wrong:
            problems.append(f"knn_kring differs from brute-force top-k on "
                            f"queries {wrong[:5]}")
        if any(len(v) > self.k for v in got["knn"].values()):
            problems.append("knn_kring returned more than k neighbours")
        return problems

    def layers(self, inp: dict) -> LayerInputs:
        return LayerInputs(
            scans=[inp["points"], inp["polygons"], inp["queries"]],
            pip_points=inp["points"], pip_polygons=inp["polygons"],
            pip_res=self.pip_res, knn_queries=inp["queries"],
            knn_targets=self._targets(inp["points"]), knn_k=self.k,
            knn_res=self.knn_res)


class RasterTileWrite:
    """World raster -> bilinear warp to mercator z tiles -> PNG -> MBTiles."""

    name = "raster_tile_write"
    raster_id = "world"
    alg = "bilinear"
    n_checked_tiles = 4

    def __init__(self, scale: float = 1.0) -> None:
        self.z = 3 if scale >= 0.5 else 1
        self.n_px = 128 << self.z  # source pixels per side
        self.src_tile = self.n_px // 8
        self.rows = self.n_px * self.n_px
        self.size_key = f"px{self.n_px}z{self.z}"

    def _raster(self, seed: int):
        """``world4326`` shifted and speckled by the seed."""
        vals, gt = RS.world4326(self.n_px)
        rng = np.random.default_rng([seed, 11])
        vals = np.roll(vals, int(rng.integers(self.n_px)), axis=1)
        noise = rng.integers(0, 8, vals.shape, dtype=np.int16)
        return np.clip(vals + noise, 0, 255).astype(np.uint8), gt

    def generate(self, d: str, seed: int, parts: int) -> None:
        arr, gt = self._raster(seed)
        rows = RS.tiles_from_array(self.raster_id, arr, gt, tile=self.src_tile)
        write_parquet(pd.DataFrame(rows), os.path.join(d, "tiles.parquet"),
                      TILES, parts)
        rng = np.random.default_rng([seed, 13])
        n = 1 << self.z
        keys = rng.choice(n * n, self.n_checked_tiles, replace=False)
        src = arr.astype(np.float64)
        for key in keys:
            tx, ty = int(key % n), int(key // n)
            np.save(os.path.join(d, f"tile_{tx}_{ty}.npy"),
                    self.mosaic_tile(src, gt, tx, ty))
        _write_expected(d, {"tiles": n * n,
                            "sampled": [[int(k % n), int(k // n)] for k in keys]})

    def mosaic_tile(self, src: np.ndarray, gt, tx: int, ty: int) -> np.ndarray:
        """One destination tile warped from the whole source mosaic."""
        res = 2.0 * C.ORIGIN_SHIFT / (1 << self.z) / 256
        minx, _, _, maxy = C.tile_bounds_mercator(
            np.array([self.z]), np.array([tx]), np.array([ty]))
        dst_gt = (float(minx[0]), res, 0.0, float(maxy[0]), 0.0, -res)
        out = R.warp_tile(src, gt, (256, 256), dst_gt, alg=self.alg,
                          dtype="uint8", transform=RA.merc_inverse)
        return np.clip(out, 0, 255).astype(np.uint8)

    def expected(self, d: str):
        want = _read_expected(d)
        want["arrays"] = {(tx, ty): np.load(os.path.join(d, f"tile_{tx}_{ty}.npy"))
                          for tx, ty in want["sampled"]}
        return want

    def load(self, spark, d: str) -> dict:
        return {"tiles": spark.read.parquet(os.path.join(d, "tiles.parquet"))}

    def run(self, spark, inp: dict, out_dir: str):
        warped = RA.warp_to_mercator_tiles_dist(inp["tiles"], self.z, alg=self.alg)
        manifest = TS.write_mbtiles_sharded(warped, out_dir, self.raster_id).collect()
        return out_dir, manifest

    def observe(self, out) -> dict:
        out_dir, manifest = out
        files = sorted(os.listdir(out_dir))
        tiles = {}
        if files == [f"z{self.z}.mbtiles"]:
            con = sqlite3.connect(os.path.join(out_dir, files[0]))
            try:
                for tx, ty_tms, blob in con.execute(
                        "SELECT tile_column, tile_row, tile_data FROM tiles "
                        "WHERE zoom_level = ?", (self.z,)):
                    tiles[(tx, (1 << self.z) - 1 - ty_tms)] = bytes(blob)
            finally:
                con.close()
        return {"files": files, "tiles": tiles,
                "manifest_tiles": sum(int(r["tiles"]) for r in manifest),
                "output_bytes": sum(os.path.getsize(os.path.join(out_dir, f))
                                    for f in files)}

    def check(self, got: dict, want: dict) -> list[str]:
        problems = []
        if len(got["tiles"]) != want["tiles"] or got["manifest_tiles"] != want["tiles"]:
            problems.append(f"expected {want['tiles']} tiles, wrote "
                            f"{len(got['tiles'])} (manifest {got['manifest_tiles']})")
        for key, ref in want["arrays"].items():
            blob = got["tiles"].get(key)
            if blob is None or not np.array_equal(TS.decode_png_gray(blob), ref):
                problems.append(f"tile {key} differs from the mosaic warp")
        return problems

    def layers(self, inp: dict) -> LayerInputs:
        return LayerInputs(scans=[inp["tiles"]], raster_tiles=inp["tiles"],
                           raster_z=self.z)


WORKLOADS = {w.name: w for w in (PagesGeoJoin, PipDenseKnn, RasterTileWrite)}

# Layer spans each workload is predicted to spend most of its layer time in.
PREDICTED_LAYERS = {
    "pages_geo_join": ("geo.enrich",),
    "pip_dense_knn": ("pip_join.cover", "pip_join.join", "knn.join"),
    "raster_tile_write": ("raster.warp", "tilestore.write"),
}

