"""MBTiles / GeoPackage tile-store SINKS — real SQLite files.

Schemas follow the reference drivers:

- MBTiles (``drivers/raster/mbtiles/mbtilesdataset.cpp``): table
  ``tiles(zoom_level, tile_column, tile_row, tile_data)`` + ``metadata``
  key/value pairs; rows are **TMS-flipped** (``row = 2^z - 1 - y``,
  ``:1136-1137``); web-mercator grid origin/extents at ``:61-62``.
- GeoPackage tiles (OGC GPKG 1.2, the layout ``drivers/raster/gpkg``
  consumes): ``gpkg_spatial_ref_sys`` / ``gpkg_contents`` /
  ``gpkg_tile_matrix_set`` / ``gpkg_tile_matrix`` + a pyramid user table
  ``(id, zoom_level, tile_column, tile_row, tile_data)``; rows are
  top-down (NOT flipped).

Tile payloads are real PNGs (8-bit gray from a dependency-free zlib
encoder, multi-band via sources/png.py) or baseline JPEGs, encoded
DISTRIBUTED in an Arrow batch map. Every file is written by the executor
task that owns its tiles (``_write_shards``): no tile bytes reach the
driver, which reads a small manifest and renames each finished temp file
into place. ``path``/``out_dir`` must therefore be on a filesystem the
driver and the executors share, as it is under ``local[N]``.
"""

from __future__ import annotations

import os
import sqlite3
import struct
import uuid
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lib_gdal_spark.sources.jpeg import write_jpeg
from lib_gdal_spark.sources.png import write_png

ORIGIN_SHIFT = 20037508.342789244  # mbtilesdataset.cpp:61


# ---------------------------------------------------------------------------
# Dependency-free PNG (8-bit grayscale, filter 0) — public PNG spec.
# ---------------------------------------------------------------------------

def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


def encode_png_gray(arr: np.ndarray) -> bytes:
    """(h, w) uint8 -> grayscale PNG bytes."""
    arr = np.asarray(arr, dtype=np.uint8)
    h, w = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit gray
    raw = b"".join(b"\x00" + arr[r].tobytes() for r in range(h))
    return (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw, 6))
            + _png_chunk(b"IEND", b""))


def decode_png_gray(png: bytes) -> np.ndarray:
    """Inverse of :func:`encode_png_gray` (accepts filter-0 scanlines).

    Raises ValueError for anything else: the blobs may come from files on
    disk (``tiles_from_pngs``, ``read_tms_directory``)."""
    if png[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    off = 8
    w = h = None
    idat = b""
    while off < len(png):
        (ln,) = struct.unpack_from(">I", png, off)
        tag = png[off + 4 : off + 8]
        data = png[off + 8 : off + 8 + ln]
        if tag == b"IHDR":
            w, h, bits, ctype = struct.unpack_from(">IIBB", data)
            if bits != 8 or ctype != 0:
                raise ValueError(
                    f"only 8-bit gray PNG supported (bit depth {bits}, "
                    f"colour type {ctype})")
        elif tag == b"IDAT":
            idat += data
        off += 12 + ln
    raw = zlib.decompress(idat)
    out = np.empty((h, w), dtype=np.uint8)
    stride = w + 1
    for r in range(h):
        row = raw[r * stride : (r + 1) * stride]
        if row[0] != 0:
            raise ValueError(f"only filter 0 supported (row {r}: {row[0]})")
        out[r] = np.frombuffer(row[1:], dtype=np.uint8)
    return out


def _encoded_tiles(tiles: DataFrame, raster_id: str,
                   band: int | tuple, fmt: str = "png") -> DataFrame:
    """Distributed tile encode -> (zoom, tile_x, tile_y, png binary).

    ``band`` an int -> 8-bit grayscale tiles; a tuple of band numbers ->
    gray / gray+alpha / RGB / RGBA tiles via sources/png.py, regrouped per
    tile key when more than one distinct band is read. ``fmt`` = 'png' or
    'jpg' (baseline JPEG via sources/jpeg.py; gray or exactly 3 bands)."""
    if fmt not in ("png", "jpg"):
        raise ValueError("fmt must be 'png' or 'jpg'")
    gray = isinstance(band, int)
    bands = (band,) if gray else tuple(band)
    if fmt == "jpg" and not gray and len(bands) != 3:
        raise ValueError("fmt='jpg' supports grayscale or exactly 3 "
                         "bands (JPEG has no alpha channel)")
    read = sorted(set(bands))
    src = tiles.where(
        (F.col("raster_id") == raster_id) & F.col("band").isin(read))
    planes = F.struct("band", "tile_w", "tile_h", "pixels")
    if len(read) > 1:
        src = src.groupBy("zoom", "tile_x", "tile_y").agg(
            F.collect_list(planes).alias("bs"))
    else:
        src = src.select("zoom", "tile_x", "tile_y",
                         F.array(planes).alias("bs"))

    def encode(arrs: list[np.ndarray]) -> bytes:
        if fmt == "jpg":
            return write_jpeg(arrs[0] if gray else np.stack(arrs, axis=2))
        return encode_png_gray(arrs[0]) if gray else write_png(arrs)

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            blobs = []
            for bs in b["bs"]:
                per = {int(p["band"]): np.clip(
                    np.asarray(p["pixels"], np.float64).reshape(
                        int(p["tile_h"]), int(p["tile_w"])), 0, 255)
                    .astype(np.uint8) for p in bs}
                blobs.append(encode([per[i] for i in bands]))
            yield pd.DataFrame({"zoom": b["zoom"], "tile_x": b["tile_x"],
                                "tile_y": b["tile_y"], "png": blobs})

    return src.mapInPandas(
        work, schema="zoom int, tile_x int, tile_y int, png binary")


_MANIFEST = "file string, tiles long, bytes long"


def _write_shards(enc: DataFrame, out_dir: str, keys: list | None,
                  shard_file, write_file, max_bytes: int,
                  limit: str) -> pd.DataFrame:
    """The one tile-store writer; returns the (file, tiles, bytes) manifest.

    The executor task owning a group of ``enc`` by ``keys`` (``None``: one
    file, even for no tiles) sums its bytes and, within ``max_bytes``,
    writes ``write_file(tmp, key, records)`` to a fresh temp file next to
    ``out_dir/shard_file(key)``. If any shard is over, the driver drops
    the temp files and raises ValueError naming ``limit``; else it renames
    each temp file over its target."""
    token = uuid.uuid4().hex

    def tmp_of(fname: str) -> str:
        return os.path.join(out_dir, f".{fname}.{token}.tmp")

    def write(key, pdf):
        fname = shard_file(key)
        total = int(pdf["png"].map(len).sum())
        if total <= max_bytes:
            tmp = tmp_of(fname)
            if os.path.exists(tmp):  # a retried task starts afresh
                os.remove(tmp)
            write_file(tmp, key, pdf.to_dict("records"))
        return pd.DataFrame({"file": [fname], "tiles": [len(pdf)],
                             "bytes": [total]})

    try:
        rows = enc.groupBy(*(keys or [F.lit(0).alias("file")])) \
            .applyInPandas(write, _MANIFEST).collect()
        man = pd.DataFrame(rows, columns=["file", "tiles", "bytes"])
        if man.empty and keys is None:
            man = write((0,), pd.DataFrame({"png": []}))
        over = man[man["bytes"] > max_bytes]
        if len(over):
            raise ValueError(
                f"{', '.join(over['file'])}: {over['bytes'].max()} B > "
                f"{limit}; shard (write_mbtiles_sharded) or use TMS/MVT")
    except BaseException:
        for f in os.listdir(out_dir):
            if f".{token}.tmp" in f:
                os.remove(os.path.join(out_dir, f))
        raise
    for f in man["file"]:
        os.replace(tmp_of(f), os.path.join(out_dir, f))
    return man


def write_mbtiles(
    tiles: DataFrame,
    path: str,
    raster_id: str,
    band: int | tuple = 1,
    name: str | None = None,
    max_bytes: int = 512 * 1024 * 1024,
    fmt: str = "png",
) -> int:
    """Tile table -> a standard .mbtiles file; returns tile count.

    ``tiles`` rows must carry web-mercator (z, x, y) keys in
    (zoom, tile_x, tile_y) — i.e. the output of the warp/tile pipeline.
    ``fmt`` = 'png' (lossless, default) or 'jpg' (baseline JPEG tiles —
    the common imagery choice; recorded in the metadata table).

    The one-shard case of ``_write_shards``: nothing is written past
    ``max_bytes`` (ValueError), and an existing ``path`` is replaced whole.
    """
    enc = _encoded_tiles(tiles, raster_id, band, fmt=fmt)
    out_dir, fname = os.path.split(os.path.abspath(path))
    man = _write_shards(
        enc, out_dir, None, lambda key: fname,
        lambda tmp, key, rows: _write_mbtiles_file(
            tmp, rows, fmt, name or raster_id),
        max_bytes, f"max_bytes={max_bytes}")
    return int(man["tiles"].sum())


def write_gpkg_tiles(
    tiles: DataFrame,
    path: str,
    raster_id: str,
    table_name: str = "tiles",
    band: int | tuple = 1,
    tile_px: int = 256,
    max_bytes: int = 512 * 1024 * 1024,
) -> int:
    """Tile table -> a GeoPackage with one tile-pyramid table; returns
    tile count. Web-mercator (EPSG:3857) tile matrix set; written,
    size-guarded and replaced like write_mbtiles."""
    enc = _encoded_tiles(tiles, raster_id, band)
    out_dir, fname = os.path.split(os.path.abspath(path))
    man = _write_shards(
        enc, out_dir, None, lambda key: fname,
        lambda tmp, key, rows: _write_gpkg_file(
            tmp, rows, raster_id, table_name, tile_px),
        max_bytes, f"max_bytes={max_bytes}")
    return int(man["tiles"].sum())


def _write_gpkg_file(path: str, rows: list, raster_id: str,
                     table_name: str, tile_px: int) -> None:
    """One GeoPackage tile file from (zoom, tile_x, tile_y, png) records."""
    zooms = sorted({r["zoom"] for r in rows}) or [0]
    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        cur.execute("PRAGMA application_id = 1196444487")  # 'GPKG'
        cur.execute("PRAGMA user_version = 10200")
        cur.execute(
            "CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys ("
            "srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY, "
            "organization TEXT NOT NULL, organization_coordsys_id INTEGER "
            "NOT NULL, definition TEXT NOT NULL, description TEXT)")
        cur.execute(
            "INSERT OR REPLACE INTO gpkg_spatial_ref_sys VALUES "
            "('Web Mercator', 3857, 'EPSG', 3857, 'PROJCS[...]', NULL)")
        cur.execute(
            "CREATE TABLE IF NOT EXISTS gpkg_contents ("
            "table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL,"
            "identifier TEXT UNIQUE, description TEXT DEFAULT '', "
            "last_change DATETIME, min_x DOUBLE, min_y DOUBLE, "
            "max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)")
        cur.execute(
            "INSERT OR REPLACE INTO gpkg_contents VALUES "
            "(?, 'tiles', ?, '', datetime('now'), ?, ?, ?, ?, 3857)",
            (table_name, raster_id, -ORIGIN_SHIFT, -ORIGIN_SHIFT,
             ORIGIN_SHIFT, ORIGIN_SHIFT))
        cur.execute(
            "CREATE TABLE IF NOT EXISTS gpkg_tile_matrix_set ("
            "table_name TEXT NOT NULL PRIMARY KEY, srs_id INTEGER NOT NULL,"
            "min_x DOUBLE NOT NULL, min_y DOUBLE NOT NULL, "
            "max_x DOUBLE NOT NULL, max_y DOUBLE NOT NULL)")
        cur.execute(
            "INSERT OR REPLACE INTO gpkg_tile_matrix_set VALUES "
            "(?, 3857, ?, ?, ?, ?)",
            (table_name, -ORIGIN_SHIFT, -ORIGIN_SHIFT, ORIGIN_SHIFT,
             ORIGIN_SHIFT))
        cur.execute(
            "CREATE TABLE IF NOT EXISTS gpkg_tile_matrix ("
            "table_name TEXT NOT NULL, zoom_level INTEGER NOT NULL, "
            "matrix_width INTEGER NOT NULL, matrix_height INTEGER NOT NULL,"
            "tile_width INTEGER NOT NULL, tile_height INTEGER NOT NULL, "
            "pixel_x_size DOUBLE NOT NULL, pixel_y_size DOUBLE NOT NULL, "
            "CONSTRAINT pk_ttm PRIMARY KEY (table_name, zoom_level))")
        for z in zooms:
            n = 1 << z
            px = 2.0 * ORIGIN_SHIFT / n / tile_px
            cur.execute(
                "INSERT OR REPLACE INTO gpkg_tile_matrix VALUES "
                "(?, ?, ?, ?, ?, ?, ?, ?)",
                (table_name, z, n, n, tile_px, tile_px, px, px))
        cur.execute(
            f"CREATE TABLE IF NOT EXISTS {table_name} ("
            "id INTEGER PRIMARY KEY AUTOINCREMENT, "
            "zoom_level INTEGER NOT NULL, tile_column INTEGER NOT NULL, "
            "tile_row INTEGER NOT NULL, tile_data BLOB NOT NULL, "
            "UNIQUE (zoom_level, tile_column, tile_row))")
        cur.executemany(
            f"INSERT OR REPLACE INTO {table_name} "
            "(zoom_level, tile_column, tile_row, tile_data) "
            "VALUES (?, ?, ?, ?)",
            [
                # GPKG rows are top-down: NO flip
                (r["zoom"], r["tile_x"], r["tile_y"],
                 sqlite3.Binary(bytes(r["png"])))
                for r in rows
            ],
        )
        con.commit()
    finally:
        con.close()


def _write_mbtiles_file(path: str, rows: list, fmt: str, name: str) -> None:
    """One MBTiles file from (zoom, tile_x, tile_y, png) records (TMS
    flip applied here); the write task of ``_write_shards`` calls it."""
    zooms = [int(r["zoom"]) for r in rows] or [0]
    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        cur.execute("CREATE TABLE IF NOT EXISTS metadata (name text, value text)")
        cur.execute(
            "CREATE TABLE IF NOT EXISTS tiles (zoom_level integer, "
            "tile_column integer, tile_row integer, tile_data blob)")
        cur.execute(
            "CREATE UNIQUE INDEX IF NOT EXISTS tile_index ON tiles "
            "(zoom_level, tile_column, tile_row)")
        meta = {
            "name": name, "type": "overlay", "version": "1.1",
            "format": fmt,
            "minzoom": str(min(zooms)), "maxzoom": str(max(zooms)),
            "bounds": "-180.0,-85.051129,180.0,85.051129",
        }
        cur.executemany("INSERT INTO metadata VALUES (?, ?)", meta.items())
        cur.executemany(
            "INSERT OR REPLACE INTO tiles VALUES (?, ?, ?, ?)",
            [(int(r["zoom"]), int(r["tile_x"]),
              (1 << int(r["zoom"])) - 1 - int(r["tile_y"]),  # TMS flip
              sqlite3.Binary(bytes(r["png"])))
             for r in rows])
        con.commit()
    finally:
        con.close()


def write_mbtiles_sharded(
    tiles: DataFrame,
    out_dir: str,
    raster_id: str,
    band: int | tuple = 1,
    name: str | None = None,
    fmt: str = "png",
    stripes: int = 1,
    max_shard_bytes: int = 512 * 1024 * 1024,
) -> DataFrame:
    """Distributed multi-file MBTiles sink: one .mbtiles per (zoom[, x-stripe]).

    This is the scale path the single-file sink's guard message points to.
    Each shard is written by the executor task that owns its tile group
    (``_write_shards``); ``max_shard_bytes`` bounds one shard, and if any
    is over it no file is written (ValueError; raise ``stripes`` to split
    hot zooms across more files/tasks).

    Files are ``{out_dir}/z{z}.mbtiles`` (stripes=1) or
    ``{out_dir}/z{z}_s{i}.mbtiles``; each is a fully standard MBTiles file
    covering its zoom slice (the reference reads per-zoom shards the same
    way any client does — one dataset per file). Writes at call time and
    returns the shard manifest (file, tiles, bytes) as a local DataFrame.
    """
    os.makedirs(out_dir, exist_ok=True)
    enc = _encoded_tiles(tiles, raster_id, band, fmt=fmt)
    stripes = max(1, int(stripes))
    man = _write_shards(
        enc, out_dir,
        [F.col("zoom"),
         F.pmod(F.col("tile_x"), F.lit(stripes)).cast("int").alias("stripe")],
        lambda key: (f"z{key[0]}.mbtiles" if stripes == 1
                     else f"z{key[0]}_s{key[1]}.mbtiles"),
        lambda tmp, key, rows: _write_mbtiles_file(
            tmp, rows, fmt, f"{name or raster_id}-z{key[0]}"),
        max_shard_bytes, f"max_shard_bytes={max_shard_bytes}")
    return tiles.sparkSession.createDataFrame(man, _MANIFEST)


def read_mbtiles(spark, path: str) -> DataFrame:
    """Read an .mbtiles back into a (zoom, tile_x, tile_y, png) DataFrame
    (driver-side SQLite scan; the SOURCE side of the round trip)."""
    con = sqlite3.connect(path)
    try:
        rows = con.execute(
            "SELECT zoom_level, tile_column, tile_row, tile_data "
            "FROM tiles").fetchall()
    finally:
        con.close()
    data = [
        (int(z), int(x), (1 << int(z)) - 1 - int(row), bytes(blob))
        for z, x, row, blob in rows
    ]
    return spark.createDataFrame(
        data, "zoom int, tile_x int, tile_y int, png binary")


# ---------------------------------------------------------------------------
# TMS directory layout (the on-disk analog of the reference's WMS/TMS
# minidriver tree: {z}/{x}/{y}.png — frmts/wms/minidriver_tms.cpp URL
# scheme). Writing is a foreachPartition fan-out (each task writes its own
# files — safe, paths are disjoint); reading is Spark's distributed
# binaryFile source + the Arrow-batched PNG decode, so neither direction
# funnels pixels through the driver.
# ---------------------------------------------------------------------------

def write_tms_directory(
    tiles: DataFrame, root: str, raster_id: str, band: int | tuple = 1
) -> int:
    """Tile table -> {root}/{z}/{x}/{y}.png files (TMS row flip)."""
    enc = _encoded_tiles(tiles, raster_id, band)

    def write_part(rows) -> Iterator[pd.DataFrame]:
        for b in rows:
            n = 0
            for _, r in b.iterrows():
                z, x = int(r["zoom"]), int(r["tile_x"])
                y = (1 << z) - 1 - int(r["tile_y"])  # TMS flip
                d = os.path.join(root, str(z), str(x))
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, f"{y}.png"), "wb") as f:
                    f.write(bytes(r["png"]))
                n += 1
            yield pd.DataFrame({"n": [n]})

    out = enc.mapInPandas(write_part, schema="n long")
    return sum(r["n"] for r in out.collect())


def read_tms_directory(spark, root: str) -> DataFrame:
    """{root}/{z}/{x}/{y}.png -> (zoom, tile_x, tile_y, png) DataFrame —
    distributed binaryFile scan, flip undone."""
    df = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.png"
    ).option("recursiveFileLookup", "true").load(root)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for _, r in b.iterrows():
                parts = r["path"].rstrip("/").split("/")
                y = int(parts[-1].rsplit(".", 1)[0])
                x = int(parts[-2])
                z = int(parts[-3])
                rows.append((z, x, (1 << z) - 1 - y, bytes(r["content"])))
            yield pd.DataFrame(
                rows, columns=["zoom", "tile_x", "tile_y", "png"])

    return df.select("path", "content").mapInPandas(
        parse, schema="zoom int, tile_x int, tile_y int, png binary")


def tiles_from_pngs(pngs: DataFrame, raster_id: str = "tms",
                    band: int = 1) -> DataFrame:
    """(zoom, tile_x, tile_y, png) -> the engine's tile table (decode in
    Arrow batches; geotransform from the web-mercator grid)."""
    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for b in batches:
            for _, r in b.iterrows():
                arr = decode_png_gray(bytes(r["png"]))
                z, tx, ty = int(r["zoom"]), int(r["tile_x"]), int(r["tile_y"])
                n = 1 << z
                span = 2.0 * ORIGIN_SHIFT / n
                res = span / arr.shape[1]
                rows.append(dict(
                    raster_id=raster_id, band=band, zoom=z,
                    tile_x=tx, tile_y=ty, dtype="uint8",
                    tile_w=arr.shape[1], tile_h=arr.shape[0],
                    gt0=-ORIGIN_SHIFT + tx * span, gt1=res, gt2=0.0,
                    gt3=ORIGIN_SHIFT - ty * span, gt4=0.0, gt5=-res,
                    nodata=None,
                    pixels=arr.astype(np.float64).ravel().tolist(),
                ))
        yield pd.DataFrame(rows)

    from lib_gdal_spark.sources.rasters import RASTER_SCHEMA

    return pngs.mapInPandas(work, schema=RASTER_SCHEMA)
