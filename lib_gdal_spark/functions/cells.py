"""Deterministic spatial cell / tile key math, fully vectorized in NumPy.

This module is the engine's spatial index. The reference uses runtime
structures (shapefile ``.qix`` quadtrees, ``core/port/cpl_quad_tree.cpp``;
grid kNN via quadtree radius growth, ``core/alg/gdalgrid.cpp:281-301``).
In Spark the index is a *data layout decision*: every point gets a
deterministic int64 cell key, co-located by partitioning, and spatial
predicates become equi-joins on those keys (SURVEY.md §4 row 8).

Two key families:

1. **Web-mercator XYZ tiles** ``(z, x, y)`` — the global tile grid of the
   MBTiles/GPKG tile stores (origin −20037508.34, +20037508.34; matrix
   2^z × 2^z; optional TMS row flip ``2^z−1−row`` —
   ``drivers/raster/mbtiles/mbtilesdataset.cpp:61-62,969,1136-1137``).
2. **Quadtree cell ids** — ``(res, x, y)`` packed into one int64, an
   H3/S2-style addressing scheme over the same mercator grid with square
   k-ring neighborhoods (analog of H3 kRing; used for kNN expansion joins).

All functions accept and return ``numpy.ndarray`` and never loop per row.
"""

from __future__ import annotations

import numpy as np

# Web-mercator constants (spherical, EPSG:3857).
EARTH_RADIUS_M = 6378137.0
ORIGIN_SHIFT = 20037508.342789244  # pi * EARTH_RADIUS_M
MAX_MERC_LAT = 85.05112877980659  # atan(sinh(pi)) in degrees

# int64 cell packing: [ res:6 bits | x:29 bits | y:29 bits ]
_RES_SHIFT = 58
_X_SHIFT = 29
_XY_MASK = (1 << 29) - 1
MAX_RES = 28


def mercator_norm(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) degrees -> normalized mercator (mx, my) in [0, 1).

    mx grows eastward from −180°; my grows *southward* from the north clip
    latitude — the XYZ/google tile convention (row 0 at the top), matching
    the top-left-origin raster convention of the geotransform
    (``core/alg/gdaltransformer.cpp:3761``).
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lat = np.clip(lat, -MAX_MERC_LAT, MAX_MERC_LAT)
    mx = (lon + 180.0) / 360.0
    s = np.sin(np.radians(lat))
    my = 0.5 - np.log((1.0 + s) / (1.0 - s)) / (4.0 * np.pi)
    return mx, my


def lonlat_to_tile(
    lon: np.ndarray, lat: np.ndarray, z: int, tms: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) -> integer tile (x, y) at zoom z on the 2^z × 2^z grid.

    ``tms=True`` applies the TMS row flip ``y = 2^z - 1 - y``
    (``drivers/raster/mbtiles/mbtilesdataset.cpp:969``).
    """
    n = np.int64(1) << z
    mx, my = mercator_norm(lon, lat)
    x = np.clip(np.floor(mx * n).astype(np.int64), 0, n - 1)
    y = np.clip(np.floor(my * n).astype(np.int64), 0, n - 1)
    if tms:
        y = n - 1 - y
    return x, y


def pack_cell(res: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """(res, x, y) -> int64 cell id."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    return (
        (np.int64(res) << _RES_SHIFT)
        | (np.asarray(x, dtype=np.int64) << _X_SHIFT)
        | np.asarray(y, dtype=np.int64)
    )


def unpack_cell(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """int64 cell id -> (res, x, y)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> _RES_SHIFT).astype(np.int64)
    x = (cell >> _X_SHIFT) & _XY_MASK
    y = cell & _XY_MASK
    return res, x, y


def lonlat_to_cell(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """(lon, lat) -> packed int64 cell id at resolution ``res``."""
    x, y = lonlat_to_tile(lon, lat, res)
    return pack_cell(res, x, y)


def cell_parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Coarsen a cell id to an ancestor resolution (quadtree parent chain)."""
    res, x, y = unpack_cell(cell)
    shift = res - parent_res
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return pack_cell(parent_res, x >> shift, y >> shift)


def cell_center(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> (lon, lat) of the cell center."""
    res, x, y = unpack_cell(cell)
    n = np.float64(2.0) ** res
    mx = (x.astype(np.float64) + 0.5) / n
    my = (y.astype(np.float64) + 0.5) / n
    lon = mx * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * my))))
    return lon, lat


def k_ring(cell: np.ndarray, k: int) -> np.ndarray:
    """All cells within Chebyshev distance ``k`` of each input cell.

    Square-grid analog of H3 ``kRing`` (the kNN expansion primitive; the
    reference's counterpart is quadtree radius growth,
    ``core/alg/gdalgrid.cpp:281-301``). Returns shape
    ``(len(cell), (2k+1)**2)``; x wraps around the antimeridian, y is clipped
    by marking out-of-range rows with -1 (caller filters).
    """
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    res, x, y = unpack_cell(cell)
    n = np.int64(1) << int(res[0])  # k_ring batches share one resolution
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs, indexing="ij")
    dx = dx.ravel()[None, :]
    dy = dy.ravel()[None, :]
    nx = (x[:, None] + dx) % n  # antimeridian wrap
    ny = y[:, None] + dy
    valid = (ny >= 0) & (ny < n)
    out = pack_cell(int(res[0]), nx, np.clip(ny, 0, n - 1))
    return np.where(valid, out, np.int64(-1))


def cell_expr(lon, lat, res: int):
    """Native Spark Column for ``lonlat_to_cell`` (JVM, whole-stage codegen).

    For the *big* side of candidate-generation joins: keeps 100%-of-rows
    math out of Python. Java Math.sin/log may differ from NumPy/libm by
    1 ulp, which can shift a point sitting exactly on a cell edge into the
    adjacent cell — harmless wherever a k-ring (>=1) or an epsilon-widened
    cover (``pip_join.COVER_EPS``) absorbs it, which is every call site; use
    the NumPy path when the cell id itself is the contract.
    """
    from pyspark.sql import functions as F

    n = 1 << res
    lat_c = F.least(F.greatest(lat, F.lit(-MAX_MERC_LAT)), F.lit(MAX_MERC_LAT))
    mx = (lon + F.lit(180.0)) / F.lit(360.0)
    s = F.sin(F.radians(lat_c))
    my = (F.lit(0.5)
          - F.log((F.lit(1.0) + s) / (F.lit(1.0) - s)) / F.lit(4.0 * np.pi))
    x = F.least(F.greatest(F.floor(mx * n).cast("long"), F.lit(0)),
                F.lit(n - 1))
    y = F.least(F.greatest(F.floor(my * n).cast("long"), F.lit(0)),
                F.lit(n - 1))
    return (F.lit(res << _RES_SHIFT).cast("long")
            + x * F.lit(1 << _X_SHIFT).cast("long") + y)


def tile_bounds_mercator(
    z: np.ndarray, x: np.ndarray, y: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(z,x,y) XYZ tile -> EPSG:3857 meters (minx, miny, maxx, maxy)."""
    z = np.asarray(z, dtype=np.int64)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = np.power(2.0, z.astype(np.float64))
    span = 2.0 * ORIGIN_SHIFT / n
    minx = -ORIGIN_SHIFT + x * span
    maxy = ORIGIN_SHIFT - y * span
    return minx, maxy - span, minx + span, maxy


def haversine_km(
    lon1: np.ndarray, lat1: np.ndarray, lon2: np.ndarray, lat2: np.ndarray
) -> np.ndarray:
    """Great-circle distance in km (spherical, R=6371.0088 mean radius)."""
    lon1, lat1, lon2, lat2 = (
        np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2)
    )
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * 6371.0088 * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def cell_radius_km(res: int, lat: float = 0.0) -> float:
    """Approximate max point-to-center distance inside one cell at ``res``.

    Used to size k for a k-ring radius search: a radius-r query needs
    ``k = ceil(r / cell_width(res))`` rings.
    """
    width_deg = 360.0 / (1 << res)
    km_per_deg = 111.32 * max(np.cos(np.radians(lat)), 1e-6)
    return float(width_deg * km_per_deg * 0.7071067811865476)


def _spread_bits32(v):
    """Spread a 32-bit int's bits to even positions of a 64-bit long —
    JVM-only (shiftleft/bitwiseAND), the classic Morton magic numbers."""
    from pyspark.sql import functions as F

    v = v.bitwiseAND(F.lit(0xFFFFFFFF))
    v = v.bitwiseOR(F.shiftleft(v, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x3333333333333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return v


def zorder_key(x, y):
    """Morton-interleave two non-negative 32-bit grid coordinates into one
    long sort key — the Z-ORDER layout primitive for writing spatially
    clustered parquet/Iceberg files (SURVEY §4: Iceberg pruning +
    Z-ordering replaces the reference's attribute index). Pure JVM."""
    from pyspark.sql import functions as F

    return _spread_bits32(x.cast("long")).bitwiseOR(
        F.shiftleft(_spread_bits32(y.cast("long")), 1)
    )


def with_zorder(df, lon_col: str = "lon", lat_col: str = "lat",
                bits: int = 16, key_col: str = "zkey",
                num_partitions: int | None = None):
    """Add a Morton key from lon/lat quantized to ``bits`` per axis, and
    return the DataFrame REPARTITIONED-BY-RANGE + sorted on it — the
    write layout that makes min/max file skipping effective for spatial
    predicates. Pass ``num_partitions`` (target file count) explicitly;
    otherwise AQE may coalesce small shuffles into one file and the
    layout degenerates."""
    from pyspark.sql import functions as F

    n = 1 << bits
    qx = F.least(
        F.lit(n - 1),
        F.floor((F.col(lon_col) + 180.0) / 360.0 * n).cast("long"),
    )
    qy = F.least(
        F.lit(n - 1),
        F.floor((F.col(lat_col) + 90.0) / 180.0 * n).cast("long"),
    )
    out = df.withColumn(key_col, zorder_key(qx, qy))
    if num_partitions:
        out = out.repartitionByRange(num_partitions, F.col(key_col))
    else:
        out = out.repartitionByRange(F.col(key_col))
    return out.sortWithinPartitions(key_col)


def _cell_parts(cell):
    from pyspark.sql import functions as F

    res = F.shiftright(cell, _RES_SHIFT).cast("int")
    x = F.shiftright(cell, _X_SHIFT).bitwiseAND(F.lit(_XY_MASK))
    y = cell.bitwiseAND(F.lit(_XY_MASK))
    return res, x, y


def cell_parent_expr(cell, steps: int = 1):
    """JVM column form of :func:`cell_parent` (one-or-more level shift)."""
    from pyspark.sql import functions as F

    res, x, y = _cell_parts(cell)
    return (
        F.shiftleft((res - steps).cast("long"), _RES_SHIFT)
        + F.shiftleft(F.shiftright(x, steps).cast("long"), _X_SHIFT)
        + F.shiftright(y, steps).cast("long")
    )


def compact_cells(df, cell_col: str = "cell"):
    """H3-style ``compact``: replace every fully-present sibling QUAD by
    its parent, cascading to res 0 — the minimal cell cover of the input
    set (distinct cells, single resolution or mixed). Pure JVM: per level
    one groupBy(parent) with count==4, then an anti-join; at most
    max_res rounds of keys-only shuffles.
    """
    from pyspark.sql import functions as F

    cur = df.select(F.col(cell_col).alias("cell")).distinct()
    max_res = cur.agg(
        F.max(F.shiftright("cell", _RES_SHIFT))
    ).first()[0]
    if max_res is None:
        return cur
    for r in range(int(max_res), 0, -1):
        res_c, _, _ = _cell_parts(F.col("cell"))
        at = cur.where(res_c == r)
        promoted = (
            at.groupBy(cell_parent_expr(F.col("cell")).alias("parent"))
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") == 4)
            .select(F.col("parent").alias("cell"))
        )
        demoted_children = at.join(
            promoted.select(F.col("cell").alias("parent")),
            cell_parent_expr(at["cell"]) == F.col("parent"),
        ).select(at["cell"])
        cur = cur.join(demoted_children, "cell", "left_anti") \
            .unionByName(promoted).localCheckpoint()
    return cur


def uncompact_cells(df, res: int, cell_col: str = "cell"):
    """Inverse of :func:`compact_cells`: expand every cell to its
    descendants at ``res`` (cells already at ``res`` pass through) —
    one level per round, JVM explode of the 4-child array."""
    from pyspark.sql import functions as F

    cur = df.select(F.col(cell_col).alias("cell"))
    for _ in range(64):  # bounded by max res depth
        res_c, x, y = _cell_parts(F.col("cell"))
        done = cur.where(res_c >= res)
        todo = cur.where(res_c < res)
        if todo.isEmpty():
            return done
        children = todo.select(
            F.explode(F.array(*[
                F.shiftleft((res_c + 1).cast("long"), _RES_SHIFT)
                + F.shiftleft(
                    (F.shiftleft(x, 1) + dx).cast("long"), _X_SHIFT)
                + (F.shiftleft(y, 1) + dy).cast("long")
                for dx in (0, 1) for dy in (0, 1)
            ])).alias("cell")
        )
        cur = done.unionByName(children)
    raise RuntimeError("uncompact: resolution depth exceeded")


def hilbert_xy2d(x, y, order: int = 16):
    """Vectorized Hilbert-curve distance for integer grid coords in
    [0, 2^order) (the classic rotate-and-accumulate algorithm).

    Hilbert keys beat Morton/z-order for range-partition locality
    (every curve step is grid-adjacent, so a contiguous key range is a
    compact blob, not z-shaped stripes) — this is the clustering key a
    planet-scale spatial table wants for `repartitionByRange` /
    bucketed writes. NumPy-vectorized (16 fixed iterations over the
    whole Arrow batch), no per-row Python.
    """
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x, dtype=np.int64)
    s = np.int64(1) << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        flip = (ry == 0) & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        rot = ry == 0
        x, y = np.where(rot, y_f, x_f), np.where(rot, x_f, y_f)
        s >>= 1
    return d


def hilbert_d2xy(d, order: int = 16):
    """Inverse of :func:`hilbert_xy2d` (for tests / tile enumeration)."""
    d = np.asarray(d, dtype=np.int64).copy()
    x = np.zeros_like(d)
    y = np.zeros_like(d)
    t = d.copy()
    s = np.int64(1)
    top = np.int64(1) << order
    while s < top:
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        flip = (ry == 0) & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        rot = ry == 0
        x, y = np.where(rot, y_f, x_f), np.where(rot, x_f, y_f)
        x += s * rx
        y += s * ry
        t //= 4
        s <<= 1
    return x, y


def with_hilbert(df, lon_col: str = "lon", lat_col: str = "lat",
                 order: int = 16, key_col: str = "hkey"):
    """Add a Hilbert clustering key from lon/lat (web-mercator unit
    square quantized to 2^order): the drop-in alternative to
    :func:`with_zorder` where range-partition locality matters more
    than pure-JVM key math."""
    import pandas as _pd

    cols = df.columns

    def work(batches):
        for b in batches:
            lon = b[lon_col].to_numpy(dtype=np.float64)
            lat = b[lat_col].to_numpy(dtype=np.float64)
            nx, ny = mercator_norm(lon, lat)
            n = np.int64(1) << order
            qx = np.clip((nx * n).astype(np.int64), 0, int(n) - 1)
            qy = np.clip((ny * n).astype(np.int64), 0, int(n) - 1)
            b[key_col] = hilbert_xy2d(qx, qy, order)
            yield b

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields) + f", {key_col} long"
    return df.mapInPandas(work, schema=schema)


# ---------------------------------------------------------------------------
# Geohash (public Niemeyer 2008 scheme): base-32 Morton prefix codes —
# the classic string spatial key alongside this module's tile/Z-order/
# Hilbert keys. Pure JVM bit math (the same spread-bits magic as
# zorder_key), no UDF; decode inverts exactly.

GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _unspread_bits32(v):
    """Inverse of _spread_bits32: gather the even bit positions of a
    64-bit long back into a 32-bit int. JVM-only."""
    from pyspark.sql import functions as F

    v = v.bitwiseAND(F.lit(0x5555555555555555))
    v = v.bitwiseOR(F.shiftright(v, 1)).bitwiseAND(F.lit(0x3333333333333333))
    v = v.bitwiseOR(F.shiftright(v, 2)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = v.bitwiseOR(F.shiftright(v, 4)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = v.bitwiseOR(F.shiftright(v, 8)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = v.bitwiseOR(F.shiftright(v, 16)).bitwiseAND(F.lit(0xFFFFFFFF))
    return v


def _geohash_quant(lon, lat):
    """30-bit quantized (xq, yq) grid coords — enough for precision 12
    (60 interleaved bits). Quantizing at 30 bits and taking bit
    prefixes is exact for every coarser precision (floor nesting)."""
    from pyspark.sql import functions as F

    n = 1 << 30
    xq = F.least(F.lit(n - 1),
                 F.floor((lon + 180.0) / 360.0 * n).cast("long"))
    yq = F.least(F.lit(n - 1),
                 F.floor((lat + 90.0) / 180.0 * n).cast("long"))
    return xq, yq


def geohash_encode(lon, lat, precision: int = 12):
    """Geohash string of ``precision`` chars (1..12) from lon/lat
    Columns: longitude takes the even interleave positions starting at
    the MSB (the published bit order), then 5-bit groups map through
    the geohash base-32 alphabet."""
    from pyspark.sql import functions as F

    if not 1 <= precision <= 12:
        raise ValueError("geohash precision must be in 1..12")
    xq, yq = _geohash_quant(lon, lat)
    m = F.shiftleft(_spread_bits32(xq), 1).bitwiseOR(_spread_bits32(yq))
    chars = [
        F.substr(
            F.lit(GEOHASH32),
            (F.shiftright(m, 5 * (11 - k)).bitwiseAND(F.lit(31))
             + F.lit(1)).cast("int"),
            F.lit(1),
        )
        for k in range(precision)
    ]
    return F.concat(*chars)


def geohash_decode(gh, precision: int = 12):
    """Cell-center struct(lon, lat) of a ``precision``-char geohash
    Column — exact inverse of :func:`geohash_encode`'s quantization at
    that precision (centers at (q + 0.5) of the cell grid).

    Pass a MATERIALIZED column (a prior select/withColumn alias), not
    the encode expression inline: this expression references ``gh``
    once per character, so composing decode(encode(..)) in a single
    projection multiplies the unexpanded plan tree ~12x and stalls
    Catalyst analysis."""
    from pyspark.sql import functions as F

    if not 1 <= precision <= 12:
        raise ValueError("geohash precision must be in 1..12")
    m = F.lit(0).cast("long")
    for k in range(precision):
        idx = (F.instr(F.lit(GEOHASH32), F.substr(gh, F.lit(k + 1),
                                                  F.lit(1))) - 1)
        m = F.shiftleft(m, 5).bitwiseOR(idx.cast("long"))
    total = 5 * precision
    xbits = (total + 1) // 2
    ybits = total // 2
    # pad to the 30/30 layout, gather, then shift down to the real width
    pad = 60 - total
    mp = F.shiftleft(m, pad)
    xq = F.shiftright(_unspread_bits32(F.shiftright(mp, 1)), 30 - xbits)
    yq = F.shiftright(_unspread_bits32(mp), 30 - ybits)
    lon = (xq.cast("double") + 0.5) / float(1 << xbits) * 360.0 - 180.0
    lat = (yq.cast("double") + 0.5) / float(1 << ybits) * 180.0 - 90.0
    return F.struct(lon.alias("lon"), lat.alias("lat"))


# ---------------------------------------------------------------------------
# MGRS (Military Grid Reference System) — the NATO string key over UTM
# coordinates (the alphabetic companion of the numeric UTM easting/northing
# the CRS registry already produces; reference scope stops at the EPSG
# codes, so this is beyond-reference breadth like geohash above).
#
# Published scheme (NGA TM 8358.1 §3; the GEOTRANS MGRS.c tables):
#   * 6° UTM zones 1..60; latitude bands C..X (8° each from 80°S, I/O
#     skipped, X stretched to 84°N).
#   * 100 km square column letter: the 24-letter alphabet (I/O skipped)
#     in three 8-letter sets A-H / J-R / S-Z cycling with ``zone mod 3``;
#     column index = floor(E / 100 km) ∈ 1..8.
#   * 100 km square row letter: 20-letter alphabet A..V (I/O skipped),
#     row index = floor(N / 100 km) mod 20, offset +5 ("F start") for
#     even zones (the AA scheme used with WGS84/GRS80).
#   * Numeric part: easting then northing remainders, 10^(5-p) m units,
#     zero-padded to p digits each (p = precision 1..5).
# Everything is integer/letter arithmetic → pure JVM Column math.
# ---------------------------------------------------------------------------

MGRS_COLS = "ABCDEFGHJKLMNPQRSTUVWXYZ"  # 24, I/O skipped (3 sets of 8)
MGRS_ROWS = "ABCDEFGHJKLMNPQRSTUV"      # 20, I/O skipped
MGRS_BANDS = "CDEFGHJKLMNPQRSTUVWX"     # 20 bands, 8° each from -80°

# Minimum northing (m) of each latitude band in its own UTM frame
# (southern bands count down from the 10,000,000 m false northing) — the
# GEOTRANS MGRS.c "Latitude_Band_Table" used to resolve the 2,000 km row
# -letter cycle on decode.
MGRS_BAND_MIN_NORTHING = [
    1100000.0, 2000000.0, 2800000.0, 3700000.0, 4600000.0,  # C D E F G
    5500000.0, 6400000.0, 7300000.0, 8200000.0, 9100000.0,  # H J K L M
    0.0, 800000.0, 1700000.0, 2600000.0, 3500000.0,         # N P Q R S
    4400000.0, 5300000.0, 6200000.0, 7000000.0, 7900000.0,  # T U V W X
]


def mgrs_band_index(lat):
    """Latitude-band index 0..19 (C..X) of a latitude Column. 8° bands
    from −80°; band X absorbs 80..84°N (NGA TM 8358.1 §3-2)."""
    from pyspark.sql import functions as F

    return F.greatest(
        F.lit(0),
        F.least(F.lit(19), F.floor((lat + 80.0) / 8.0).cast("int")),
    )


def mgrs_encode(zone, band_idx, easting, northing, precision: int = 5):
    """MGRS string Column from UTM parts (all Columns: ``zone`` 1..60,
    ``band_idx`` 0..19 = bands C..X, ``easting``/``northing`` metres in
    the square's own UTM frame). Pure JVM letter/integer arithmetic —
    no UDF. Zone is unpadded (the Wikipedia/GEOTRANS display form)."""
    from pyspark.sql import functions as F

    if not 1 <= precision <= 5:
        raise ValueError("MGRS precision must be in 1..5")
    e = easting.cast("long")
    n = northing.cast("long")
    set_off = ((zone.cast("long") - 1) % 3) * 8
    col_idx = set_off + (e / 100000).cast("long") - 1       # 0-based in set
    row_raw = (n / 100000).cast("long") % 20
    row_idx = F.when(zone.cast("long") % 2 == 0,
                     (row_raw + 5) % 20).otherwise(row_raw)
    unit = 10 ** (5 - precision)
    ed = ((e % 100000) / unit).cast("long")
    nd = ((n % 100000) / unit).cast("long")
    return F.concat(
        zone.cast("long").cast("string"),
        F.substr(F.lit(MGRS_BANDS), (band_idx + 1).cast("int"), F.lit(1)),
        F.substr(F.lit(MGRS_COLS), (col_idx + 1).cast("int"), F.lit(1)),
        F.substr(F.lit(MGRS_ROWS), (row_idx + 1).cast("int"), F.lit(1)),
        F.lpad(ed.cast("string"), precision, "0"),
        F.lpad(nd.cast("string"), precision, "0"),
    )


def mgrs_decode(mgrs, precision: int = 5):
    """Decode an MGRS string Column (unpadded zone, ``precision`` digit
    pairs) back to struct(zone, band_idx, easting, northing) — the SW
    corner of the reference at that precision, northing resolved across
    the 2,000 km row-letter cycle with the GEOTRANS band-minimum table.

    Pass a MATERIALIZED column (same Catalyst-expansion caveat as
    :func:`geohash_decode`)."""
    from pyspark.sql import functions as F

    if not 1 <= precision <= 5:
        raise ValueError("MGRS precision must be in 1..5")
    # zone is 1 or 2 leading digits: 2 unless the 2nd char is a letter
    two = F.substr(mgrs, F.lit(2), F.lit(1)).rlike("[0-9]")
    zlen = F.when(two, F.lit(2)).otherwise(F.lit(1))
    zone = F.substr(mgrs, F.lit(1), zlen).cast("long")
    band_idx = (F.instr(F.lit(MGRS_BANDS),
                        F.substr(mgrs, zlen + 1, F.lit(1))) - 1).cast("long")
    col_idx = (F.instr(F.lit(MGRS_COLS),
                       F.substr(mgrs, zlen + 2, F.lit(1))) - 1).cast("long")
    row_idx = (F.instr(F.lit(MGRS_ROWS),
                       F.substr(mgrs, zlen + 3, F.lit(1))) - 1).cast("long")
    unit = 10 ** (5 - precision)
    ed = F.substr(mgrs, zlen + 4, F.lit(precision)).cast("long") * unit
    nd = F.substr(mgrs, zlen + 4 + precision,
                  F.lit(precision)).cast("long") * unit
    e100k = (col_idx - ((zone - 1) % 3) * 8) + 1            # 1..8
    row_raw = F.when(zone % 2 == 0, (row_idx - 5 + 20) % 20) \
        .otherwise(row_idx)
    easting = e100k * 100000 + ed
    n_mod = (row_raw * 100000 + nd).cast("double")
    min_n = F.element_at(
        F.array(*[F.lit(v) for v in MGRS_BAND_MIN_NORTHING]),
        (band_idx + 1).cast("int"),
    )
    # smallest n_mod + k*2,000,000 that is >= the band's minimum northing
    k = F.ceil(F.greatest(F.lit(0.0), min_n - n_mod) / 2000000.0)
    northing = n_mod + k.cast("double") * 2000000.0
    return F.struct(zone.alias("zone"), band_idx.alias("band_idx"),
                    easting.cast("double").alias("easting"),
                    northing.alias("northing"))


# ---------------------------------------------------------------------------
# Open Location Code ("plus codes", Google 2014; the open spec at
# github.com/google/open-location-code) — the third string spatial key
# beside geohash and MGRS. A 10-char code is 5 base-20 digit PAIRS
# (lat digit then lon digit, most significant first, '+' after 8 chars);
# pair k has resolution 20^(1-k) degrees, so the full 10-char cell is
# 1/8000° (~14 m). The optional 11th char refines the cell on a 4×5
# grid (cols base 4 in lon, rows base 5 in lat). Pure integer
# quantization → JVM Column math, no UDF.
# ---------------------------------------------------------------------------

OLC_ALPHABET = "23456789CFGHJMPQRVWX"  # base 20, no vowels/lookalikes


def olc_encode(lon, lat, length: int = 10):
    """Open Location Code string Column (length 10 or 11) from lon/lat
    degree Columns. Latitude clips to the poles (90°N encodes into the
    northernmost cell per the spec), longitude wraps into [-180, 180)."""
    from pyspark.sql import functions as F

    if length not in (10, 11):
        raise ValueError("OLC length must be 10 or 11")
    latq = F.least(F.lit(180 * 8000 - 1),
                   F.greatest(F.lit(0),
                              F.floor((lat + 90.0) * 8000.0).cast("long")))
    lonq = ((F.floor((lon + 180.0) * 8000.0).cast("long") % (360 * 8000))
            + (360 * 8000)) % (360 * 8000)

    def dig(q, k):  # base-20 digit k (0 = most significant of 5)
        return (q / 20 ** (4 - k)).cast("long") % 20

    def ch(idx):
        return F.substr(F.lit(OLC_ALPHABET), (idx + 1).cast("int"), F.lit(1))

    parts = []
    for k in range(5):
        if k == 4:
            parts.append(F.lit("+"))
        parts.append(ch(dig(latq, k)))
        parts.append(ch(dig(lonq, k)))
    if length == 11:
        row5 = F.least(F.lit(5 * 180 * 8000 - 1),
                       F.floor((lat + 90.0) * 40000.0).cast("long")) % 5
        col4 = ((F.floor((lon + 180.0) * 32000.0).cast("long")
                 % (4 * 360 * 8000)) + 4 * 360 * 8000) % 4
        parts.append(ch(row5 * 4 + col4))
    return F.concat(*parts)


def olc_decode(code, length: int = 10):
    """Decode a 10- or 11-char plus-code Column to
    struct(lat_lo, lon_lo, lat_hi, lon_hi, lat_c, lon_c) — the cell's SW
    corner, NE corner, and center, the spec's CodeArea. Exact inverse of
    :func:`olc_encode`'s quantization. Pass a MATERIALIZED column (the
    expression references ``code`` once per character)."""
    from pyspark.sql import functions as F

    if length not in (10, 11):
        raise ValueError("OLC length must be 10 or 11")

    def idx(pos):  # 0-based char position in the padded code
        return (F.instr(F.lit(OLC_ALPHABET),
                        F.substr(code, F.lit(pos + 1), F.lit(1))) - 1
                ).cast("long")

    # char positions: pairs at 0..7, '+', then 9..10
    latq = F.lit(0).cast("long")
    lonq = F.lit(0).cast("long")
    for k in range(5):
        p = 2 * k if k < 4 else 2 * k + 1  # skip the '+'
        latq = latq * 20 + idx(p)
        lonq = lonq * 20 + idx(p + 1)
    if length == 11:
        g = idx(11)
        lat_lo = (latq.cast("double") * 5.0 + (g / 4).cast("long")
                  .cast("double")) / 40000.0 - 90.0
        lon_lo = (lonq.cast("double") * 4.0 + (g % 4).cast("double")) \
            / 32000.0 - 180.0
        hlat, hlon = 0.5 / 40000.0, 0.5 / 32000.0
    else:
        lat_lo = latq.cast("double") / 8000.0 - 90.0
        lon_lo = lonq.cast("double") / 8000.0 - 180.0
        hlat = hlon = 0.5 / 8000.0
    return F.struct(
        lat_lo.alias("lat_lo"), lon_lo.alias("lon_lo"),
        (lat_lo + 2.0 * hlat).alias("lat_hi"),
        (lon_lo + 2.0 * hlon).alias("lon_hi"),
        (lat_lo + hlat).alias("lat_c"), (lon_lo + hlon).alias("lon_c"),
    )


def mgrs_from_lonlat(lon: np.ndarray, lat: np.ndarray,
                     precision: int = 5) -> np.ndarray:
    """End-to-end MGRS references from lon/lat degrees (NumPy, for the
    Arrow-UDF path): standard 6-degree zone selection (the Norway /
    Svalbard zone exceptions are NOT applied — documented deviation),
    UTM forward through the CRS registry's Transverse Mercator
    (functions/crs.py, the OS-worked-example-validated kernel), then the
    lettering scheme of :func:`mgrs_encode`. Vectorized per distinct
    zone; returns an object array of strings.

    Valid for lat in [-80, 84) (the MGRS domain); raises outside.
    """
    from lib_gdal_spark.functions import crs as _crs

    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    if np.any((lat < -80.0) | (lat >= 84.0)):
        raise ValueError("MGRS is defined for latitudes in [-80, 84)")
    zone = np.clip(((lon + 180.0) // 6.0).astype(np.int64) + 1, 1, 60)
    band = np.clip(((lat + 80.0) // 8.0).astype(np.int64), 0, 19)
    south = lat < 0.0
    E = np.empty_like(lon)
    N = np.empty_like(lat)
    for z in np.unique(zone):
        for s in (False, True):
            m = (zone == z) & (south == s)
            if not m.any():
                continue
            tm = _crs.utm_zone(int(z), south=s)
            e, n = tm.forward(lon[m], lat[m])
            E[m], N[m] = e, n
    ei = np.floor(E).astype(np.int64)
    ni = np.floor(N).astype(np.int64)
    set_off = ((zone - 1) % 3) * 8
    col_idx = set_off + ei // 100000 - 1
    row_raw = (ni // 100000) % 20
    row_idx = np.where(zone % 2 == 0, (row_raw + 5) % 20, row_raw)
    unit = 10 ** (5 - precision)
    ed = (ei % 100000) // unit
    nd = (ni % 100000) // unit
    out = np.empty(lon.shape, dtype=object)
    for i in range(lon.size):
        out[i] = (f"{zone[i]}{MGRS_BANDS[band[i]]}"
                  f"{MGRS_COLS[col_idx[i]]}{MGRS_ROWS[row_idx[i]]}"
                  f"{ed[i]:0{precision}d}{nd[i]:0{precision}d}")
    return out


# ---------------------------------------------------------------------------
# Polar MGRS (UPS A/B/Y/Z lettering) — the GEOTRANS scheme, spec and
# constant table from the public GEOTRANS source the reference vendors
# (drivers/raster/nitf/mgrs.c:222 UPS_Constant_Table, :900
# Convert_UPS_To_MGRS, :1007 Convert_MGRS_To_UPS). Closes TODO #7: the
# verbatim source is now available, so the lettering is implemented
# against it instead of from memory. Output uses the display form
# without GEOTRANS's two leading spaces.
# ---------------------------------------------------------------------------

# 0-based alphabet indices: letter0 -> (ltr2_low, ltr2_high, ltr3_high,
# false_easting, false_northing)
_UPS_CONST = {
    "A": (9, 25, 25, 800_000.0, 800_000.0),
    "B": (0, 17, 25, 2_000_000.0, 800_000.0),
    "Y": (9, 25, 15, 800_000.0, 1_300_000.0),
    "Z": (0, 9, 15, 2_000_000.0, 1_300_000.0),
}
_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _round_half_even(x: np.ndarray) -> np.ndarray:
    """GEOTRANS Round_MGRS: nearest integer, ties to even (mgrs.c:358).
    np.round implements exactly this rule for the positive UPS domain."""
    return np.round(x)


def mgrs_polar_from_ups(north, E, N, precision: int = 5) -> np.ndarray:
    """UPS (hemisphere, easting, northing) -> polar MGRS strings
    (Convert_UPS_To_MGRS semantics, vectorized). ``north`` bool array;
    E/N meters in (0, 4e6)."""
    if not 1 <= precision <= 5:
        raise ValueError("MGRS precision must be in 1..5")
    north = np.asarray(north, dtype=bool)
    divisor = 10.0 ** (5 - precision)
    E = _round_half_even(np.asarray(E, np.float64) / divisor) * divisor
    N = _round_half_even(np.asarray(N, np.float64) / divisor) * divisor
    east_half = E >= 2_000_000.0
    l0 = np.where(north, np.where(east_half, 25, 24),
                  np.where(east_half, 1, 0))
    lut = {_ALPHA.index(k): v for k, v in _UPS_CONST.items()}
    l2low = np.vectorize(lambda i: lut[i][0])(l0)
    fe = np.vectorize(lambda i: lut[i][3])(l0)
    fn = np.vectorize(lambda i: lut[i][4])(l0)
    # row letter: trunc toward zero like the C cast, then skip I and O
    row = np.trunc((N - fn) / 100_000.0).astype(np.int64)
    row = np.where(row > 7, row + 1, row)    # skip I
    row = np.where(row > 13, row + 1, row)   # skip O
    col = (l2low + np.trunc((E - fe) / 100_000.0)).astype(np.int64)
    west = ~east_half
    # west half (2nd letter J..): skip MNO after L, skip VW after U
    col = np.where(west & (col > 11), col + 3, col)
    col = np.where(west & (col > 20), col + 2, col)
    # east half (2nd letter A..): skip DE after C, I after H, MNO after L
    col = np.where(~west & (col > 2), col + 2, col)
    col = np.where(~west & (col > 7), col + 1, col)
    col = np.where(~west & (col > 11), col + 3, col)
    unit = int(divisor)
    ed = (np.mod(E, 100_000.0) / divisor).astype(np.int64)
    nd = (np.mod(N, 100_000.0) / divisor).astype(np.int64)
    out = np.empty(E.shape, dtype=object)
    for i in range(E.size):
        out[i] = (f"{_ALPHA[l0[i]]}{_ALPHA[col[i]]}{_ALPHA[row[i]]}"
                  f"{ed[i]:0{precision}d}{nd[i]:0{precision}d}")
    return out


def mgrs_polar_to_ups(codes, precision: int = 5):
    """Polar MGRS strings -> (north bool, easting, northing) of the SW
    corner at ``precision`` (Convert_MGRS_To_UPS semantics; invalid
    second/third letters raise)."""
    codes = np.asarray(codes, dtype=object)
    north = np.empty(codes.shape, dtype=bool)
    E = np.empty(codes.shape, np.float64)
    N = np.empty(codes.shape, np.float64)
    unit = 10.0 ** (5 - precision)
    for i, s in enumerate(codes):
        l0, l1, l2 = s[0], _ALPHA.index(s[1]), _ALPHA.index(s[2])
        if l0 not in _UPS_CONST:
            raise ValueError(f"not a polar MGRS code: {s!r}")
        low, high, l3high, fe, fn = _UPS_CONST[l0]
        if (l1 < low or l1 > high or l2 > l3high
                or _ALPHA[l1] in "DEMNVW" or _ALPHA[l2] in "IO"):
            raise ValueError(f"invalid polar MGRS letters: {s!r}")
        north[i] = l0 in "YZ"
        gn = l2 * 100_000.0 + fn
        if l2 > 8:       # past I
            gn -= 100_000.0
        if l2 > 14:      # past O
            gn -= 100_000.0
        ge = (l1 - low) * 100_000.0 + fe
        if low != 0:     # west half (J-origin)
            if l1 > 11:
                ge -= 300_000.0
            if l1 > 20:
                ge -= 200_000.0
        else:            # east half (A-origin)
            if l1 > 2:
                ge -= 200_000.0
            if l1 > 8:
                ge -= 100_000.0
            if l1 > 11:
                ge -= 300_000.0
        d = s[3:]
        E[i] = ge + int(d[:precision]) * unit
        N[i] = gn + int(d[precision:]) * unit
    return north, E, N


def mgrs_polar_from_lonlat(lon: np.ndarray, lat: np.ndarray,
                           precision: int = 5) -> np.ndarray:
    """Polar-cap lon/lat -> polar MGRS via the UPS projectors
    (EPSG 32661/32761 in functions/crs.py). Valid for lat >= 84 (north)
    or lat < -80 (south) — the caps :func:`mgrs_from_lonlat` excludes;
    raises in the UTM band between."""
    from lib_gdal_spark.functions import crs as _crs

    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    north = lat >= 84.0
    south = lat < -80.0
    if not np.all(north | south):
        raise ValueError("polar MGRS needs lat >= 84 or lat < -80; use "
                         "mgrs_from_lonlat for the UTM bands")
    E = np.empty_like(lon)
    N = np.empty_like(lat)
    if north.any():
        ups = _crs.get_crs_transform(32661)
        E[north], N[north] = ups.forward(lon[north], lat[north])
    if south.any():
        ups = _crs.get_crs_transform(32761)
        E[south], N[south] = ups.forward(lon[south], lat[south])
    return mgrs_polar_from_ups(north, E, N, precision)


def quadkey_encode(z, x, y):
    """Bing-maps quadkey string Column from XYZ tile coordinate Columns
    (the published Microsoft tile-system scheme): digit k of the z-char
    string interleaves bit (z-k) of x and y as ``y<<1 | x`` in '0'..'3'.
    Pure JVM math over the SAME web-mercator grid as lonlat_to_tile, so
    a quadkey prefix IS the parent tile (the join key property the
    MBTiles/HGT tile stores rely on). ``z`` must be a literal int."""
    from pyspark.sql import functions as F

    if not isinstance(z, int) or not 1 <= z <= 28:
        raise ValueError("quadkey zoom must be a literal int in 1..28")
    chars = []
    for k in range(z, 0, -1):
        d = (F.shiftright(y.cast("long"), k - 1).bitwiseAND(F.lit(1))
             * 2 + F.shiftright(x.cast("long"), k - 1).bitwiseAND(F.lit(1)))
        chars.append(F.substr(F.lit("0123"), (d + 1).cast("int"), F.lit(1)))
    return F.concat(*chars)


def quadkey_decode(qk, z: int):
    """Quadkey string Column -> struct(z, x, y). Exact inverse of
    :func:`quadkey_encode` at zoom ``z``. Pass a MATERIALIZED column
    (references ``qk`` once per character)."""
    from pyspark.sql import functions as F

    if not 1 <= z <= 28:
        raise ValueError("quadkey zoom must be in 1..28")
    x = F.lit(0).cast("long")
    y = F.lit(0).cast("long")
    for k in range(z):
        d = (F.instr(F.lit("0123"), F.substr(qk, F.lit(k + 1), F.lit(1)))
             - 1).cast("long")
        x = F.shiftleft(x, 1).bitwiseOR(d.bitwiseAND(F.lit(1)))
        y = F.shiftleft(y, 1).bitwiseOR(F.shiftright(d, 1))
    return F.struct(F.lit(z).alias("z"), x.alias("x"), y.alias("y"))


HEX_SQRT3 = 1.7320508075688772  # sqrt(3) pinned to one double literal


def hex_axial_expr(lon, lat, size: float):
    """Pointy-top axial hex-bin cell ``struct(q, r)`` from lon/lat
    Columns (the standard axial/cube-rounding construction, Red Blob
    Games hex-grid notes): fractional axial coords, cube round with
    largest-residual repair. The hexagonal companion of the repo's
    square tile / geohash / Hilbert / S2 keys — H3-style equal-area-ish
    binning without the icosahedral projection, which keeps every op a
    plain +,-,*,/ / floor / abs so a SQL oracle can replay the identical
    IEEE sequence bit-for-bit (no transcendentals anywhere, so cell ids
    are exactly reproducible across engines). ``size`` is the hex
    circumradius in degrees and must be a Python literal."""
    from pyspark.sql import functions as F

    s = float(size)
    fq = (F.lit(HEX_SQRT3) * lon - lat) / 3.0 / s
    fr = (lat * 2.0) / 3.0 / s
    fs = -fq - fr
    rq = F.floor(fq + 0.5)
    rr = F.floor(fr + 0.5)
    rs = F.floor(fs + 0.5)
    dq = F.abs(rq - fq)
    dr = F.abs(rr - fr)
    ds = F.abs(rs - fs)
    q_fix = (dq > dr) & (dq > ds)
    r_fix = (~q_fix) & (dr > ds)
    q = F.when(q_fix, -rr - rs).otherwise(rq).cast("long")
    r = F.when(r_fix, -rq - rs).otherwise(rr).cast("long")
    return F.struct(q.alias("q"), r.alias("r"))


def hex_center_expr(q, r, size: float):
    """Center lon/lat Columns of an axial hex cell — exact inverse of
    the :func:`hex_axial_expr` lattice map for integer (q, r)."""
    from pyspark.sql import functions as F

    s = float(size)
    qf = q.cast("double")
    rf = r.cast("double")
    cx = (F.lit(HEX_SQRT3) * (qf + rf / 2.0)) * s
    cy = rf * 1.5 * s
    return cx, cy


def hex_axial_np(lon, lat, size: float):
    """NumPy reference twin of :func:`hex_axial_expr` (same op order) —
    used by tests to pin the Spark expression tree."""
    import numpy as np

    s = float(size)
    fq = (HEX_SQRT3 * lon - lat) / 3.0 / s
    fr = (lat * 2.0) / 3.0 / s
    fs = -fq - fr
    rq = np.floor(fq + 0.5)
    rr = np.floor(fr + 0.5)
    rs = np.floor(fs + 0.5)
    dq = np.abs(rq - fq)
    dr = np.abs(rr - fr)
    ds = np.abs(rs - fs)
    q_fix = (dq > dr) & (dq > ds)
    r_fix = (~q_fix) & (dr > ds)
    q = np.where(q_fix, -rr - rs, rq).astype(np.int64)
    r = np.where(r_fix, -rq - rs, rr).astype(np.int64)
    return q, r
