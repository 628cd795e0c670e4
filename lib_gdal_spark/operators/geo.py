"""Geo-enrichment of the pages table: extract text/coords, attach cell keys.

This is the engine's "open + decode" stage: html -> text (the invariant
column), mined (lon, lat), and the int64 spatial cell key that every spatial
operator joins on. It is one chain of projections of built-in Catalyst
expressions (whole-stage codegen, no Python worker), the way the
reference's SQL layer evaluates expressions natively
(``core/ogr/swq_expr_node.cpp``): ``make_valid_utf8`` for the decode, the
``functions/extract`` regexes through ``regexp_extract``, and
``cells.cell_expr`` for the key. The pandas ``extract.extract_enriched``
and NumPy ``cells.lonlat_to_cell`` are the reference it is tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lib_gdal_spark.functions import cells as C
from lib_gdal_spark.functions import extract as X


def _extract(pages: DataFrame) -> DataFrame:
    """``pages`` + (_text, _lon, _lat) and their ``_``-prefixed steps: the
    extraction contract of ``functions/extract`` over the binary ``html``
    column, coordinates not yet range-checked. Each step is its own
    projection, so each regex scans a page once; the coordinates and span
    text come out of the short meta/span matches. NULL html gives NULL
    text."""

    def num(match: str, pattern: str, group: int):
        # no match is "": try_cast makes it NULL where an ANSI cast raises
        return F.regexp_extract(match, pattern, group).try_cast("double")

    df = pages.withColumn("_h", F.make_valid_utf8(F.col("html").cast("string")))
    df = df.withColumns({
        "_title": F.regexp_extract("_h", X.TITLE_RE, 1),
        "_paras": F.array_join(
            F.regexp_extract_all("_h", F.lit(X.PARA_RE), F.lit(1)), "\n"),
        "_span": F.regexp_extract("_h", X.SPAN_GEO_RE, 0),
        "_meta": F.regexp_extract("_h", X.META_GEO_RE, 0),
    })
    span_text = F.nullif(F.regexp_extract("_span", X.SPAN_GEO_RE, 3), F.lit(""))
    return df.withColumns({
        # concat_ws skips the NULL (empty) span text; the outer concat keeps
        # a NULL page NULL
        "_text": F.concat("_title", F.lit("\n"),
                          F.concat_ws("\n", "_paras", span_text)),
        "_lat": F.coalesce(num("_meta", X.META_GEO_RE, 1),
                           num("_span", X.SPAN_GEO_RE, 1)),
        "_lon": F.coalesce(num("_meta", X.META_GEO_RE, 2),
                           num("_span", X.SPAN_GEO_RE, 2)),
    })


def enrich_pages(pages: DataFrame, res: int = 12) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) ->
    (url, warc_ts, lang, text, lon, lat, cell@res).

    Rows without coordinates keep NULL lon/lat/cell (NULL-key join-skip
    semantics, ``drivers/ogr_gensql.cpp:1310-1316``). Mined coordinates
    out of range (|lat| > 90 or |lon| > 180) count as no coordinates, so
    they cannot land in an edge cell. Invalid utf-8 in ``html`` decodes to
    U+FFFD as ``extract.decode_html`` does; NULL html gives NULL text.
    """
    # NULL fails the range check too: missing and out-of-range drop out
    ok = (F.abs("_lat") <= 90.0) & (F.abs("_lon") <= 180.0)
    out = _extract(pages).select(
        "url", "warc_ts", "lang", F.col("_text").alias("text"),
        F.when(ok, F.col("_lon")).alias("lon"),
        F.when(ok, F.col("_lat")).alias("lat"))
    return out.withColumn("cell", C.cell_expr(F.col("lon"), F.col("lat"), res))


def verify_text_invariant(pages: DataFrame) -> DataFrame:
    """Rows violating byte-identical extracted text per url (must be empty).

    The check re-derives text from ``html`` with the expressions
    ``enrich_pages`` writes with, and compares it with the stored ``text``
    column byte for byte (``BASELINE.json:16``). A row where either side is
    NULL (NULL html or NULL stored text) is a violation.
    """
    same = F.coalesce(F.col("_text") == F.col("text"), F.lit(False))
    return _extract(pages).where(~same).select("url")


def with_tile(df: DataFrame, z: int, lon="lon", lat="lat", tms: bool = False) -> DataFrame:
    """Attach web-mercator XYZ tile (z, x, y) columns — NATIVE column math
    (``cells.tile_xy_expr``: the exact op sequence of cells.lonlat_to_tile,
    which the driver oracles mirror in SQL). NULL coords yield NULL tiles
    (the NULL-key join-skip path)."""
    tx, ty = C.tile_xy_expr(F.col(lon), F.col(lat), z)
    if tms:
        ty = F.lit((1 << z) - 1) - ty
    return df.withColumn("z", F.lit(z)).withColumn("tx", tx).withColumn(
        "ty", ty
    )


def jsonld_geo(pages: DataFrame, html_col: str = "html",
               id_col: str = "url", hex_size: float = 4.0) -> DataFrame:
    """Structured-metadata geocoordinate mining: pull the first
    schema.org Place block out of each page's embedded
    ``<script type="application/ld+json">`` and read geo.latitude /
    geo.longitude — the metadata half of the north rule's
    "geocoordinates mined from page text/METADATA" (enrich_pages is the
    text half). Pure JVM: one non-greedy regexp_extract for the script
    body (a regex subset Java and RE2 agree on) + get_json_object for
    the two fields; rows without a Place block keep NULLs. The output
    also carries the axial hex cell of the point so the result plugs
    straight into the binning/pair-join operators.

    Coordinates are expected as INTEGER micro-degrees (1e-4 deg) in the
    JSON — the emitter convention that keeps the corpus and both query
    engines free of float-formatting drift.
    """
    body = F.regexp_extract(
        F.col(html_col).cast("string"),
        r'<script type="application/ld\+json">(.*?)</script>', 1)
    is_place = F.get_json_object(body, "$.@type") == "Place"
    lat = F.when(is_place, F.get_json_object(body, "$.geo.latitude")
                 .cast("long") / 10000.0)
    lon = F.when(is_place, F.get_json_object(body, "$.geo.longitude")
                 .cast("long") / 10000.0)
    out = pages.select(F.col(id_col), lat.alias("lat"), lon.alias("lon"))
    h = C.hex_axial_expr(F.col("lon"), F.col("lat"), hex_size)
    return out.select(
        id_col, "lat", "lon",
        F.when(F.col("lat").isNotNull(), h["q"]).alias("hq"),
        F.when(F.col("lat").isNotNull(), h["r"]).alias("hr"),
    )
