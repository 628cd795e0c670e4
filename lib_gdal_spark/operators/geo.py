"""Geo-enrichment of the pages table: extract text/coords, attach cell keys.

This is the engine's "open + decode" stage: html -> text (the invariant
column), mined (lon, lat), and the int64 spatial cell key that every spatial
operator joins on. All math runs in Arrow-batched pandas UDFs over NumPy
(the direct descendant of the reference's batch Python pixel functions,
``drivers/raster/vrt/vrtderivedrasterband.cpp:63-330`` — whole-buffer, never
per-row).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lib_gdal_spark.functions import cells as C
from lib_gdal_spark.functions import extract as X

ENRICHED_COLS = "url string, warc_ts timestamp, lang string, text string, lon double, lat double, cell long"


def enrich_pages(pages: DataFrame, res: int = 12) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> + (lon, lat, cell@res).

    Rows without coordinates keep NULL lon/lat/cell (NULL-key join-skip
    semantics, ``drivers/ogr_gensql.cpp:1310-1316``). Mined coordinates
    out of range (|lat| > 90 or |lon| > 180) count as no coordinates, so
    they cannot land in an edge cell. Invalid utf-8 in ``html`` decodes to
    U+FFFD (``extract.decode_html``).
    """

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            html = X.decode_html(b["html"])
            text, lon, lat = X.extract_enriched(html)
            # NaN compares False: missing and out-of-range both drop out
            ok = ((np.abs(lat.to_numpy()) <= 90.0)
                  & (np.abs(lon.to_numpy()) <= 180.0))
            cell = np.full(len(b), -1, dtype=np.int64)
            if ok.any():
                cell[ok] = C.lonlat_to_cell(
                    lon.to_numpy()[ok], lat.to_numpy()[ok], res
                )
            out = pd.DataFrame(
                {
                    "url": b["url"],
                    "warc_ts": b["warc_ts"],
                    "lang": b["lang"],
                    "text": text,
                    "lon": lon,
                    "lat": lat,
                    "cell": pd.array(cell, dtype="Int64"),
                }
            )
            out.loc[~ok, ["lon", "lat", "cell"]] = None
            yield out

    return pages.mapInPandas(work, schema=ENRICHED_COLS)


def verify_text_invariant(pages: DataFrame) -> DataFrame:
    """Rows violating byte-identical extracted text per url (must be empty).

    The check re-runs extraction on ``html`` with ``extract.extract_enriched``,
    the extractor ``enrich_pages`` writes with, and compares against the
    stored ``text`` column byte-for-byte (``BASELINE.json:16``).
    """

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            got, _, _ = X.extract_enriched(X.decode_html(b["html"]))
            bad = got.str.encode("utf-8") != b["text"].str.encode("utf-8")
            yield pd.DataFrame({"url": b["url"][bad]})

    return pages.mapInPandas(work, schema="url string")


def with_tile(df: DataFrame, z: int, lon="lon", lat="lat", tms: bool = False) -> DataFrame:
    """Attach web-mercator XYZ tile (z, x, y) columns — NATIVE column math
    (whole-stage codegen; the exact op sequence of cells.lonlat_to_tile,
    which the driver oracles mirror in SQL). NULL coords yield NULL tiles
    (the NULL-key join-skip path)."""
    n = 1 << z
    lo = F.col(lon)
    # greatest/least skip NULLs, so guard the whole tile math.
    has = lo.isNotNull() & F.col(lat).isNotNull()
    la = F.least(F.greatest(F.col(lat), F.lit(-C.MAX_MERC_LAT)),
                 F.lit(C.MAX_MERC_LAT))
    mx = (lo + 180.0) / 360.0
    sin_lat = F.sin(F.radians(la))
    my = (
        0.5
        - F.log((1.0 + sin_lat) / (1.0 - sin_lat))
        / F.lit(4.0 * float(np.pi))
    )
    tx = F.when(has, F.least(
        F.greatest(F.floor(mx * n), F.lit(0)), F.lit(n - 1)
    ).cast("long"))
    ty_raw = F.least(
        F.greatest(F.floor(my * n), F.lit(0)), F.lit(n - 1)
    ).cast("long")
    ty = F.when(has, (F.lit(n - 1) - ty_raw) if tms else ty_raw)
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
    from lib_gdal_spark.functions import cells as C

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
