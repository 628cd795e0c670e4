"""Structured Streaming surface for the pages pipeline.

The reference has no streaming engine (SURVEY §2.10); this is the
Spark-native layer the north rule's ingest story needs: the SAME
enrichment (``operators/geo.enrich_pages``, native column expressions)
runs unchanged on a streaming DataFrame, plus

- :func:`tile_counts_windowed` — event-time windowed tile rollups with a
  watermark for late data (``warc_ts`` is the event time);
- :func:`first_seen_urls` — custom stateful dedup via
  ``applyInPandasWithState`` (first occurrence of each url wins,
  first-match semantics of ``drivers/ogr_gensql.cpp:1294`` carried to the
  unbounded case);
- :func:`cell_running_counts` — per-cell cumulative page counters, the
  streaming analog of the tile-assignment aggregate.

All state is keyed and incremental: at production scale the state store
shards by key across executors; nothing here gathers a stream to the
driver.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from lib_gdal_spark.operators import geo as GEO


def enrich_stream(pages: DataFrame, res: int = 12) -> DataFrame:
    """Streaming-safe enrichment — same kernel as the batch path."""
    return GEO.enrich_pages(pages, res=res)


def tile_counts_windowed(
    enriched: DataFrame,
    z: int = 8,
    window: str = "10 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Event-time windowed (z, tx, ty) page counts with late-data bound.

    The watermark lets the state store drop windows older than
    ``watermark`` behind the max seen ``warc_ts`` — bounded state at any
    stream length.
    """
    tiled = GEO.with_tile(
        enriched.where(F.col("cell").isNotNull()), z=z
    )
    return (
        tiled.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "z", "tx", "ty")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("w.start").alias("w_start"), "z", "tx", "ty",
                "n_pages")
    )


_FIRST_SEEN_OUT = "url string, warc_ts timestamp, lang string"
_FIRST_SEEN_STATE = "seen long"


def _first_seen_fn(
    key: Any,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        # url already emitted once; consume and drop
        for _ in batches:
            pass
        return
    first = None
    for b in batches:
        if len(b) and first is None:
            first = b.sort_values("warc_ts").iloc[[0]]
    if first is not None:
        state.update((1,))
        yield first[["url", "warc_ts", "lang"]]


def first_seen_urls(enriched: DataFrame) -> DataFrame:
    """Stateful exact dedup: the FIRST occurrence of each url passes, all
    later ones drop — ``applyInPandasWithState`` keyed by url."""
    return (
        enriched.select("url", "warc_ts", "lang")
        .groupBy("url")
        .applyInPandasWithState(
            _first_seen_fn,
            outputStructType=_FIRST_SEEN_OUT,
            stateStructType=_FIRST_SEEN_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_RUNNING_OUT = "cell long, total long"
_RUNNING_STATE = "total long"


def _running_fn(
    key: Any,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    total = state.get[0] if state.exists else 0
    n = 0
    for b in batches:
        n += len(b)
    total += n
    state.update((total,))
    yield pd.DataFrame({"cell": [key[0]], "total": [total]})


def cell_running_counts(enriched: DataFrame) -> DataFrame:
    """Per-cell cumulative page counts across micro-batches (update-mode
    stateful aggregate with explicit state)."""
    return (
        enriched.where(F.col("cell").isNotNull())
        .select("cell")
        .groupBy("cell")
        .applyInPandasWithState(
            _running_fn,
            outputStructType=_RUNNING_OUT,
            stateStructType=_RUNNING_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
