"""Structured Streaming pages pipeline: streaming results must equal the
batch equivalents on the same input (file-source stream, availableNow)."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from lib_gdal_spark.operators import geo as GEO
from lib_gdal_spark.sources import pages as PG
from lib_gdal_spark.sources.pages import PAGES_SCHEMA
from lib_gdal_spark.streaming import pages_stream as PS


@pytest.fixture(scope="module")
def staged(spark):
    d = tempfile.mkdtemp(prefix="pages_stream_")
    src = os.path.join(d, "src")
    PG.generate_pages(spark, 5000, partitions=4).write.parquet(src)
    yield d, src


def _run_stream(spark, df, name, mode, ckpt_dir):
    q = (
        df.writeStream.format("memory").queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_enrich_matches_batch(spark, staged):
    d, src = staged
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    enr = PS.enrich_stream(stream, res=12)
    got = _run_stream(spark, enr, "enr_stream", "append",
                      os.path.join(d, "ck1"))
    batch = GEO.enrich_pages(spark.read.parquet(src), res=12)
    probe = [F.count(F.lit(1)), F.sum(F.col("cell") % 1000003),
             F.sum(F.length("text"))]
    assert tuple(got.agg(*probe).collect()[0]) == \
        tuple(batch.agg(*probe).collect()[0])


def test_stream_windowed_tile_counts(spark, staged):
    d, src = staged
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    enr = PS.enrich_stream(stream, res=12)
    win = PS.tile_counts_windowed(enr, z=6, window="60 minutes",
                                  watermark="1 minute")
    # update mode: availableNow emits current results without needing the
    # watermark to close windows
    got = _run_stream(spark, win, "tiles_stream", "update",
                      os.path.join(d, "ck2"))
    batch = GEO.with_tile(
        GEO.enrich_pages(spark.read.parquet(src), res=12)
        .where(F.col("cell").isNotNull()), z=6
    ).groupBy(F.window("warc_ts", "60 minutes").alias("w"),
              "z", "tx", "ty").count()
    # streaming "update" can emit a key multiple times across batches;
    # last value per key must equal the batch count
    agg = got.groupBy("w_start", "z", "tx", "ty").agg(
        F.max("n_pages").alias("n"))
    gg = {(r["w_start"], r["tx"], r["ty"]): r["n"] for r in agg.collect()}
    bb = {(r["w"]["start"], r["tx"], r["ty"]): r["count"]
          for r in batch.collect()}
    assert gg == bb


def test_stream_first_seen_dedup(spark, staged):
    d, src = staged
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    out = PS.first_seen_urls(PS.enrich_stream(stream, res=12))
    got = _run_stream(spark, out, "first_seen_stream", "append",
                      os.path.join(d, "ck3"))
    n_urls = spark.read.parquet(src).select("url").distinct().count()
    assert got.count() == n_urls
    assert got.select("url").distinct().count() == n_urls


def test_stream_cell_running_counts(spark, staged):
    d, src = staged
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    out = PS.cell_running_counts(PS.enrich_stream(stream, res=12))
    got = _run_stream(spark, out, "cells_stream", "update",
                      os.path.join(d, "ck4"))
    batch = GEO.enrich_pages(spark.read.parquet(src), res=12) \
        .where(F.col("cell").isNotNull()).groupBy("cell").count()
    final = got.groupBy("cell").agg(F.max("total").alias("n"))
    gg = {r["cell"]: r["n"] for r in final.collect()}
    bb = {r["cell"]: r["count"] for r in batch.collect()}
    assert gg == bb


def test_stream_restart_resumes_state(spark):
    """Stop/restart from the SAME checkpoint: the applyInPandasWithState
    dedup state survives — urls already emitted in run 1 do NOT re-emit
    when run 2 replays them alongside new files (exactly-once across
    restarts, the streaming face of the resumable-checkpoint contract)."""
    import pandas as pd

    d = tempfile.mkdtemp(prefix="pages_restart_")
    src = os.path.join(d, "src")
    sink = os.path.join(d, "sink")
    ckpt = os.path.join(d, "ck")
    os.makedirs(src)

    batch1 = PG.generate_pages(spark, 2000, partitions=2)
    batch1.write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
        q = (
            PS.first_seen_urls(PS.enrich_stream(stream, res=12))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    n1 = spark.read.parquet(sink).count()
    assert n1 == 2000  # all urls unique in one generation pass

    # second arrival: the SAME 2000 urls again (duplicate file) plus
    # 1000 genuinely new ones
    batch1.write.mode("append").parquet(src)
    new = PG.generate_pages(spark, 3000, partitions=2).exceptAll(batch1)
    new.write.mode("append").parquet(src)

    run_once()
    out = spark.read.parquet(sink)
    n2 = out.count()
    assert out.select("url").distinct().count() == n2  # no re-emits
    assert n2 == 3000  # 2000 from run 1 + exactly the 1000 new urls
