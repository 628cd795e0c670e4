"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every config choice here is what we
would ship to a 1000-executor cluster: AQE on (runtime coalescing + skew-join
splitting replaces the reference's hand-rolled warp chunking,
``core/alg/gdalwarpoperation.cpp:811-867``), Arrow enabled for the pandas-UDF
kernel path, and shuffle partitions sized by the caller per stage rather than
a giant global constant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def default_master() -> str:
    """``local[$SPARK_GRAFT_CPUS]``, else one slot per CPU this process may
    run on (its affinity mask, which a container's cpuset narrows)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "lib_gdal_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    ``master`` defaults to :func:`default_master`.
    """
    # Make the package importable in executor Python workers regardless of
    # the driver's cwd. Local/standalone workers inherit PYTHONPATH from the
    # driver environment; on a real cluster ship a zip via
    # ``spark-submit --py-files lib_gdal_spark.zip`` (north rule) — this is
    # the local-mode equivalent.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{pypath}" if pypath else pkg_parent
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or default_master())
        # AQE: runtime partition coalescing + skew-join splitting. This is the
        # scale story for spatially skewed cell keys (cities -> hot cells).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for every pandas UDF / applyInPandas kernel.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Broadcast joins for small dims (polygon layers, tile manifests).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Keep parquet scans prunable: one row-group per ~128MB at scale.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark, rows, schema: str):
    """createDataFrame for SMALL literal row lists via the Arrow/pandas
    path.

    The tuple-list path goes through sc.parallelize with
    defaultParallelism slices and spins one Python worker per slice —
    ~4-6s of fixed latency on local[32] for a 3-row dim table. The pandas
    path ships one Arrow batch (~0.1s). Always returns a single
    partition (these are broadcast-dim fixtures).
    """
    import pandas as pd

    cols = [c.strip().split()[0] for c in schema.split(",")]
    pdf = pd.DataFrame(list(rows), columns=cols)
    return spark.createDataFrame(pdf, schema=schema).coalesce(1)
