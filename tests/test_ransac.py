"""Deterministic RANSAC line fit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lib_gdal_spark.operators.robustfit import ransac_line


def _pts(spark, n=500, outlier_every=5):
    return spark.range(n).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 37) % 911).alias("x"),
        F.when(F.col("id") % outlier_every == 0,
               (F.col("id") * 104729) % 5000)
         .otherwise(2 * ((F.col("id") * 37) % 911) - 13).alias("y"))


def test_recovers_line_despite_outliers(spark):
    r = ransac_line(_pts(spark), trials=64, tol=2).collect()[0]
    # 80% of points lie exactly on y = 2x - 13
    assert r["slope"] == pytest.approx(2.0, abs=1e-6)
    assert r["intercept"] == pytest.approx(-13.0, abs=1e-3)
    assert r["n_inliers"] >= 380


def test_ols_would_fail_here(spark):
    # sanity that the fixture actually needs robustness: plain OLS on
    # all points is visibly biased by the outliers
    df = _pts(spark)
    m = df.agg(F.count("*").alias("n"), F.sum("x").alias("sx"),
               F.sum("y").alias("sy"),
               F.sum(F.col("x") * F.col("x")).alias("sxx"),
               F.sum(F.col("x") * F.col("y")).alias("sxy")).collect()[0]
    ols = (m["n"] * m["sxy"] - m["sx"] * m["sy"]) / \
        (m["n"] * m["sxx"] - m["sx"] * m["sx"])
    assert abs(ols - 2.0) > 0.05


def test_deterministic_across_runs(spark):
    a = ransac_line(_pts(spark), trials=32, tol=2).collect()[0]
    b = ransac_line(_pts(spark).repartition(7), trials=32,
                    tol=2).collect()[0]
    assert (a["best_trial"], a["n_inliers"], a["slope"], a["intercept"]) \
        == (b["best_trial"], b["n_inliers"], b["slope"], b["intercept"])


def test_too_few_points_raises(spark):
    one = spark.range(1).select(F.col("id").alias("pid"),
                                F.lit(0).alias("x"), F.lit(0).alias("y"))
    with pytest.raises(ValueError):
        ransac_line(one)


def test_vertical_inliers_give_null_slope(spark):
    """Constant-x inliers have no y = a*x + b form: NULL slope and
    intercept, the real inlier count and the usual schema."""
    pts = spark.range(50).select(
        F.col("id").alias("pid"),
        F.when(F.col("id") % 5 == 0, (F.col("id") * 13) % 97 + 20)
         .otherwise(7).alias("x"),
        (F.col("id") * 3).alias("y"))
    df = ransac_line(pts, trials=32, tol=2)
    assert df.dtypes == [("n", "bigint"), ("best_trial", "bigint"),
                         ("n_inliers", "bigint"), ("slope", "double"),
                         ("intercept", "double")]
    r = df.collect()[0]
    assert r["n"] == 50 and r["n_inliers"] == 40
    assert r["slope"] is None and r["intercept"] is None
