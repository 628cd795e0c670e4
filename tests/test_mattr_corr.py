"""Exact-moment correlation matrix, trimmed mean and Benford test."""

import numpy as np
import pandas as pd

from lib_gdal_spark.operators.quantiles import corr_matrix


def test_corr_matrix_matches_numpy(spark):
    rng = np.random.default_rng(31)
    a = rng.integers(0, 500, 400) / 100.0
    b = a * 3 + rng.integers(0, 100, 400) / 100.0   # strongly corr w/ a
    c = rng.integers(0, 500, 400) / 100.0           # independent
    df = spark.createDataFrame(
        pd.DataFrame({"a": a, "b": b, "c": c}),
        schema="a double, b double, c double")
    got = {(r["col_x"], r["col_y"]): r["corr"]
           for r in corr_matrix(df, ["a", "b", "c"]).collect()}
    for (x, y), v in got.items():
        ref = np.corrcoef(locals()[x] if False else
                          {"a": a, "b": b, "c": c}[x],
                          {"a": a, "b": b, "c": c}[y])[0, 1]
        assert abs(v - ref) < 1e-9, (x, y)
    assert got[("a", "b")] > 0.9 and abs(got[("a", "c")]) < 0.2


def test_corr_matrix_zero_variance_null(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"a": [1.0, 2.0, 3.0], "k": [5.0, 5.0, 5.0]}),
        schema="a double, k double")
    got = corr_matrix(df, ["a", "k"]).first()
    assert got["corr"] is None


def test_trimmed_mean_matches_numpy(spark):
    from lib_gdal_spark.operators.quantiles import trimmed_mean

    rng = np.random.default_rng(71)
    vals = np.concatenate([rng.integers(100, 200, 400),
                           [100000, -50000]])  # gross outliers
    df = spark.createDataFrame(
        pd.DataFrame({"v": vals / 100.0}), schema="v double")
    got = trimmed_mean(df, "v", trim_num=1, trim_den=10).first()
    n = len(vals)
    k = n // 10
    s = np.sort(vals)
    assert got["n"] == n and got["n_trimmed_each"] == k
    assert abs(got["mean"] - vals.mean() / 100) < 1e-6
    assert abs(got["trimmed_mean"] - s[k:n - k].mean() / 100) < 1e-6
    w = np.clip(s, s[k], s[n - k - 1])
    assert abs(got["winsorized_mean"] - w.mean() / 100) < 1e-6
    # robustness: outliers barely move the trimmed mean
    assert abs(got["trimmed_mean"] - 1.5) < 0.2
    assert abs(got["mean"] - 1.5) > 0.5


def test_benford_on_benford_distributed_data(spark):
    from lib_gdal_spark.operators.quantiles import benford_test

    # exponential growth 1.01^k spans many decades -> near-Benford
    vals = [1.01 ** k for k in range(2000)]
    df = spark.createDataFrame(pd.DataFrame({"v": vals}),
                               schema="v double")
    rows = sorted(benford_test(df, "v").collect(),
                  key=lambda r: r["digit"])
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert sum(r["observed"] for r in rows) == 2000
    chi2 = sum(r["chi2_term"] for r in rows)
    assert chi2 < 20.0  # close to Benford
    # digit 1 most frequent, monotone-ish decline
    assert rows[0]["observed"] > rows[4]["observed"] > rows[8]["observed"]
    # uniform data must FAIL the test loudly
    uni = spark.createDataFrame(
        pd.DataFrame({"v": np.linspace(100, 999, 900)}),
        schema="v double")
    chi2u = sum(r["chi2_term"] for r in
                benford_test(uni, "v").collect())
    assert chi2u > 100.0
