"""STR partitioner, Otsu threshold."""

import numpy as np
import pandas as pd

from lib_gdal_spark.operators.skew import str_partition
from lib_gdal_spark.operators.stats import otsu_threshold
from lib_gdal_spark.sources import rasters as RS


def test_str_partition_balance_and_determinism(spark):
    rng = np.random.default_rng(8)
    # heavy skew: 500 of 640 points in one tiny blob
    xs = np.concatenate([rng.uniform(0, 1, 500), rng.uniform(0, 100, 140)])
    ys = np.concatenate([rng.uniform(0, 1, 500), rng.uniform(0, 100, 140)])
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(640), "x": xs, "y": ys}),
        schema="pid long, x double, y double")
    out = str_partition(pts, nx=4, ny=4).collect()
    sizes = {}
    for r in out:
        sizes[r["part"]] = sizes.get(r["part"], 0) + 1
    assert len(sizes) == 16
    assert max(sizes.values()) - min(sizes.values()) <= 2  # floor/ceil
    # deterministic under different input partitioning
    out2 = str_partition(pts.repartition(7), nx=4, ny=4).collect()
    assert ({(r["pid"], r["part"]) for r in out}
            == {(r["pid"], r["part"]) for r in out2})


def test_otsu_bimodal_and_bruteforce(spark):
    rng = np.random.default_rng(10)
    lo = rng.integers(10, 30, size=(64, 64)).astype(float)
    hi = rng.integers(200, 230, size=(64, 64)).astype(float)
    arr = np.where(rng.uniform(size=(64, 64)) < 0.5, lo, hi)
    rows = RS.tiles_from_array("t", arr, (0, 1, 0, 64, 0, -1), tile=32)
    tiles = spark.createDataFrame(pd.DataFrame(rows),
                                  schema=RS.RASTER_SCHEMA)
    got = otsu_threshold(tiles).first()
    assert 29 <= got["threshold"] < 200  # splits the two modes
    # brute-force Otsu over present values, same tie-break
    vals, cnts = np.unique(arr.astype(int), return_counts=True)
    n, s = cnts.sum(), (vals * cnts).sum()
    best = (-1.0, None)
    for i in range(len(vals)):
        c0 = cnts[: i + 1].sum()
        s0 = (vals[: i + 1] * cnts[: i + 1]).sum()
        if c0 == 0 or c0 == n:
            continue
        mu0, mu1 = s0 / c0, (s - s0) / (n - c0)
        v = (c0 / n) * ((n - c0) / n) * (mu0 - mu1) ** 2
        if v > best[0]:
            best = (v, int(vals[i]))
    assert got["threshold"] == best[1]
    assert abs(got["between_var"] - round(best[0], 9)) < 1e-6
