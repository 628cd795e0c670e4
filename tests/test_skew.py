"""Skew machinery: salted_join semantic transparency (inner + left,
unmatched keys, duplicate rows), the how-guard, detect_hot_keys on a
planted hot key, and spatial_repartition count preservation."""

import pytest

from lib_gdal_spark.operators.skew import (
    detect_hot_keys,
    salted_join,
    spatial_repartition,
)
from lib_gdal_spark.session import local_df


def _skewed(spark, n=2000):
    # 90% of rows on key 0; cold keys {0,10,20,30}, where 20 and 30 are
    # absent from the dim; duplicates included (two rows share pid 7)
    rows = [(i, 0 if i % 10 != 0 else i % 40, "p%d" % i) for i in range(n)]
    rows.append((7, 0, "p7"))
    return local_df(spark, rows, "pid long, cell long, payload string")


def _dim(spark):
    rows = [(c, "zone%d" % (c * 3)) for c in range(15)]  # keys 15..19 unmatched
    return local_df(spark, rows, "cell long, zone string")


def test_salted_inner_equals_plain(spark):
    big, dim = _skewed(spark), _dim(spark)
    plain = sorted(map(tuple, big.join(dim, "cell").collect()))
    salted = sorted(map(tuple, salted_join(big, dim, "cell", n_salt=8).collect()))
    assert salted == plain


def test_salted_left_keeps_unmatched_big_rows(spark):
    big, dim = _skewed(spark), _dim(spark)
    plain = sorted(map(tuple, big.join(dim, "cell", "left").collect()))
    salted = sorted(map(tuple,
                        salted_join(big, dim, "cell", n_salt=4,
                                    how="left").collect()))
    assert salted == plain
    # rows with cell 15..19 survive with NULL zone
    assert any(t[-1] is None for t in salted)


def test_right_join_rejected(spark):
    with pytest.raises(ValueError):
        salted_join(_skewed(spark), _dim(spark), "cell", how="right")


def test_detect_hot_keys(spark):
    # 4 distinct keys, ~(1851, 50, 50, 50): the mean (~500) is dominated
    # by the hot key itself, so the ratio must stay below 1851/500
    hot = detect_hot_keys(_skewed(spark), "cell", threshold_ratio=3.0)
    rows = {r["cell"]: r["n"] for r in hot.collect()}
    assert set(rows) == {0}
    assert rows[0] > 1800


def test_spatial_repartition_preserves_rows(spark):
    df = _skewed(spark)
    rp = spatial_repartition(df, "cell", num_partitions=5)
    assert rp.count() == df.count()
    assert rp.rdd.getNumPartitions() == 5
