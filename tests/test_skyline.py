"""Skyline (Pareto frontier): brute-force equality, invariances, guard."""

import pytest

from lib_gdal_spark.operators.skyline import skyline


def _rows():
    # deterministic scatter with ties and duplicates
    rows = []
    for i in range(200):
        x = (i * 7919) % 101
        y = (i * 104729) % 97
        rows.append((i, x, y))
    rows.append((200, 100, 96))   # likely dominator
    rows.append((201, 100, 96))   # exact duplicate -> both kept
    return rows


def _brute(rows, sx, sy):
    out = []
    for a in rows:
        dominated = any(
            sx * b[1] >= sx * a[1] and sy * b[2] >= sy * a[2]
            and (sx * b[1] > sx * a[1] or sy * b[2] > sy * a[2])
            for b in rows
        )
        if not dominated:
            out.append(a)
    return sorted(out)


@pytest.mark.parametrize("dirs,sx,sy", [
    ((("x", "max"), ("y", "max")), 1, 1),
    ((("x", "max"), ("y", "min")), 1, -1),
    ((("x", "min"), ("y", "min")), -1, -1),
])
def test_skyline_matches_bruteforce(spark, dirs, sx, sy):
    rows = _rows()
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = sorted(map(tuple, skyline(df, dirs, keep_cols=["id"]).collect()))
    assert got == _brute(rows, sx, sy)


def test_skyline_partition_invariance(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, "id long, x long, y long")
    a = sorted(map(tuple,
                   skyline(df, [("x", "max"), ("y", "max")],
                           keep_cols=["id"]).collect()))
    b = sorted(map(tuple,
                   skyline(df.repartition(23), [("x", "max"), ("y", "max")],
                           keep_cols=["id"]).collect()))
    assert a == b


def test_skyline_duplicates_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, 10, 10), (2, 10, 10), (3, None, 99), (4, 0, 0)],
        "id long, x long, y long")
    got = sorted(r["id"] for r in
                 skyline(df, [("x", "max"), ("y", "max")],
                         keep_cols=["id"]).collect())
    assert got == [1, 2]  # duplicates both kept; NULL row dropped


def test_skyline_three_dims(spark):
    rows = [(i, (i * 3) % 11, (i * 5) % 13, (i * 7) % 17)
            for i in range(150)]
    df = spark.createDataFrame(rows, "id long, x long, y long, z long")
    crit = [("x", "max"), ("y", "max"), ("z", "max")]
    got = sorted(r["id"] for r in
                 skyline(df, crit, keep_cols=["id"]).collect())
    brute = []
    for a in rows:
        dom = any(all(b[j] >= a[j] for j in (1, 2, 3))
                  and any(b[j] > a[j] for j in (1, 2, 3)) for b in rows)
        if not dom:
            brute.append(a[0])
    assert got == sorted(brute)


def test_skyline_guard_raises(spark):
    # x + y = const -> every row is on the frontier; guard must trip
    rows = [(i, i, 1000 - i) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    with pytest.raises(ValueError, match="max_candidates"):
        skyline(df, [("x", "max"), ("y", "max")], keep_cols=["id"],
                max_candidates=100)


def test_skyline_rejects_bad_direction(spark):
    df = spark.createDataFrame([(1, 2)], "id long, x long")
    with pytest.raises(ValueError):
        skyline(df, [("x", "up")])
    with pytest.raises(ValueError):
        skyline(df, [])
