"""Largest empty circle: brute-force grid lower bound, emptiness of
the winner, and known configurations (single center point -> corner
wins; dense ring -> center wins)."""

import random

from lib_gdal_spark.operators.enclosing import largest_empty_circles
from lib_gdal_spark.session import local_df


def _df(spark, groups):
    rows = [(g, i, x, y)
            for g, pts in groups.items() for i, (x, y) in enumerate(pts)]
    return local_df(spark, rows, "gid long, i long, x long, y long")


def test_single_center_point_corner_wins(spark):
    out = largest_empty_circles(
        _df(spark, {0: [(200, 200), (201, 200), (200, 201)]}),
        box=400).first()
    # farthest spot from a central cluster is a corner: r ~ 200*sqrt(2)
    assert out["k3"] <= -10                 # a corner candidate
    assert abs(out["r2"] - (200 ** 2 + 200 ** 2)) <= 2 * 401


def test_ring_center_wins(spark):
    import math
    pts = [(200 + int(150 * math.cos(2 * math.pi * k / 12)),
            200 + int(150 * math.sin(2 * math.pi * k / 12)))
           for k in range(12)]
    # corners are ~ sqrt(2)*200 - 150 ~ 133 from the ring; the center
    # is ~150 from every ring point -> interior circumcenter wins
    out = largest_empty_circles(_df(spark, {0: pts}), box=400).first()
    assert out["k3"] >= 0                   # triple circumcenter
    assert (out["cx"] - 200) ** 2 + (out["cy"] - 200) ** 2 < 30 ** 2
    assert 140 ** 2 < out["r2"] < 160 ** 2


def test_beats_grid_bruteforce_and_is_empty(spark):
    rng = random.Random(41)
    groups = {g: [(rng.randrange(0, 401), rng.randrange(0, 401))
                  for _ in range(10)] for g in range(5)}
    out = {r["gid"]: r for r in
           largest_empty_circles(_df(spark, groups), box=400).collect()}
    for g, pts in groups.items():
        r = out[g]
        # winner's circle is genuinely empty: r2 == min dist^2 by def
        dmin = min((p[0] - r["cx"]) ** 2 + (p[1] - r["cy"]) ** 2
                   for p in pts)
        assert abs(dmin - r["r2"]) < 1e-6
        # and no 20x20 grid center does better (grid is a lower bound)
        best_grid = max(
            min((p[0] - gx) ** 2 + (p[1] - gy) ** 2 for p in pts)
            for gx in range(0, 401, 20) for gy in range(0, 401, 20))
        assert r["r2"] >= best_grid - 1e-6
