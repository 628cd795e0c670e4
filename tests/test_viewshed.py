"""Viewshed operator (operators/viewshed.py) vs a sequential NumPy
reference implementing the identical sampled-LOS definition."""

import numpy as np
import pandas as pd
import pytest

from lib_gdal_spark.operators.viewshed import viewshed


def ref_viewshed(z: np.ndarray, ox: int, oy: int, h: int = 2,
                 max_distance: int | None = None):
    """(visible, n_blockers) per cell, straight from the definition."""
    H, W = z.shape
    obs_z = int(z[oy, ox]) + h
    vis = np.zeros((H, W), dtype=bool)
    nb = np.zeros((H, W), dtype=np.int64)
    for ty in range(H):
        for tx in range(W):
            n = max(abs(tx - ox), abs(ty - oy))
            if max_distance is not None and n > max_distance:
                vis[ty, tx] = False
                nb[ty, tx] = -1
                continue
            blockers = 0
            for t in range(1, n):
                sx = int(np.floor((ox * n + t * (tx - ox)) / n + 0.5))
                sy = int(np.floor((oy * n + t * (ty - oy)) / n + 0.5))
                if (int(z[sy, sx]) - obs_z) * n >= \
                        (int(z[ty, tx]) - obs_z) * t:
                    blockers += 1
            vis[ty, tx] = blockers == 0
            nb[ty, tx] = blockers
    return vis, nb


def _grid_df(spark, z):
    H, W = z.shape
    yy, xx = np.meshgrid(np.arange(H), np.arange(W), indexing="ij")
    return spark.createDataFrame(pd.DataFrame({
        "px": xx.ravel().astype(int), "py": yy.ravel().astype(int),
        "z": z.ravel().astype(int)}))


def _collect(df):
    out = {}
    for r in df.collect():
        out[(r["px"], r["py"])] = (bool(r["visible"]), int(r["n_blockers"]))
    return out


@pytest.mark.parametrize("seed", [0, 1])
def test_matches_reference(spark, seed):
    rng = np.random.default_rng(seed)
    z = rng.integers(0, 40, (21, 23))
    got = _collect(viewshed(_grid_df(spark, z), ox=11, oy=10, obs_height=2))
    vis, nb = ref_viewshed(z, 11, 10, 2)
    for (x, y), (v, b) in got.items():
        assert (v, b) == (bool(vis[y, x]), int(nb[y, x])), (x, y)
    assert len(got) == z.size


def test_flat_terrain_all_visible(spark):
    z = np.zeros((9, 9), dtype=int)
    got = _collect(viewshed(_grid_df(spark, z), ox=4, oy=4, obs_height=1))
    assert all(v for v, _ in got.values())


def test_wall_shadows(spark):
    """A tall wall at x=6 hides the flat ground behind it."""
    z = np.zeros((7, 13), dtype=int)
    z[:, 6] = 50
    got = _collect(viewshed(_grid_df(spark, z), ox=1, oy=3, obs_height=2))
    assert got[(6, 3)][0] is True       # the wall crest is visible
    assert got[(9, 3)][0] is False      # ground behind it is not
    assert got[(3, 3)][0] is True       # ground in front is
    vis, nb = ref_viewshed(z, 1, 3, 2)
    for (x, y), (v, b) in got.items():
        assert (v, b) == (bool(vis[y, x]), int(nb[y, x]))


def test_max_distance_marks_unevaluated(spark):
    z = np.zeros((9, 9), dtype=int)
    got = _collect(viewshed(_grid_df(spark, z), ox=4, oy=4,
                            max_distance=2))
    assert got[(4, 4)] == (True, 0)
    assert got[(6, 6)][0] is True
    assert got[(8, 8)] == (False, -1)


def test_shuffle_join_path_matches_broadcast(spark):
    rng = np.random.default_rng(7)
    z = rng.integers(0, 30, (15, 15))
    df = _grid_df(spark, z)
    a = _collect(viewshed(df, 7, 7, broadcast_elevations=True))
    b = _collect(viewshed(df, 7, 7, broadcast_elevations=False))
    assert a == b
