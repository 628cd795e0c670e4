"""Erase / Identity / Update / SymDifference / Union overlays."""

from __future__ import annotations

import numpy as np
import pytest

from lib_gdal_spark.functions import geometry as G
from lib_gdal_spark.operators import layer_algebra as LA


def _poly_df(spark, items):
    rows = [(fid, bytearray(G.wkb_polygon([np.asarray(r)]))) for fid, r in items]
    return spark.createDataFrame(rows, "fid long, geom_wkb binary").coalesce(1)


def test_erase_ring_convex_kernel():
    a = G.box_ring(0, 0, 10, 10)
    b = G.box_ring(2, 2, 5, 5)
    pieces = G.erase_ring_convex(a, b)
    total = sum(G.shoelace_area([p]) for p in pieces)
    assert total == pytest.approx(100.0 - 9.0)
    # disjoint clip -> unchanged area
    pieces = G.erase_ring_convex(a, G.box_ring(50, 50, 60, 60))
    assert sum(G.shoelace_area([p]) for p in pieces) == pytest.approx(100.0)
    # full containment -> nothing left
    assert G.erase_ring_convex(G.box_ring(3, 3, 4, 4), b) == []


def test_erase_operator(spark):
    inputs = _poly_df(spark, [
        (1, G.box_ring(0, 0, 10, 10)),     # partially erased
        (2, G.box_ring(20, 20, 24, 24)),   # untouched
        (3, G.box_ring(5.5, 5.5, 6.5, 6.5)),  # fully inside method
    ])
    methods = _poly_df(spark, [(10, G.box_ring(5, 5, 15, 15))])
    rows = {r["in_fid"]: r for r in LA.erase(inputs, methods).collect()}
    assert rows[1]["area"] == pytest.approx(100.0 - 25.0)
    assert rows[2]["area"] == pytest.approx(16.0)
    assert 3 not in rows  # fully erased features dropped


def test_erase_two_methods_cascade(spark):
    inputs = _poly_df(spark, [(1, G.box_ring(0, 0, 10, 10))])
    methods = _poly_df(spark, [
        (10, G.box_ring(-1, -1, 3, 11)),   # left slab ∩ = 4x... clipped
        (11, G.box_ring(7, -1, 11, 11)),   # right slab
    ])
    rows = LA.erase(inputs, methods).collect()
    # remaining middle band: x in [3,7], y in [0,10] -> 40
    assert rows[0]["area"] == pytest.approx(40.0)


def test_identity_update_symdiff_union(spark):
    A = _poly_df(spark, [(1, G.box_ring(0, 0, 10, 10))])
    B = _poly_df(spark, [(10, G.box_ring(5, 5, 15, 15))])

    ident = LA.identity_overlay(A, B).collect()
    areas = sorted(round(r["area"], 6) for r in ident)
    assert areas == [25.0, 75.0]

    upd = LA.update_overlay(A, B).collect()
    total = sum(r["area"] for r in upd)
    assert total == pytest.approx(75.0 + 100.0)  # remainder + method

    sym = LA.sym_difference(A, B).collect()
    assert sum(r["area"] for r in sym) == pytest.approx(150.0)

    uni = LA.union_overlay(A, B).collect()
    assert sum(r["area"] for r in uni) == pytest.approx(175.0)
    srcs = {(r["in_fid"], r["m_fid"]) for r in uni}
    assert (1, 10) in srcs and (1, None) in srcs and (None, 10) in srcs
