"""Linear referencing (apps/ogrlineref.cpp) — closed-form L-path fixture.

Path LINESTRING (0 0, 100 0, 100 50), length 150.  Five repers at
measures 1000+40g sit 0.3 off the path at arc 5+35g, so every part has
scale factor 35/40 = 0.875; the unmeasured head/tail parts (arc 0-5 and
145-150) get scale 1.0.  Step 20 → parts at 995, 1000, 1020, ... 1160,
1165.
"""

import numpy as np
import pytest

from lib_gdal_spark.functions import geometry as G
from lib_gdal_spark.operators import lineref as LR
from lib_gdal_spark.session import local_df

PATH = np.array([[0.0, 0.0], [100.0, 0.0], [100.0, 50.0]])


def _reper(g):
    m = 1000.0 + 40.0 * g
    d = 5.0 + 35.0 * g
    if d <= 100.0:
        return (m, d, 0.3)
    return (m, 100.3, d - 100.0)


def _tables(spark, reverse_path=False, extra=()):
    pts = PATH[::-1] if reverse_path else PATH
    path = local_df(
        spark, [("p1", G.wkb_linestring(pts))], "path_id string, geom_wkb binary")
    rep = [("p1",) + _reper(g) for g in range(5)] + list(extra)
    repers = local_df(
        spark, rep, "path_id string, measure double, x double, y double")
    return path, repers


def _expected_parts():
    # (beg, end, scale, length)
    rows = [(995.0, 1000.0, 1.0, 5.0)]
    for k in range(8):
        rows.append((1000.0 + 20 * k, 1020.0 + 20 * k, 0.875, 17.5))
    rows.append((1160.0, 1165.0, 1.0, 5.0))
    return rows


def _collect_parts(spark, **kw):
    path, repers = _tables(spark, **kw)
    return LR.create_parts(path, repers, step=20.0).orderBy("beg").collect()


def test_create_parts_closed_form(spark):
    rows = _collect_parts(spark)
    want = _expected_parts()
    assert len(rows) == len(want)
    for r, (beg, end, sf, ln) in zip(rows, want):
        assert r.beg == pytest.approx(beg, abs=1e-9)
        assert r.end == pytest.approx(end, abs=1e-9)
        assert r.scale_factor == pytest.approx(sf, abs=1e-9)
        base, pts = G.parse_wkb(bytes(r.geom_wkb))
        pts = np.asarray(pts)
        seg = np.hypot(*np.diff(pts, axis=0).T).sum()
        assert seg == pytest.approx(ln, abs=1e-9)
    # the corner-crossing part (1100-1120) keeps the interior vertex
    corner = next(r for r in rows if r.beg == pytest.approx(1100.0))
    _, pts = G.parse_wkb(bytes(corner.geom_wkb))
    pts = np.asarray(pts)
    assert len(pts) == 3
    assert pts[0] == pytest.approx([92.5, 0.0])
    assert pts[1] == pytest.approx([100.0, 0.0])
    assert pts[2] == pytest.approx([100.0, 10.0])


def test_create_parts_reversed_path_detected(spark):
    fwd = _collect_parts(spark)
    rev = _collect_parts(spark, reverse_path=True)
    for a, b in zip(fwd, rev):
        assert a.beg == pytest.approx(b.beg) and a.end == pytest.approx(b.end)
        _, pa = G.parse_wkb(bytes(a.geom_wkb))
        _, pb = G.parse_wkb(bytes(b.geom_wkb))
        assert np.allclose(pa, pb, atol=1e-9)


def test_create_parts_tolerance_drops_far_repers(spark):
    # a reper 50 units off the path (tolerance 10) must be ignored
    far = [("p1", 1080.0, 40.0, 50.0)]
    rows = _collect_parts(spark, extra=far)
    want = _expected_parts()
    assert len(rows) == len(want)
    for r, (beg, end, sf, ln) in zip(rows, want):
        assert (r.beg, r.end) == (pytest.approx(beg), pytest.approx(end))
        assert r.scale_factor == pytest.approx(sf)


def test_get_position(spark):
    path, repers = _tables(spark)
    parts = LR.create_parts(path, repers, step=20.0)
    pts = local_df(spark, [(1, 50.0, 3.0), (2, 103.0, -2.0)],
                   "point_id int, x double, y double")
    out = {r.point_id: r for r in LR.get_position(parts, pts).collect()}
    assert out[1].refdist == pytest.approx(1040.0 + 10.0 / 0.875, abs=1e-9)
    assert out[1].dist == pytest.approx(3.0, abs=1e-9)
    # corner point snaps to the corner vertex of part 1100-1120
    assert out[2].refdist == pytest.approx(1100.0 + 7.5 / 0.875, abs=1e-9)
    assert out[2].dist == pytest.approx(np.hypot(3.0, 2.0), abs=1e-9)


def test_get_position_envelope_prefilter(spark):
    path, repers = _tables(spark)
    parts = LR.create_parts(path, repers, step=20.0)
    pts = local_df(spark, [(1, 50.0, 3.0)], "point_id int, x double, y double")
    out = LR.get_position(parts, pts, max_dist=5.0).collect()
    assert out[0].refdist == pytest.approx(1040.0 + 10.0 / 0.875, abs=1e-9)


def test_get_coordinates(spark):
    path, repers = _tables(spark)
    parts = LR.create_parts(path, repers, step=20.0)
    pos = local_df(spark, [(1, 1050.0), (2, 1115.0)], "pos_id int, m double")
    out = {r.pos_id: r for r in LR.get_coordinates(parts, pos).collect()}
    assert (out[1].x, out[1].y) == (pytest.approx(48.75), pytest.approx(0.0))
    assert (out[2].x, out[2].y) == (pytest.approx(100.0), pytest.approx(5.625))


def test_get_subline(spark):
    path, repers = _tables(spark)
    parts = LR.create_parts(path, repers, step=20.0)
    beg, end, xs, ys = LR.get_subline(parts, 1010.0, 1130.0)
    assert (beg, end) == (1010.0, 1130.0)
    assert (xs[0], ys[0]) == (pytest.approx(13.75), pytest.approx(0.0))
    assert (xs[-1], ys[-1]) == (pytest.approx(100.0), pytest.approx(18.75))
    ln = np.hypot(np.diff(xs), np.diff(ys)).sum()
    assert ln == pytest.approx(105.0, abs=1e-9)


def test_not_enough_repers_raises(spark):
    path = local_df(spark, [("p1", G.wkb_linestring(PATH))],
                    "path_id string, geom_wkb binary")
    repers = local_df(spark, [("p1", 1000.0, 5.0, 0.3)],
                      "path_id string, measure double, x double, y double")
    with pytest.raises(Exception):
        LR.create_parts(path, repers, step=20.0).collect()


def test_many_paths_parallel(spark):
    # 20 shifted copies of the L-path — the cogroup fans out per path
    paths, reps = [], []
    for p in range(20):
        off = 1000.0 * p
        paths.append((f"p{p}", G.wkb_linestring(PATH + off)))
        for g in range(5):
            m, x, y = _reper(g)
            reps.append((f"p{p}", m, x + off, y + off))
    path_df = local_df(spark, paths, "path_id string, geom_wkb binary")
    rep_df = local_df(
        spark, reps, "path_id string, measure double, x double, y double")
    parts = LR.create_parts(path_df, rep_df, step=20.0)
    cnt = parts.groupBy("path_id").count().collect()
    assert len(cnt) == 20 and all(r["count"] == 10 for r in cnt)
