"""SURF correlator kernels + distributed matching
(core/alg/gdal_octave.cpp, gdal_simplesurf.cpp, gdalmatching.cpp)."""

import numpy as np
import pandas as pd
import pytest

from lib_gdal_spark.kernels import surf
from lib_gdal_spark.operators.matching import (
    compute_matching_points, extract_feature_points, match_pairs)
from lib_gdal_spark.sources.rasters import RASTER_SCHEMA, tiles_from_array


def _noise(h, w, seed=7):
    rng = np.random.default_rng(seed)
    base = rng.random((h, w))
    # smooth a little so extrema are distinctive, stay deterministic
    k = np.ones((3, 3)) / 9.0
    out = np.zeros_like(base)
    for di in (-1, 0, 1):
        for dj in (-1, 0, 1):
            out += np.roll(np.roll(base, di, 0), dj, 1) * k[di + 1, dj + 1]
    return out


def brute_rect(img, row, col, w, h):
    """Independent clamped rectangle sum (no SAT)."""
    H, W = img.shape
    r0, r1 = max(row, 0), min(row + h, H)
    c0, c1 = max(col, 0), min(col + w, W)
    if r0 >= r1 or c0 >= c1:
        return 0.0
    return max(img[r0:r1, c0:c1].sum(), 0.0)


def test_rect_sum_vs_brute():
    img = _noise(20, 17)
    sat = surf.integral_image(img)
    for row, col, w, h in [(0, 0, 5, 4), (3, 2, 7, 6), (-2, -3, 6, 6),
                           (15, 12, 9, 9), (18, 16, 4, 4), (5, 5, 1, 1)]:
        got = float(surf.rect_sum(sat, np.array(row), np.array(col), w, h))
        assert got == pytest.approx(brute_rect(img, row, col, w, h), abs=1e-9)


def test_haar_vs_direct():
    img = _noise(30, 30, seed=3)
    sat = surf.integral_image(img)
    for r, c, size in [(5, 5, 8), (10, 3, 4), (0, 0, 6), (25, 25, 8)]:
        hx = float(surf.haar_x(sat, np.array(r), np.array(c), size))
        want = (brute_rect(img, r, c + size // 2, size // 2, size)
                - brute_rect(img, r, c, size // 2, size))
        assert hx == pytest.approx(want, abs=1e-9)
        hy = float(surf.haar_y(sat, np.array(r), np.array(c), size))
        want = (brute_rect(img, r + size // 2, c, size, size // 2)
                - brute_rect(img, r, c, size, size // 2))
        assert hy == pytest.approx(want, abs=1e-9)


def test_octave_layer_vs_brute():
    """Fast-Hessian det against the same formula evaluated with brute
    rectangle sums (gdal_octave.cpp:171-226)."""
    img = _noise(40, 40, seed=11)
    sat = surf.integral_image(img)
    layer = surf.OctaveLayer(1, 1).compute(sat)   # filter 7, radius 3
    fs, radius = layer.filter_size, layer.radius
    lobe = fs // 3
    lp = 2 * lobe - 1
    norm = fs * fs
    for r, c in [(3, 3), (10, 20), (36, 36), (37, 5)]:
        # brute_rect takes (row, col, w, h) = GetRectangleSum's arg order
        dxx = (brute_rect(img, r - lobe + 1, c - radius, fs, lp)
               - 3 * brute_rect(img, r - lobe + 1, c - (lobe - 1) // 2,
                                lobe, lp)) / norm
        dyy = (brute_rect(img, r - radius, c - lobe - 1, lp, fs)
               - 3 * brute_rect(img, r - lobe + 1, c - lobe + 1,
                                lp, lobe)) / norm
        dxy = (brute_rect(img, r - lobe, c - lobe, lobe, lobe)
               + brute_rect(img, r + 1, c + 1, lobe, lobe)
               - brute_rect(img, r - lobe, c + 1, lobe, lobe)
               - brute_rect(img, r + 1, c - lobe, lobe, lobe)) / norm
        want = dxx * dyy - 0.81 * dxy * dxy
        assert layer.det[r, c] == pytest.approx(want, abs=1e-9)


def test_descriptor_shift_invariance():
    base = _noise(160, 160, seed=5)
    img1 = base[10:138, 10:138]
    img2 = base[6:134, 3:131]
    s1 = surf.integral_image(img1)
    s2 = surf.integral_image(img2)
    # same content point: img1 (x, y) == img2 (x+7, y+4)
    d1 = surf.set_descriptor(s1, 60, 60, 4)
    d2 = surf.set_descriptor(s2, 67, 64, 4)
    assert np.allclose(d1, d2, atol=1e-9)
    assert not np.allclose(d1, surf.set_descriptor(s1, 70, 60, 4), atol=1e-3)


def test_match_second_nearest_quirk():
    """bestDist_2 is seeded with the first candidate and never raised
    (gdal_simplesurf.cpp:448-470): a point whose first-scanned candidate
    is its nearest neighbor can never match."""
    def fp(c):
        d = np.zeros(64)
        d[0] = c
        return dict(x=0, y=0, sign=1, descriptor=d)

    probe = [fp(0.0)]
    # scan order [1, 5, 3]: best2 stays 1 -> ratio 1 -> no match
    assert surf.match_feature_points(probe, [fp(1), fp(5), fp(3)],
                                     threshold=1.0) == []
    # scan order [5, 1, 3]: best2 becomes 3 -> ratio 1/3 -> match idx 1
    got = surf.match_feature_points(probe, [fp(5), fp(1), fp(3)],
                                    threshold=1.0)
    assert len(got) == 1 and got[0][0] == 0 and got[0][1] == 1


def test_extract_finds_blob_extremum():
    img = np.zeros((96, 96))
    j, i = np.meshgrid(np.arange(96), np.arange(96), indexing="ij")
    img += np.exp(-(((i - 48) ** 2 + (j - 48) ** 2) / 40.0))
    pts = surf.extract_feature_points(img, 1, 2, threshold=1e-6)
    assert pts, "no extrema found on a Gaussian blob"
    # the det field of a symmetric Gaussian peaks on a ring around the
    # blob (dxy corner lobes) — every extremum must sit near the blob
    for p in pts:
        assert np.hypot(p["x"] - 48, p["y"] - 48) <= 6 * p["scale"]
    assert surf.extract_feature_points(
        np.zeros((96, 96)), 1, 2, threshold=1e-6) == []


def test_end_to_end_shift_recovery(spark):
    """Every surviving GCP on a shifted image pair must report exactly
    the planted (7, 4) shift."""
    base = _noise(160, 160, seed=5) * 255.0
    img1 = base[10:138, 10:138]
    img2 = base[6:134, 3:131]     # img2(x+7, y+4) == img1(x, y)

    def df(arr, rid):
        return spark.createDataFrame(
            pd.DataFrame(tiles_from_array(rid, arr, (0, 1, 0, 0, 0, -1))),
            schema=RASTER_SCHEMA)

    gcps = compute_matching_points(
        df(img1, "a"), df(img2, "b"),
        octave_start=1, octave_end=2, surf_threshold=1e-5,
        matching_threshold=0.015).collect()

    # Border points have clamped descriptor support, so (like the
    # reference) they can mismatch; interior matches must be exact.
    def interior(x, y):
        return 44 <= x <= 128 - 44 and 44 <= y <= 128 - 44

    inner = [g for g in gcps if interior(g.pixel, g.line)
             and interior(g.gcp_x, g.gcp_y)]
    assert len(inner) >= 3
    for g in inner:
        assert g.gcp_x - g.pixel == pytest.approx(7.0, abs=1e-9)
        assert g.gcp_y - g.line == pytest.approx(4.0, abs=1e-9)


def test_match_pairs_distributed(spark):
    """Two pairs fan out as independent tasks via the pair group-by."""
    base = _noise(160, 160, seed=5) * 255.0
    rows = []
    crops = {"a": base[10:138, 10:138], "b": base[6:134, 3:131],
             "c": base[10:138, 10:138]}
    for rid, arr in crops.items():
        rows += tiles_from_array(rid, arr, (0, 1, 0, 0, 0, -1))
    tiles = spark.createDataFrame(pd.DataFrame(rows), schema=RASTER_SCHEMA)
    fps = extract_feature_points(tiles, 1, 2, threshold=1e-5)
    pairs = spark.createDataFrame(
        [("ab", "a", "b"), ("ac", "a", "c")],
        "pair_id string, first_id string, second_id string")
    out = match_pairs(fps, pairs).collect()
    by_pair = {}
    for r in out:
        by_pair.setdefault(r.pair_id, []).append(r)
    assert set(by_pair) == {"ab", "ac"}

    def interior(x, y):
        return 44 <= x <= 128 - 44 and 44 <= y <= 128 - 44

    ab = [r for r in by_pair["ab"] if interior(r.pixel, r.line)
          and interior(r.gcp_x, r.gcp_y)]
    assert ab and all(
        r.gcp_x - r.pixel == pytest.approx(7.0) for r in ab)
    for r in by_pair["ac"]:   # identical images: zero shift, dist 0
        assert r.gcp_x - r.pixel == pytest.approx(0.0)
        assert r.gcp_y - r.line == pytest.approx(0.0)
