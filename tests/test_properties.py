"""Property-based tests (Hypothesis) over the pure NumPy kernels.

These pin cross-kernel invariants the unit tests can't enumerate:
ray-cast == half-plane on convex polygons, scanline fill == center PIP,
clip/erase partition areas, cell round-trips.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lib_gdal_spark.functions import cells as C
from lib_gdal_spark.functions import geometry as G
from lib_gdal_spark.kernels import scanline as S

settings.register_profile("ci", max_examples=60, deadline=None)
settings.load_profile("ci")


def _hull(pts: np.ndarray) -> np.ndarray:
    """Monotone-chain convex hull, CCW, closed ring."""
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2 and np.cross(out[-1] - out[-2],
                                             p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    return np.vstack([hull, hull[:1]])


@st.composite
def convex_polys(draw):
    from hypothesis import assume

    cx = draw(st.floats(-50, 50))
    cy = draw(st.floats(-30, 30))
    n = draw(st.integers(3, 10))
    pts = np.array([
        (cx + draw(st.floats(-8, 8)), cy + draw(st.floats(-8, 8)))
        for _ in range(n)
    ])
    ring = _hull(pts)
    assume(len(ring) >= 4)  # >= 3 distinct hull vertices
    assume(G.shoelace_area([ring]) > 1e-3)
    return ring


@given(convex_polys(), st.lists(
    st.tuples(st.floats(-70, 70), st.floats(-50, 50)), min_size=5, max_size=40))
def test_raycast_matches_halfplane_on_convex(poly, pts):
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    got = G.points_in_rings(px, py, [poly])
    # strict half-plane interior (CCW)
    inside = np.ones(len(px), dtype=bool)
    margin = np.full(len(px), np.inf)
    for i in range(len(poly) - 1):
        x1, y1 = poly[i]
        x2, y2 = poly[i + 1]
        d = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        inside &= d > 0
        margin = np.minimum(margin, np.abs(d))
    # ignore near-boundary points (both rules are half-open there)
    clear = margin > 1e-9
    assert np.array_equal(got[clear], inside[clear])


@given(convex_polys())
def test_scanline_fill_matches_center_pip(poly):
    # shift into a 32x32 pixel grid
    p = poly - poly.min(axis=0) + 2.0
    mask = S.fill_polygon_mask(32, 32, [p])
    jj, ii = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
    centers = G.points_in_rings((ii + 0.5).ravel(), (jj + 0.5).ravel(), [p])
    # pixel centers on edges are ambiguous; require agreement where the
    # center is clearly inside/outside (distance via half-planes)
    margin = np.full(32 * 32, np.inf)
    for i in range(len(p) - 1):
        x1, y1 = p[i]
        x2, y2 = p[i + 1]
        e = np.hypot(x2 - x1, y2 - y1)
        if e == 0:
            continue
        d = ((x2 - x1) * ((jj + 0.5).ravel() - y1)
             - (y2 - y1) * ((ii + 0.5).ravel() - x1)) / e
        margin = np.minimum(margin, np.abs(d))
    clear = margin > 1e-6
    assert np.array_equal(mask.ravel()[clear], centers[clear])


@given(convex_polys(), convex_polys())
def test_clip_erase_partition_area(a, b):
    area_a = G.shoelace_area([a])
    clipped = G.clip_ring_convex(a, b)
    inter = G.shoelace_area([clipped]) if clipped is not None else 0.0
    pieces = G.erase_ring_convex(a, b)
    erased = sum(G.shoelace_area([p]) for p in pieces)
    assert inter >= -1e-9 and erased >= -1e-9
    assert abs((inter + erased) - area_a) < 1e-6 * max(area_a, 1.0)
    assert inter <= min(area_a, G.shoelace_area([b])) + 1e-6


@given(st.lists(st.tuples(st.floats(-179.9, 179.9), st.floats(-84.9, 84.9)),
                min_size=1, max_size=30), st.integers(3, 20))
def test_cell_roundtrip(points, res):
    lon = np.array([p[0] for p in points])
    lat = np.array([p[1] for p in points])
    cell = C.lonlat_to_cell(lon, lat, res)
    r, x, y = C.unpack_cell(cell)
    assert np.all(r == res)
    # the center of the cell maps back to the same cell
    clon, clat = C.cell_center(cell)
    assert np.array_equal(C.lonlat_to_cell(clon, clat, res), cell)
    # parent chain: coarser cell contains the finer cell's center
    if res > 3:
        parent = C.cell_parent(cell, res - 2)
        assert np.array_equal(
            C.lonlat_to_cell(clon, clat, res - 2), parent
        )


@given(st.floats(-179.0, 179.0), st.floats(-80.0, 80.0),
       st.floats(-179.0, 179.0), st.floats(-80.0, 80.0))
def test_haversine_metric_properties(lon1, lat1, lon2, lat2):
    d12 = C.haversine_km(np.array([lon1]), np.array([lat1]),
                         np.array([lon2]), np.array([lat2]))[0]
    d21 = C.haversine_km(np.array([lon2]), np.array([lat2]),
                         np.array([lon1]), np.array([lat1]))[0]
    assert abs(d12 - d21) < 1e-9
    assert d12 >= 0.0
    assert d12 <= 6371.0088 * np.pi + 1e-6  # half circumference


# --- round-3: WKB/WKT codec properties over the widened type set ---------

_coord = st.floats(min_value=-1e6, max_value=1e6,
                   allow_nan=False, allow_infinity=False, width=64)


def _pts(min_n, max_n, dims):
    return st.lists(
        st.tuples(*([_coord] * dims)), min_size=min_n, max_size=max_n
    ).map(lambda xs: np.array(xs, dtype=np.float64))


@settings(max_examples=40, deadline=None)
@given(pts=_pts(2, 12, 2) | _pts(2, 12, 3))
def test_wkb_roundtrip_linestring_property(pts):
    from lib_gdal_spark.functions import geometry as G

    base, ndim, payload = G.parse_wkb_full(G.wkb_linestring(pts))
    assert base == G.WKB_LINESTRING and ndim == pts.shape[1]
    assert np.array_equal(payload, pts)


@settings(max_examples=40, deadline=None)
@given(pts=_pts(1, 10, 2) | _pts(1, 10, 3))
def test_wkb_roundtrip_multipoint_property(pts):
    from lib_gdal_spark.functions import geometry as G

    base, ndim, payload = G.parse_wkb_full(G.wkb_multipoint(pts))
    assert base == G.WKB_MULTIPOINT and ndim == pts.shape[1]
    assert np.array_equal(np.asarray(payload), pts)


@settings(max_examples=30, deadline=None)
@given(pts=_pts(4, 10, 2))
def test_wkt_roundtrip_polygon_property(pts):
    """WKT text round trip is value-exact at %.15g for any ring."""
    from lib_gdal_spark.functions import geometry as G
    from lib_gdal_spark.functions import wkt as W

    ring = np.vstack([pts, pts[:1]])
    wkb = G.wkb_polygon([ring])
    again = W.wkt_to_wkb(W.wkb_to_wkt(wkb))
    b2, rings = G.parse_wkb(again)
    # %.15g loses at most 1 ulp; round-trip through repr-exact floats
    assert np.allclose(rings[0], ring, rtol=1e-14, atol=1e-8)


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
)
def test_checksum_partials_any_split(h, w, seed):
    """Tile partials sum to the sequential checksum for ANY tiling."""
    from lib_gdal_spark.kernels import checksum as K

    rng = np.random.default_rng(seed)
    a = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    split = w // 2
    if split == 0:
        total = K.checksum_tile_partial(a, 0, 0, w)
    else:
        total = (K.checksum_tile_partial(a[:, :split], 0, 0, w)
                 + K.checksum_tile_partial(a[:, split:], split, 0, w))
    assert (total & 0xFFFF) == K.gdal_checksum(a)


@settings(max_examples=25, deadline=None)
@given(
    x0=_coord, y0=_coord,
    dx=st.floats(0.1, 100, allow_nan=False),
    dy=st.floats(0.1, 100, allow_nan=False),
)
def test_arc_through_three_points_property(x0, y0, dx, dy):
    """The stroked arc's vertices all lie on the circumcircle of the
    3 defining points (when non-degenerate)."""
    from lib_gdal_spark.functions import curves as CV

    p0 = (x0, y0)
    p1 = (x0 + dx, y0 + dy)
    p2 = (x0 + 2 * dx, y0)
    params = CV.get_curve_parameters(*p0, *p1, *p2)
    if params is None:
        return
    R, cx, cy, *_ = params
    pts = CV.stroke_arc3(p0, p1, p2)
    d = np.hypot(pts[:, 0] - cx, pts[:, 1] - cy)
    assert np.max(np.abs(d - R)) < 1e-6 * max(1.0, R)
