"""The PIP join with no Python per point: driver-side cover, Catalyst
even-odd filter. Hit sets are compared with the NumPy reference
``geometry.points_in_rings`` bit for bit."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lib_gdal_spark.functions import cells as C
from lib_gdal_spark.functions import geometry as G
from lib_gdal_spark.operators import pip_join as PIP

STEP = 1e-4  # lattice pitch shared by vertices and points
BASE_LON, BASE_LAT = 12.5, 41.9
SPAN = 6  # lattice indices in [-SPAN, SPAN]


def _lattice(i, j):
    return BASE_LON + np.asarray(i) * STEP, BASE_LAT + np.asarray(j) * STEP


def _polygons(spark, geoms):
    return spark.createDataFrame(pd.DataFrame(
        {"fid": np.arange(len(geoms), dtype=np.int64), "geom_wkb": geoms}))


def _points(spark, lon, lat, numpy_cells=True):
    pdf = pd.DataFrame({"pid": [f"p{k}" for k in range(len(lon))],
                        "lon": lon, "lat": lat})
    if numpy_cells:
        pdf["cell"] = C.lonlat_to_cell(pdf["lon"].to_numpy(),
                                       pdf["lat"].to_numpy(), 12)
        return spark.createDataFrame(pdf)
    return spark.createDataFrame(pdf).withColumn(
        "cell", C.cell_expr(F.col("lon"), F.col("lat"), 12))


def _expected(geoms, lon, lat):
    pids = np.array([f"p{k}" for k in range(len(lon))])
    return {(p, fid) for fid, wkb in enumerate(geoms)
            for p in pids[G.points_in_rings(lon, lat, G.polygon_rings(wkb))]}


def _join(points, polygons):
    return {(r["pid"], r["fid"]) for r in PIP.pip_join(
        points, polygons, res=7, points_res=12,
        point_cols=("pid", "lon", "lat")).collect()}


@pytest.fixture(scope="module")
def lattice_points(spark):
    i, j = np.meshgrid(np.arange(-SPAN - 1, SPAN + 2), np.arange(-SPAN - 1, SPAN + 2))
    lon, lat = _lattice(i.ravel(), j.ravel())
    return _points(spark, lon, lat).cache(), lon, lat


_ring = st.tuples(
    st.lists(st.tuples(st.integers(-SPAN, SPAN), st.integers(-SPAN, SPAN)),
             min_size=3, max_size=7),
    st.booleans(),  # closed
)
_polygon = st.lists(_ring, min_size=1, max_size=3)  # exterior + holes


def _wkb(parts, z):
    def ring(spec):
        ij, closed = spec
        if closed:
            ij = ij + ij[:1]
        x, y = _lattice(*np.array(ij).T)
        cols = [x, y, np.arange(len(x), dtype=np.float64)] if z else [x, y]
        return np.column_stack(cols)

    polys = [[ring(r) for r in p] for p in parts]
    return G.wkb_polygon(polys[0]) if len(polys) == 1 else G.wkb_multipolygon(polys)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(st.lists(_polygon, min_size=1, max_size=2), st.booleans()),
                min_size=1, max_size=3))
def test_even_odd_filter_equals_points_in_rings(spark, lattice_points, geoms):
    """Holes, MultiPolygons, unclosed rings, horizontal edges and Z rings,
    with every vertex also a query point: the Catalyst filter keeps
    exactly the points the NumPy ray cast keeps."""
    pts, lon, lat = lattice_points
    wkbs = [_wkb(parts, z) for parts, z in geoms]
    assert _join(pts, _polygons(spark, wkbs)) == _expected(wkbs, lon, lat)


def _lat_edge(y, res=7):
    return float(np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * y / (1 << res))))))


def _lon_edge(x, res=7):
    return x / (1 << res) * 360.0 - 180.0


def test_cover_without_margin_keeps_points_on_cell_edges(spark):
    """Envelopes that lie on res-7 cell edges, points on those edges with
    JVM cell keys (``cells.cell_expr``): the epsilon-widened cover, with no
    extra ring of cells, loses no hit."""
    x0, x1, y0, y1 = 70, 72, 45, 47
    box = G.box_ring(_lon_edge(x0), _lat_edge(y1), _lon_edge(x1), _lat_edge(y0))
    tri = np.array([[_lon_edge(x0), _lat_edge(y1)], [_lon_edge(x1), _lat_edge(y1)],
                    [_lon_edge(x0 + 1), _lat_edge(y0)], [_lon_edge(x0), _lat_edge(y1)]])
    wkbs = [G.wkb_polygon([box]), G.wkb_polygon([tri])]

    lons = np.array([_lon_edge(x) for x in range(x0 - 1, x1 + 2)])
    lats = np.array([_lat_edge(y) for y in range(y0 - 1, y1 + 2)])
    # every vertical and every horizontal cell-edge line, corners included
    v_lon, v_lat = np.meshgrid(lons, np.linspace(lats[-1], lats[0], 33))
    h_lon, h_lat = np.meshgrid(np.linspace(lons[0], lons[-1], 33), lats)
    lon = np.concatenate([v_lon.ravel(), h_lon.ravel()])
    lat = np.concatenate([v_lat.ravel(), h_lat.ravel()])

    want = _expected(wkbs, lon, lat)
    assert len(want) > 50
    assert _join(_points(spark, lon, lat, numpy_cells=False),
                 _polygons(spark, wkbs)) == want


def _first_lat_in_row(y, toward):
    """The latitude nearest row edge ``y`` whose NumPy key is in the row on
    the ``toward`` side (+1 north, -1 south)."""
    lat, row = _lat_edge(y), y - 1 if toward > 0 else y
    while C.lonlat_to_tile(np.zeros(1), np.array([lat]), 7)[1][0] != row:
        lat = np.nextafter(lat, toward * np.inf)
    return lat


def test_cover_holds_keys_a_few_ulps_across_an_edge(spark):
    """A libm that differs by an ulp can key a point lying within ulps of a
    cell edge into the next cell. An envelope that ends a hair inside a
    res-7 edge must still cover that next cell."""
    minx = np.nextafter(_lon_edge(70), np.inf)
    maxx = np.nextafter(_lon_edge(72), -np.inf)
    miny, maxy = _first_lat_in_row(47, +1), _first_lat_in_row(45, -1)
    wkb = G.wkb_polygon([G.box_ring(minx, miny, maxx, maxy)])
    cover = {r["cell"] for r in PIP.polygon_cover(_polygons(spark, [wkb]), 7).collect()}

    mx, my = C.mercator_norm(np.array([minx, maxx]), np.array([maxy, miny]))
    d = np.arange(-4, 5)[:, None]
    x = np.floor((mx + d * np.spacing(mx)) * 128).astype(np.int64)
    y = np.floor((my + d * np.spacing(my)) * 128).astype(np.int64)
    assert sorted({*x.ravel()}) == [69, 70, 71, 72]
    assert sorted({*y.ravel()}) == [44, 45, 46, 47]
    gx, gy = np.meshgrid(np.unique(x), np.unique(y))
    assert set(C.pack_cell(7, gx.ravel(), gy.ravel()).tolist()) <= cover


def test_cover_has_no_margin(spark):
    """A polygon well inside one res-7 cell is covered by that cell alone."""
    cx, cy = _lon_edge(70.5), _lat_edge(45.5)
    wkb = G.wkb_polygon([G.box_ring(cx - 0.1, cy - 0.1, cx + 0.1, cy + 0.1)])
    cover = PIP.polygon_cover(_polygons(spark, [wkb]), 7).collect()
    assert [r["cell"] for r in cover] == C.lonlat_to_cell(
        np.array([cx]), np.array([cy]), 7).tolist()
    assert len(cover[0]["edges"]) == 2  # the two vertical sides


def test_plan_has_no_python_and_one_broadcast_join(spark, lattice_points):
    pts = lattice_points[0]
    wkb = G.wkb_polygon([G.box_ring(*_lattice(-3, -3), *_lattice(3, 3))])
    hits = PIP.pip_join(pts, _polygons(spark, [wkb]), res=7, points_res=12,
                        point_cols=("pid", "lon", "lat"))
    assert hits.count() > 0
    plan = hits._jdf.queryExecution().executedPlan()
    final = plan.finalPhysicalPlan().toString()
    assert "MapInPandas" not in final and "Python" not in final
    assert final.count("BroadcastHashJoin") == 1


def test_degenerate_polygons_get_no_cover_and_no_hits(spark, lattice_points):
    pts, lon, lat = lattice_points
    flat = np.column_stack(_lattice([-3, 3, 1, -3], [0, 0, 0, 0]))
    good = G.wkb_polygon([G.box_ring(*_lattice(-3, -3), *_lattice(3, 3))])
    wkbs = [G.wkb_polygon([]), G.wkb_multipolygon([]), G.wkb_polygon([flat]), good]
    polys = _polygons(spark, wkbs)
    assert {r["fid"] for r in PIP.polygon_cover(polys, 7).collect()} == {3}
    got = _join(pts, polys)
    assert got == _expected(wkbs, lon, lat)
    assert {fid for _, fid in got} == {3}


@pytest.mark.parametrize("wkb, why", [
    (G.wkb_point(1.0, 2.0), "expected Polygon"),
    (G.wkb_polygon([G.box_ring(0.0, 0.0, np.nan, 1.0)]), "non-finite"),
])
def test_bad_polygon_raises_naming_its_fid(spark, wkb, why):
    good = G.wkb_polygon([G.box_ring(0.0, 0.0, 1.0, 1.0)])
    with pytest.raises(ValueError, match=f"fid 1: .*{why}"):
        PIP.polygon_cover(_polygons(spark, [good, wkb]), 7)
