"""Independent NumPy references the benchmark checks the engine against.

None of these goes through Spark or through the operator under test; they
are computed once per input set, at set-up, and cached with the inputs.
"""

from __future__ import annotations

import numpy as np

# A lattice point this close to an edge line lies on it: the cross product
# of 1e-4-lattice coordinates is a multiple of 1e-8 unless it is zero, so
# anything below this is rounding noise around an exact zero.
_ON_EDGE = 1e-10


def text_coord(v: np.ndarray) -> np.ndarray:
    """The float a page's ``%.4f`` text coordinate parses back to."""
    return np.char.mod("%.4f", v).astype(np.float64)


def inside_convex(verts, lon: np.ndarray, lat: np.ndarray):
    """Strict half-plane interior test of a CCW convex polygon.

    Returns ``(inside, on_edge)``; points on an edge line are left to
    the caller, since even-odd ray casting may count them either way.
    """
    inside = np.ones(lon.shape, dtype=bool)
    on_edge = np.zeros(lon.shape, dtype=bool)
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        cross = (x2 - x1) * (lat - y1) - (y2 - y1) * (lon - x1)
        on_edge |= np.abs(cross) < _ON_EDGE
        inside &= cross > 0
    return inside & ~on_edge, on_edge


def merc_frac(lon: np.ndarray, lat: np.ndarray):
    """Normalised web-mercator (mx, my) in [0, 1), row 0 at the top."""
    lat = np.clip(lat, -85.05112877980659, 85.05112877980659)
    s = np.sin(np.radians(lat))
    return (lon + 180.0) / 360.0, 0.5 - np.log((1 + s) / (1 - s)) / (4 * np.pi)


def haversine_km(lon1, lat1, lon2, lat2) -> np.ndarray:
    lon1, lat1, lon2, lat2 = (np.radians(a) for a in (lon1, lat1, lon2, lat2))
    h = (np.sin((lat2 - lat1) / 2) ** 2
         + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2)
    return 2.0 * 6371.0088 * np.arcsin(np.sqrt(np.minimum(h, 1.0)))


def knn_reference(qlon, qlat, tlon, tlat, tids, k: int, res: int):
    """Brute-force Haversine top-k for each query.

    Returns one entry per query: ``(exact, [(tid, dist_km), ...])`` with
    the k+1 nearest, the last of which only serves to resolve ties.
    ``exact`` says a one-ring cell search at ``res`` must find this top-k:
    every neighbour, and the (k+1)-th one that decides ties at the cut, is
    less than one cell from the query along both mercator axes, so it lies
    in the query's ring whatever side of a cell edge either point is on.
    """
    tmx, tmy = merc_frac(tlon, tlat)
    order_ids = np.asarray(tids)
    out = []
    for lo, la in zip(qlon, qlat):
        d = np.round(haversine_km(lo, la, tlon, tlat), 6)
        near = np.nonzero(d <= np.partition(d, k)[k])[0]
        first = near[np.lexsort((order_ids[near], d[near]))][: k + 1]
        qmx, qmy = merc_frac(np.array([lo]), np.array([la]))
        span = (1 << res) * np.maximum(np.abs(tmx[first] - qmx),
                                       np.abs(tmy[first] - qmy))
        exact = bool(np.all(span < 1.0 - 1e-9))
        out.append((exact, [(str(order_ids[j]), float(d[j]))
                            for j in first]))
    return out


def same_knn(got: list[tuple[str, float]], want: list[tuple[str, float]],
             tol_km: float = 2e-6) -> bool:
    """``got`` (k entries) agrees with ``want`` (k+1 entries, ranked).

    Distances must match within ``tol_km``, which absorbs 1-ulp libm
    differences; ids must match except between neighbours whose distances
    are that close, including the (k+1)-th, since their order is a tie.
    """
    if len(got) != len(want) - 1:
        return False
    if any(abs(g[1] - w[1]) > tol_km for g, w in zip(got, want)):
        return False
    for g, w in zip(got, want):
        if g[0] != w[0]:
            near = [x[0] for x in want if abs(x[1] - w[1]) <= tol_km]
            if g[0] not in near:
                return False
    return True
