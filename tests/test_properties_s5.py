"""Hypothesis properties for the session-5 operators (pure-Python parts —
no SparkSession, so these run in milliseconds)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lib_gdal_spark.functions import s2cells as S2
from lib_gdal_spark.functions.cells import hilbert_xy2d


class TestS2Property:
    @given(st.floats(-180.0, 180.0), st.floats(-89.99, 89.99),
           st.integers(2, 14))
    @settings(max_examples=300, deadline=None)
    def test_parent_is_coarse_cell(self, lon, lat, level):
        lo = np.array([lon])
        la = np.array([lat])
        f12, _, _, p = S2.s2_cell_components(lo, la, level)
        fc, _, _, pc = S2.s2_cell_components(lo, la, level - 2)
        assert f12[0] == fc[0]
        assert (p[0] >> 4) == pc[0]  # truncate 2 bits/level x 2 levels

    @given(st.floats(-180.0, 180.0), st.floats(-89.99, 89.99))
    @settings(max_examples=200, deadline=None)
    def test_st_in_unit_square(self, lon, lat):
        _, u, v = S2.face_uv(np.array([lon]), np.array([lat]))
        assert -1.0 - 1e-12 <= u[0] <= 1.0 + 1e-12
        assert -1.0 - 1e-12 <= v[0] <= 1.0 + 1e-12
        s = S2.uv_to_st(u)[0]
        assert 0.0 <= s <= 1.0

    @given(st.integers(0, (1 << 14) - 1), st.integers(0, (1 << 14) - 1))
    @settings(max_examples=200, deadline=None)
    def test_hilbert_adjacency(self, i, j):
        """Consecutive curve positions are grid-adjacent (the locality
        property Morton lacks)."""
        d = hilbert_xy2d(np.array([i]), np.array([j]), order=14)[0]
        if d + 1 < (1 << 28):
            from lib_gdal_spark.functions.cells import hilbert_d2xy
            x2, y2 = hilbert_d2xy(np.array([d + 1]), order=14)
            x1, y1 = hilbert_d2xy(np.array([d]), order=14)
            assert abs(int(x2[0]) - int(x1[0])) + abs(int(y2[0]) - int(y1[0])) == 1
