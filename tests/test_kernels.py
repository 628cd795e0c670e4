"""Unit tests for the pure-NumPy kernels (no Spark needed)."""

import numpy as np
import pytest

from lib_gdal_spark.functions import cells as C
from lib_gdal_spark.functions import geometry as G
from lib_gdal_spark.kernels import checksum as K
from lib_gdal_spark.kernels import resample as R
from lib_gdal_spark.kernels import scanline as S
from lib_gdal_spark.sources import rasters as RX


class TestCells:
    def test_tile_roundtrip_known(self):
        # lon 0, lat 0 at z=1 -> tile (1, 1) upper-left of SE quadrant
        x, y = C.lonlat_to_tile(np.array([0.001]), np.array([-0.001]), 1)
        assert (x[0], y[0]) == (1, 1)
        x, y = C.lonlat_to_tile(np.array([-0.001]), np.array([0.001]), 1)
        assert (x[0], y[0]) == (0, 0)

    def test_tms_flip(self):
        x, y = C.lonlat_to_tile(np.array([0.001]), np.array([-0.001]), 3, tms=True)
        x2, y2 = C.lonlat_to_tile(np.array([0.001]), np.array([-0.001]), 3)
        assert y[0] == (1 << 3) - 1 - y2[0]

    def test_pack_unpack(self):
        lon = np.array([-179.99, -1.5, 0.0, 77.77, 179.99])
        lat = np.array([-84.9, -45.0, 0.0, 33.3, 84.9])
        for res in (0, 5, 12, 28):
            cell = C.lonlat_to_cell(lon, lat, res)
            r, x, y = C.unpack_cell(cell)
            assert (r == res).all()
            ex, ey = C.lonlat_to_tile(lon, lat, res)
            assert (x == ex).all() and (y == ey).all()

    def test_cell_parent_matches_direct(self):
        lon = np.linspace(-170, 170, 50)
        lat = np.linspace(-80, 80, 50)
        child = C.lonlat_to_cell(lon, lat, 12)
        parent = C.cell_parent(child, 7)
        direct = C.lonlat_to_cell(lon, lat, 7)
        assert (parent == direct).all()

    def test_cell_center_roundtrip(self):
        lon = np.array([12.34, -56.78])
        lat = np.array([45.6, -33.3])
        cell = C.lonlat_to_cell(lon, lat, 15)
        clon, clat = C.cell_center(cell)
        assert np.allclose(clon, lon, atol=360 / (1 << 15))
        assert np.allclose(clat, lat, atol=360 / (1 << 15))

    def test_k_ring(self):
        cell = C.lonlat_to_cell(np.array([10.0]), np.array([50.0]), 8)
        ring = C.k_ring(cell, 1)
        assert ring.shape == (1, 9)
        assert (ring >= 0).all()
        assert len(np.unique(ring)) == 9
        r, x, y = C.unpack_cell(ring.ravel())
        r0, x0, y0 = C.unpack_cell(cell)
        assert np.abs(x - x0[0]).max() <= 1 and np.abs(y - y0[0]).max() <= 1

    def test_k_ring_antimeridian_wrap(self):
        cell = C.pack_cell(4, np.array([0]), np.array([5]))
        ring = C.k_ring(cell, 1)
        _, x, _ = C.unpack_cell(ring.ravel())
        assert (x == 15).sum() == 3  # wrapped west column

    def test_k_ring_wider_than_grid_takes_each_column_once(self):
        for res in (1, 2, 3):
            n = 1 << res
            xs, ys = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
            cell = C.pack_cell(res, xs.ravel(), ys.ravel())
            for k in range(1, n + 1):
                ring = C.k_ring(cell, k)
                assert ring.shape == (len(cell), (2 * k + 1) ** 2)
                for row, y0 in zip(ring, ys.ravel()):
                    kept = row[row >= 0]
                    assert len(np.unique(kept)) == len(kept)
                    ry, counts = np.unique(C.unpack_cell(kept)[2],
                                           return_counts=True)
                    assert ry.tolist() == list(range(max(y0 - k, 0),
                                                     min(y0 + k, n - 1) + 1))
                    assert (counts == min(2 * k + 1, n)).all()

    def test_haversine(self):
        # London -> Paris ~ 343-344 km
        d = C.haversine_km(
            np.array([-0.1276]), np.array([51.5072]),
            np.array([2.3522]), np.array([48.8566]),
        )
        assert 340 < d[0] < 348


class TestGeometry:
    def test_wkb_roundtrip(self):
        ring = G.box_ring(0, 0, 10, 5)
        wkb = G.wkb_polygon([ring])
        gtype, rings = G.parse_wkb(wkb)
        assert gtype == G.WKB_POLYGON
        assert np.allclose(rings[0], ring)
        assert G.envelope(wkb) == (0.0, 0.0, 10.0, 5.0)

    def test_pip_box(self):
        rings = [G.box_ring(0, 0, 10, 10)]
        px = np.array([5.0, -1.0, 10.5, 9.99])
        py = np.array([5.0, 5.0, 5.0, 0.01])
        assert G.points_in_rings(px, py, rings).tolist() == [True, False, False, True]

    def test_pip_hole(self):
        rings = [G.box_ring(0, 0, 10, 10), G.box_ring(4, 4, 6, 6)]
        px = np.array([5.0, 3.0])
        py = np.array([5.0, 3.0])
        assert G.points_in_rings(px, py, rings).tolist() == [False, True]

    def test_pip_concave(self):
        # L-shape
        ring = np.array(
            [[0, 0], [10, 0], [10, 4], [4, 4], [4, 10], [0, 10], [0, 0]],
            dtype=float,
        )
        px = np.array([2.0, 8.0, 8.0])
        py = np.array([8.0, 8.0, 2.0])
        assert G.points_in_rings(px, py, [ring]).tolist() == [True, False, True]

    def test_multipolygon(self):
        mp = G.wkb_multipolygon([[G.box_ring(0, 0, 2, 2)], [G.box_ring(5, 5, 7, 7)]])
        rings = G.polygon_rings(mp)
        assert len(rings) == 2
        inside = G.points_in_rings(np.array([1.0, 6.0, 3.5]),
                                   np.array([1.0, 6.0, 3.5]), rings)
        assert inside.tolist() == [True, True, False]

    def test_area(self):
        rings = [G.box_ring(0, 0, 10, 10), G.box_ring(2, 2, 4, 4)]
        assert G.shoelace_area(rings) == pytest.approx(96.0)


class TestChecksum:
    def test_byte20_anchor(self):
        """The golden anchor: byte.tif band 1 == 4672
        (tests/cpp/test_gdal_gtiff.cpp:70)."""
        assert K.gdal_checksum(RX.byte20()) == 4672

    def test_float_matches_int(self):
        """float variants of the same data keep checksum 4672 (the +0.5
        floor rounding rule makes float paths agree on integral values)."""
        arr = RX.byte20().astype(np.float64)
        assert K.gdal_checksum(arr) == 4672
        assert K.gdal_checksum(RX.byte20().astype(np.int32)) == 4672

    def test_nan_sentinel(self):
        arr = np.array([[np.nan, 1.0], [np.inf, 2.0]])
        # must not raise; NaN/Inf -> (int)0x80000000 with C-style %
        v = K.gdal_checksum(arr)
        assert 0 <= v <= 0xFFFF

    def test_negative_truncated_mod(self):
        # C: -5 % 7 == -5 (truncation), Python: 2. Spec requires C.
        assert K.gdal_checksum(np.array([[-5]])) == (-5) & 0xFFFF

    def test_partials_compose(self):
        arr = RX.byte20()
        p1 = K.checksum_partial(arr[:10], 0)
        p2 = K.checksum_partial(arr[10:], 200)
        assert K.combine_partials([p1, p2]) == 4672


class TestScanline:
    def test_box_fill(self):
        # box [2, 8) x [1, 5) in pixel coords: centers 2..7 / 1..4
        rings = [G.box_ring(2, 1, 8, 5)]
        mask = S.fill_polygon_mask(10, 6, rings)
        expect = np.zeros((6, 10), dtype=bool)
        expect[1:5, 2:8] = True
        assert (mask == expect).all()

    def test_triangle_even_odd(self):
        ring = np.array([[0.0, 0.0], [8.0, 0.0], [0.0, 8.0], [0.0, 0.0]])
        mask = S.fill_polygon_mask(8, 8, [ring])
        # row y: dy=y+0.5; hypotenuse x = 8-dy -> span [0, floor(8-dy+0.5))
        for y in range(8):
            expect_end = int(np.floor(8 - (y + 0.5) + 0.5))
            row = mask[y]
            assert row[:expect_end].all() and not row[expect_end:].any()

    def test_hole(self):
        rings = [G.box_ring(0, 0, 10, 10), G.box_ring(3, 3, 7, 7)]
        mask = S.fill_polygon_mask(10, 10, rings)
        assert mask[1, 1] and not mask[5, 5] and mask[8, 8]

    def test_merge_alg_add(self):
        grid = np.zeros((4, 4))
        S.burn_values(grid, [G.box_ring(0, 0, 4, 4)], 1.0, "add")
        S.burn_values(grid, [G.box_ring(0, 0, 2, 2)], 1.0, "add")
        assert grid[0, 0] == 2.0 and grid[3, 3] == 1.0


class TestResample:
    def test_overview_nearest_topleft(self):
        src = np.arange(16, dtype=np.uint8).reshape(4, 4)
        out = R.overview_nearest(src, (2, 2))
        # overview.cpp:99 int(0.5 + i*2) -> src index 0, 2
        assert out.tolist() == [[0, 2], [8, 10]]

    def test_overview_average_2x2_rounding(self):
        src = np.array([[1, 2], [3, 5]], dtype=np.uint8)
        out = R.overview_average(src, (1, 1))
        # (1+2+3+5+2)//4 = 3 (round-half-up per overview.cpp:540)
        assert out[0, 0] == 3

    def test_overview_average_float(self):
        src = np.array([[1.0, 2.0], [3.0, 5.0]])
        out = R.overview_average(src, (1, 1))
        assert out[0, 0] == pytest.approx(2.75)

    def test_overview_average_nodata(self):
        src = np.array([[10, 255], [255, 255]], dtype=np.uint8)
        out = R.overview_average(src, (1, 1), nodata=255)
        assert out[0, 0] == 10

    def test_overview_rms_2x2(self):
        src = np.array([[3, 4], [0, 0]], dtype=np.uint8)
        out = R.overview_rms(src, (1, 1))
        # sqrt((9+16+0+0)/4) = 2.5 -> round half-up -> 3
        assert out[0, 0] == 3

    def test_overview_rms_float_and_nodata(self):
        src = np.array([[3.0, 4.0], [9.0, 9.0]])
        out = R.overview_rms(src, (1, 1), nodata=9.0)
        assert out[0, 0] == pytest.approx(np.sqrt(12.5))
        allnd = np.full((2, 2), 9.0)
        assert R.overview_rms(allnd, (1, 1), nodata=9.0)[0, 0] == 9.0

    def test_warp_stat_sum_rms(self):
        # identity 2:1 downscale: each dst pixel's box is one 2x2 block
        src = np.array([[1, 2, 10, 20], [3, 4, 30, 40],
                        [5, 6, 7, 8], [9, 10, 11, 12]], dtype=np.uint8)
        gt = [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]
        dst_gt = [0.0, 2.0, 0.0, 0.0, 0.0, -2.0]
        out = R.warp_tile_stat(src, gt, (2, 2), dst_gt, "sum")
        assert out.tolist() == [[10, 100], [30, 38]]
        out = R.warp_tile_stat(src, gt, (2, 2), dst_gt, "rms")
        exp = np.floor(np.sqrt([[30 / 4, 3000 / 4], [242 / 4, 378 / 4]]) + 0.5)
        assert out.tolist() == exp.astype(int).tolist()

    def test_warp_stat_sum_nodata_clamp(self):
        src = np.full((2, 2), 200, dtype=np.uint8)
        src[0, 0] = 7  # nodata drops out of the population
        gt = [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]
        dst_gt = [0.0, 2.0, 0.0, 0.0, 0.0, -2.0]
        out = R.warp_tile_stat(src, gt, (1, 1), dst_gt, "sum", nodata=7)
        assert out[0, 0] == 255  # 600 saturates the Byte range

    def test_cubic_weights_partition(self):
        # Catmull-Rom interpolates: weights at integer offsets sum to 1
        for frac in (0.0, 0.25, 0.5, 0.9):
            w = R.cubic_weight(np.array([-1 - frac, -frac, 1 - frac, 2 - frac]))
            assert w.sum() == pytest.approx(1.0)
            if frac == 0.0:
                assert w[1] == pytest.approx(1.0)

    def test_warp_identity_nearest(self):
        src = RX.byte20()
        gt = RX.BYTE20_GT
        out = R.warp_tile(src, gt, (20, 20), gt, alg="nearest", dtype="uint8")
        assert (out == src).all()

    def test_warp_identity_bilinear(self):
        src = RX.byte20()
        gt = RX.BYTE20_GT
        out = R.warp_tile(src, gt, (20, 20), gt, alg="bilinear", dtype="uint8")
        assert (out == src).all()  # at exact centers bilinear == identity

    def test_warp_upscale_2x_gradient_bilinear(self):
        # linear gradient is reproduced exactly by bilinear (interior)
        src = np.add.outer(np.arange(8.0), np.arange(8.0))
        gt = (0.0, 1.0, 0.0, 8.0, 0.0, -1.0)
        dst_gt = (0.0, 0.5, 0.0, 8.0, 0.0, -0.5)
        out = R.warp_tile(src, gt, (16, 16), dst_gt, alg="bilinear",
                          dtype="float64")
        j, i = np.meshgrid(np.arange(16), np.arange(16), indexing="ij")
        # dst center (i+0.5)*0.5 -> src coord; value = (sx-0.5)+(sy-0.5)
        exp = (0.5 * (i + 0.5) - 0.5) + (0.5 * (j + 0.5) - 0.5)
        interior = (slice(1, 15), slice(1, 15))
        assert np.allclose(out[interior], exp[interior])

    def test_warp_downscale_nearest_matches_decimation(self):
        src = RX.byte20()
        gt = (0.0, 1.0, 0.0, 20.0, 0.0, -1.0)
        dst_gt = (0.0, 2.0, 0.0, 20.0, 0.0, -2.0)
        out = R.warp_tile(src, gt, (10, 10), dst_gt, alg="nearest", dtype="uint8")
        # dst center (i+0.5)*2 = 2i+1 -> floor -> src index 2i+1
        assert (out == src[1::2, 1::2]).all()

    def test_clamp_round(self):
        out = R.clamp_round(np.array([-1.2, 0.49, 0.5, 255.7]), "uint8")
        assert out.tolist() == [0, 0, 1, 255]


def test_warp_dist_matches_mosaic_path(spark, mosaic_warp):
    """The windowed warp is bit-identical to the NumPy warp of the whole
    source mosaic."""
    import numpy as np

    from lib_gdal_spark.operators import raster as RAST
    from lib_gdal_spark.sources import rasters as RS

    tiles = RS.fixture_rasters(spark)
    src, gt = RS.world4326(256)
    for alg in ("nearest", "cubicspline"):
        got = {(r["tile_x"], r["tile_y"]): np.asarray(r["pixels"], np.float64)
               for r in RAST.warp_to_mercator_tiles_dist(
                   tiles, z=1, alg=alg, tile=64, raster_id="world4326").collect()}
        assert set(got) == {(0, 0), (1, 0), (0, 1), (1, 1)}
        for (tx, ty), px in got.items():
            ref = mosaic_warp(src, gt, 1, tx, ty, alg, 64)
            assert np.array_equal(px, ref, equal_nan=True), (alg, tx, ty)


def test_overview_gauss_and_mode():
    import numpy as np

    from lib_gdal_spark.kernels import resample as R

    # flat -> unchanged under both
    flat = np.full((8, 8), 42, dtype=np.uint8)
    assert np.all(R.overview_gauss(flat, (4, 4)) == 42)
    assert np.all(R.overview_mode(flat, (4, 4)) == 42)

    # mode: majority value of each 2x2 box wins; ties take the smallest
    m = np.array([[1, 1], [2, 3]], dtype=np.uint8)
    assert R.overview_mode(m, (1, 1))[0, 0] == 1
    t = np.array([[5, 5], [9, 9]], dtype=np.uint8)
    assert R.overview_mode(t, (1, 1))[0, 0] == 5  # tie -> smallest

    # gauss: hand-computed 3x3 weighted mean at the (0,0)-centered kernel
    g = np.arange(16, dtype=np.uint8).reshape(4, 4)
    out = R.overview_gauss(g, (2, 2))
    # dst (0,0): center src (0,0); valid taps (0,0),(0,1),(1,0),(1,1)
    # weights 4,2,2,1 -> (0*4+1*2+4*2+5*1+floor(9/2))/9 = (15+4)/9 -> 2
    assert out[0, 0] == 2

    # gauss nodata: holes drop from the normalizer
    h = np.full((4, 4), 10.0)
    h[0, 0] = -1.0
    outn = R.overview_gauss(h, (2, 2), nodata=-1.0)
    assert outn[0, 0] == 10.0


def test_checksum_typed_variants_match_4672():
    """tests/cpp/test_gdal_gtiff.cpp:70-82: byte.tif recast to every
    numeric type keeps checksum 4672 (float->int via +0.5 floor)."""
    import numpy as np

    from lib_gdal_spark.kernels.checksum import gdal_checksum
    from lib_gdal_spark.sources.rasters import byte20

    base = byte20()
    for dt in ("int16", "uint16", "int32", "uint32", "float32", "float64"):
        assert gdal_checksum(base.astype(dt)) == 4672, dt
    # NaN pixels take the 0x80000000 sentinel path without crashing
    f = base.astype("float64")
    f[0, 0] = np.nan
    assert gdal_checksum(f) != 4672


class TestSumRmsBruteForce:
    """warp sum/rms + overview RMS vs per-pixel brute force on random
    shapes (the fixed-example tests above pin conventions; these pin the
    general window math)."""

    def test_overview_rms_random(self):
        rng = np.random.default_rng(21)
        for _ in range(20):
            sh = int(rng.integers(3, 24))
            sw = int(rng.integers(3, 24))
            dh = int(rng.integers(1, sh + 1))
            dw = int(rng.integers(1, sw + 1))
            src = rng.integers(0, 250, (sh, sw)).astype(np.uint8)
            got = R.overview_rms(src, (dh, dw))
            xlo, xhi = R._window_edges(dw, sw / dw, sw)
            ylo, yhi = R._window_edges(dh, sh / dh, sh)
            for j in range(dh):
                for i in range(dw):
                    box = src[ylo[j]:yhi[j], xlo[i]:xhi[i]].astype(float)
                    want = np.floor(np.sqrt((box * box).sum() / box.size)
                                    + 0.5)
                    assert got[j, i] == want, (j, i)

    def test_warp_sum_rms_random_boxes(self):
        rng = np.random.default_rng(22)
        for _ in range(10):
            sh = sw = 16
            src = rng.integers(0, 40, (sh, sw)).astype(np.uint8)
            gt = [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]
            fx = int(rng.integers(2, 5))
            fy = int(rng.integers(2, 5))
            dst_gt = [0.0, float(fx), 0.0, 0.0, 0.0, -float(fy)]
            dh, dw = sh // fy, sw // fx
            s = R.warp_tile_stat(src, gt, (dh, dw), dst_gt, "sum",
                                 dtype="float64")
            r = R.warp_tile_stat(src, gt, (dh, dw), dst_gt, "rms",
                                 dtype="float64")
            for j in range(dh):
                for i in range(dw):
                    box = src[j * fy:(j + 1) * fy,
                              i * fx:(i + 1) * fx].astype(float)
                    assert s[j, i] == box.sum(), ("sum", j, i)
                    assert r[j, i] == np.sqrt((box * box).sum() / box.size)

    def test_warp_sum_preserving_fractional_boxes(self):
        """GRA_Sum with NON-integer box edges: dst footprints tile the
        src exactly, so the dst total must equal the src total (each src
        pixel's fractional weights sum to 1) up to the documented 1/4096
        weight quantization."""
        rng = np.random.default_rng(23)
        for _ in range(10):
            sh = sw = 15
            src = rng.integers(0, 40, (sh, sw)).astype(np.uint8)
            gt = [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]
            dh = int(rng.integers(2, 7))
            dw = int(rng.integers(2, 7))
            dst_gt = [0.0, sw / dw, 0.0, 0.0, 0.0, -sh / dh]
            s = R.warp_tile_stat(src, gt, (dh, dw), dst_gt, "sum",
                                 dtype="float64")
            n_terms = (sh // dh + 2) * (sw // dw + 2) * dh * dw
            tol = n_terms * 40.0 / 4096.0
            assert abs(s.sum() - float(src.sum())) <= tol, (dh, dw)
            # and a fractional single box agrees with direct weighting
            box = src[:, :].astype(float)
            wx = np.clip(np.minimum(np.arange(sw) + 1.0, sw / dw)
                         - np.arange(sw, dtype=float), 0.0, 1.0)
            wy = np.clip(np.minimum(np.arange(sh) + 1.0, sh / dh)
                         - np.arange(sh, dtype=float), 0.0, 1.0)
            w = np.floor(np.outer(wy, wx) * 4096.0 + 0.5) / 4096.0
            assert s[0, 0] == (box * w).sum(), (dh, dw)
