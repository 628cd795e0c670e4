"""TPS / RPC / GeoLoc / Approx transformer validation.

Oracles: TPS must interpolate its control points exactly and reproduce
affine maps everywhere; RPC forward/inverse round-trips on a synthetic
physically-plausible coefficient set; GeoLoc on a warped mesh
round-trips; Approx matches the exact transform within tol.
"""

import numpy as np

from lib_gdal_spark.functions import transforms as T


def test_tps_interpolates_controls_and_affine():
    rng = np.random.default_rng(7)
    src = rng.uniform(0, 100, (12, 2))
    # pure affine target: TPS must reproduce it everywhere (zero bending)
    A = np.array([[1.2, -0.3], [0.4, 0.9]])
    b = np.array([10.0, -5.0])
    dst = src @ A.T + b
    tps = T.ThinPlateSpline(src, dst)
    gx, gy = tps(src[:, 0], src[:, 1])
    assert np.allclose(np.column_stack([gx, gy]), dst, atol=1e-8)
    q = rng.uniform(10, 90, (50, 2))
    gx, gy = tps(q[:, 0], q[:, 1])
    want = q @ A.T + b
    assert np.allclose(np.column_stack([gx, gy]), want, atol=1e-6)
    # warped target still interpolates controls exactly
    dst2 = dst + rng.normal(0, 3.0, dst.shape)
    tps2 = T.ThinPlateSpline(src, dst2)
    gx, gy = tps2(src[:, 0], src[:, 1])
    assert np.allclose(np.column_stack([gx, gy]), dst2, atol=1e-8)


def _rpc_coefs():
    # a plausible RPC: mostly-affine camera with mild rational terms
    ln = np.zeros(20); ln[2] = 1.0; ln[1] = 0.02; ln[7] = 0.001
    sn = np.zeros(20); sn[1] = 1.0; sn[2] = -0.015; sn[8] = 0.002
    den = np.zeros(20); den[0] = 1.0; den[1] = 0.0005; den[2] = 0.0003
    return dict(
        LINE_NUM=ln, LINE_DEN=den.copy(), SAMP_NUM=sn, SAMP_DEN=den.copy(),
        LAT_OFF=40.0, LAT_SCALE=0.5, LONG_OFF=7.0, LONG_SCALE=0.5,
        HEIGHT_OFF=500.0, HEIGHT_SCALE=500.0,
        LINE_OFF=8000.0, LINE_SCALE=8000.0,
        SAMP_OFF=8000.0, SAMP_SCALE=8000.0,
    )


def test_rpc_round_trip():
    rpc = T.RPCTransformer(_rpc_coefs(), height=500.0)
    rng = np.random.default_rng(9)
    lon = rng.uniform(6.8, 7.2, 200)
    lat = rng.uniform(39.8, 40.2, 200)
    s, l = rpc.forward(lon, lat)
    lon2, lat2 = rpc.inverse(s, l)
    assert np.max(np.abs(lon2 - lon)) < 1e-8
    assert np.max(np.abs(lat2 - lat)) < 1e-8


def test_geoloc_round_trip():
    # warped geolocation mesh (smooth nonlinear)
    gy, gx = np.meshgrid(np.arange(30), np.arange(40), indexing="ij")
    lon = 10.0 + gx * 0.01 + 0.0005 * gy + 0.0008 * np.sin(gx * 0.2)
    lat = 45.0 - gy * 0.01 + 0.0004 * np.cos(gx * 0.15)
    gl = T.GeolocTransformer(lon, lat)
    px = np.array([3.2, 17.8, 35.1, 20.0])
    ln = np.array([4.7, 12.1, 25.4, 14.5])
    lo, la = gl.forward(px, ln)
    px2, ln2 = gl.inverse(lo, la)
    assert np.max(np.abs(px2 - px)) < 1e-6
    assert np.max(np.abs(ln2 - ln)) < 1e-6


def test_approx_transformer_tolerance():
    calls = {"n": 0}

    def exact(xs):
        calls["n"] += len(xs)
        return np.sin(xs * 0.01) * 100.0, np.cos(xs * 0.01) * 100.0

    xs = np.arange(0.0, 1024.0)
    ax = T.approx_transformer(exact, tol=0.5, x0=0.0, x1=1023.0)
    gx, gy = ax(xs)
    ex, ey = np.sin(xs * 0.01) * 100.0, np.cos(xs * 0.01) * 100.0
    # within a few x tol of the exact curve, far fewer exact evaluations
    assert np.max(np.abs(gx - ex)) < 2.0
    assert np.max(np.abs(gy - ey)) < 2.0
    assert calls["n"] < 300  # vs 1024 exact calls
