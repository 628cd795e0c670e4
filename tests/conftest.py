import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVMs small


@pytest.fixture(scope="session")
def spark():
    from lib_gdal_spark.session import get_spark

    s = get_spark("lib_gdal_spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def mosaic_warp():
    """NumPy reference for the windowed mercator warp: dst tile (z, tx, ty)
    warped from the whole source array with ``kernels.resample.warp_tile``,
    as float64 pixels."""
    import numpy as np

    from lib_gdal_spark.functions import cells as C
    from lib_gdal_spark.kernels import resample as R
    from lib_gdal_spark.operators import raster as RAST

    def warp(src, gt, z, tx, ty, alg, tile):
        res = 2.0 * C.ORIGIN_SHIFT / (1 << z) / tile
        minx, _, _, maxy = C.tile_bounds_mercator(
            np.array([z]), np.array([tx]), np.array([ty]))
        dst_gt = (float(minx[0]), res, 0.0, float(maxy[0]), 0.0, -res)
        out = R.warp_tile(src.astype(np.float64), gt, (tile, tile), dst_gt,
                          alg=alg, dtype=str(src.dtype),
                          transform=RAST.merc_inverse)
        return out.astype(np.float64).ravel()

    return warp
