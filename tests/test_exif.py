"""EXIF GPS (sources/exif.py)."""

import numpy as np
import pytest

from lib_gdal_spark.sources.exif import (
    build_exif_gps, insert_app1, parse_exif_gps,
)
from lib_gdal_spark.sources.jpeg import parse_jpeg, write_jpeg

IMG = np.full((16, 16), 99, dtype=np.uint8)


@pytest.mark.parametrize("lat,lon", [
    (48.8584, 2.2945), (-33.8568, 151.2153), (0.0, 0.0),
    (-0.5, -0.5), (89.999997, -179.999997), (12.0, -0.003),
])
def test_gps_roundtrip(lat, lon):
    j = insert_app1(write_jpeg(IMG), build_exif_gps(lat, lon))
    got = parse_exif_gps(j)
    # 1/100 arc-second quantization = 1/360000 deg
    assert got == pytest.approx((lat, lon), abs=1.5e-6)
    # the image itself still decodes with APP1 present
    assert np.array_equal(parse_jpeg(j), IMG)


def test_no_gps_and_non_jpeg():
    assert parse_exif_gps(write_jpeg(IMG)) is None
    assert parse_exif_gps(b"\x89PNG\r\n\x1a\nnot jpeg") is None


def test_big_endian_tiff_block():
    """Reader must accept MM byte order (real cameras emit both)."""
    import struct
    j = insert_app1(write_jpeg(IMG), build_exif_gps(10.5, -20.25))
    # hand-build an MM block equivalent to the II one:
    ifd0 = struct.pack(">H", 1) + struct.pack(
        ">HHII", 0x8825, 4, 1, 26) + struct.pack(">I", 0)
    gps = struct.pack(">H", 4) + b"".join([
        struct.pack(">HHI4s", 1, 2, 2, b"N\x00\x00\x00"),
        struct.pack(">HHII", 2, 5, 3, 80),
        struct.pack(">HHI4s", 3, 2, 2, b"W\x00\x00\x00"),
        struct.pack(">HHII", 4, 5, 3, 104),
    ]) + struct.pack(">I", 0)
    lat_r = struct.pack(">II", 10, 1) + struct.pack(">II", 30, 1) \
        + struct.pack(">II", 0, 100)
    lon_r = struct.pack(">II", 20, 1) + struct.pack(">II", 15, 1) \
        + struct.pack(">II", 0, 100)
    tiff = b"MM\x00*" + struct.pack(">I", 8) + ifd0 + gps + lat_r + lon_r
    mm = insert_app1(write_jpeg(IMG), b"Exif\x00\x00" + tiff)
    assert parse_exif_gps(mm) == pytest.approx((10.5, -20.25))
    assert parse_exif_gps(j) == pytest.approx((10.5, -20.25), abs=1.5e-6)
