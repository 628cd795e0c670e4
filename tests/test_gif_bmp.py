"""GIF + BMP codecs (sources/gif.py, sources/bmp.py). The GIF LZW
width convention is pinned against REAL third-party encoder output
(CPython's bundled icons), when present on the machine."""

import glob

import numpy as np
import pytest

from lib_gdal_spark.sources.bmp import parse_bmp, write_bmp
from lib_gdal_spark.sources.gif import (
    _lzw_decode, _lzw_encode, gif_to_rgb_frames, parse_gif, write_gif,
)

IDLE_ICONS = glob.glob(
    "/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
    "python3.11/idlelib/Icons/*.gif")


@pytest.mark.parametrize("mcs", [2, 4, 8])
def test_lzw_roundtrip(mcs):
    rng = np.random.default_rng(mcs)
    for n in (1, 17, 5000, 30000):   # 30k forces 12-bit + table-full clear
        s = rng.integers(0, 1 << mcs, n).astype(np.uint8).tobytes()
        assert _lzw_decode(_lzw_encode(s, mcs), mcs) == s


def test_gif_animated_roundtrip():
    rng = np.random.default_rng(1)
    pal = rng.integers(0, 256, (11, 3)).astype(np.uint8)
    frames = [rng.integers(0, 11, (23, 31)).astype(np.uint8)
              for _ in range(4)]
    g = parse_gif(write_gif(frames, pal, delays_cs=[4, 8, 12, 16]))
    assert (g["width"], g["height"]) == (31, 23)
    assert all(np.array_equal(a, b) for a, b in zip(g["frames"], frames))
    assert g["delays_cs"] == [4, 8, 12, 16]
    rgbs = gif_to_rgb_frames(write_gif(frames, pal))
    assert np.array_equal(rgbs[0], pal[frames[0]])


@pytest.mark.skipif(not IDLE_ICONS, reason="no third-party GIFs on box")
def test_real_world_gifs_decode():
    for p in IDLE_ICONS:
        g = parse_gif(open(p, "rb").read())
        assert g["frames"][0].shape == (g["height"], g["width"])
        assert int(g["frames"][0].max()) < g["palettes"][0].shape[0]


def test_bmp_roundtrip_and_8bit():
    rng = np.random.default_rng(2)
    rgb = rng.integers(0, 256, (13, 17, 3)).astype(np.uint8)
    assert np.array_equal(parse_bmp(write_bmp(rgb)), rgb)
    with pytest.raises(ValueError):
        parse_bmp(b"not a bmp")
