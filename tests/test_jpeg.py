"""Baseline JPEG codec (sources/jpeg.py): exactness on block-constant
images, near-losslessness at quant=1 and header robustness."""

import numpy as np
import pytest

from lib_gdal_spark.sources.jpeg import (
    parse_jpeg, rgb_to_ycbcr, write_jpeg, ycbcr_to_rgb,
)


def _block_img(rng, nby, nbx):
    blocks = rng.integers(0, 256, (nby, nbx))
    return np.kron(blocks, np.ones((8, 8), dtype=int)).astype(np.uint8)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_block_constant_gray_roundtrip_exact(seed):
    rng = np.random.default_rng(seed)
    img = _block_img(rng, 4, 5)
    assert np.array_equal(parse_jpeg(write_jpeg(img)), img)


def test_non_multiple_of_8_sizes_exact():
    rng = np.random.default_rng(3)
    img = _block_img(rng, 3, 2)[:19, :13]
    dec = parse_jpeg(write_jpeg(img))
    assert dec.shape == (19, 13)
    assert np.array_equal(dec, img)


def test_smooth_gray_quant1_within_one():
    x = np.linspace(0, 4 * np.pi, 48)
    img = (127 + 100 * np.sin(x)[None, :] * np.cos(x)[:, None]) \
        .astype(np.uint8)
    dec = parse_jpeg(write_jpeg(img, quant=1))
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 1


def test_rgb_roundtrip_within_color_transform_error():
    rng = np.random.default_rng(4)
    blocks = rng.integers(0, 256, (3, 4, 3))
    rgb = np.kron(blocks, np.ones((8, 8, 1), dtype=int)) \
        .astype(np.uint8).reshape(24, 32, 3)
    dec = parse_jpeg(write_jpeg(rgb))
    assert dec.shape == rgb.shape
    # losses only from the YCbCr round trip (blocks are constant)
    ref = ycbcr_to_rgb(rgb_to_ycbcr(rgb).astype(np.uint8))
    assert np.array_equal(dec, ref)
    assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 2


def test_lossy_quality_reasonable():
    rng = np.random.default_rng(5)
    img = rng.integers(100, 156, (40, 40)).astype(np.uint8)  # low contrast
    dec = parse_jpeg(write_jpeg(img, quant=8))
    rmse = np.sqrt(((dec.astype(float) - img.astype(float)) ** 2).mean())
    assert rmse < 16.0  # quantization noise, not garbage


def test_rejects_non_baseline():
    img = np.zeros((8, 8), dtype=np.uint8)
    good = bytearray(write_jpeg(img))
    sof = good.find(b"\xff\xc0")
    bad = bytes(good[:sof + 1]) + b"\xc2" + bytes(good[sof + 2:])
    with pytest.raises(NotImplementedError):
        parse_jpeg(bad)
    with pytest.raises(ValueError):
        parse_jpeg(b"\x00\x01not a jpeg")


def test_custom_quant_table_roundtrips_through_dqt():
    rng = np.random.default_rng(6)
    img = _block_img(rng, 2, 2)
    q = np.full(64, 3)
    q[0] = 8  # DC must divide 8*(v-128) for exactness
    assert np.array_equal(parse_jpeg(write_jpeg(img, quant=q)), img)


def test_420_subsampling_roundtrip():
    """Constant 16x16 macroblocks survive 4:2:0 exactly (modulo the
    YCbCr transform, like 4:4:4)."""
    rng = np.random.default_rng(8)
    mb = rng.integers(0, 256, (2, 3, 3))
    rgb = np.kron(mb, np.ones((16, 16, 1), dtype=int)) \
        .astype(np.uint8).reshape(32, 48, 3)
    dec = parse_jpeg(write_jpeg(rgb, subsampling="420"))
    ref = ycbcr_to_rgb(rgb_to_ycbcr(rgb))
    assert np.array_equal(dec, ref)
    # and the file really is subsampled: luma gets 2x2 factors in SOF
    raw = write_jpeg(rgb, subsampling="420")
    sof = raw.find(b"\xff\xc0")
    assert raw[sof + 11] == 0x22  # component 1 H=2,V=2


def test_420_odd_dimensions():
    rng = np.random.default_rng(9)
    mb = rng.integers(0, 256, (2, 3, 3))
    rgb = np.kron(mb, np.ones((16, 16, 1), dtype=int)) \
        .astype(np.uint8).reshape(32, 48, 3)[:23, :37]
    dec = parse_jpeg(write_jpeg(rgb, subsampling="420"))
    ref = ycbcr_to_rgb(rgb_to_ycbcr(rgb))
    assert dec.shape == (23, 37, 3)
    assert np.array_equal(dec, ref)


def test_420_smooth_quality():
    x = np.linspace(0, 3 * np.pi, 40)
    sm = np.stack([(127 + 90 * np.sin(x)[None, :] * np.cos(x)[:, None])
                   .astype(np.uint8)] * 3, axis=2)
    dec = parse_jpeg(write_jpeg(sm, quant=2, subsampling="420"))
    rmse = np.sqrt(((dec.astype(float) - sm.astype(float)) ** 2).mean())
    assert rmse < 3.0
