"""GIF codec (87a/89a) — pure stdlib/numpy (reference:
``drivers/raster/gif``). The remaining big web image format after
PNG/JPEG: paletted, LZW-compressed, optionally animated (a crawl sees
animated GIFs constantly).

Reader: header + logical screen descriptor, global/local color tables,
extension blocks (graphic-control delays kept, others skipped), image
descriptors with interlace de-scrambling, and GIF-LZW (LSB-first
variable-width codes, CLEAR/EOI, late width bump — validated against
real encoder output; 12-bit cap with deferred-clear tolerance).
Writer: GIF89a with global palette, per-frame graphic control (delay),
and the matching LZW encoder, so round trips are index-exact and real
decoders read the output.
"""

from __future__ import annotations

import struct

import numpy as np


# ------------------------------------------------------------- GIF-LZW
def _lzw_encode(indices: bytes, mcs: int) -> bytes:
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    acc = 0
    nbits = 0
    out = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits           # LSB-first packing
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh():
        return {bytes([i]): i for i in range(1 << mcs)}, eoi + 1, mcs + 1

    table, next_free, width = fresh()
    emit(clear, width)
    cur = b""
    for ch in indices:
        nxt = cur + bytes([ch])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], width)
        table[nxt] = next_free
        next_free += 1
        # late bump (the convention real encoders use): codes stay w
        # bits while every assigned code still fits, i.e. widen only
        # once next_free passes 1 << width
        if next_free == (1 << width) + 1 and width < 12:
            width += 1
        if next_free == 4096:
            emit(clear, width)
            table, next_free, width = fresh()
        cur = bytes([ch])
    if cur:
        emit(table[cur], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int) -> bytes:
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    pos = 0
    acc = 0
    nbits = 0

    def read(width: int) -> int:
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                return eoi             # tolerate missing EOI
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        v = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return v

    base = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
    table = list(base)
    width = mcs + 1
    out = bytearray()
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == clear:
            table = list(base)
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise ValueError("LZW code out of range")
            if len(table) < 4096:
                table.append(prev + entry[:1])
        # the decoder's table lags the encoder's by one entry, so the
        # encoder's late bump (next_free past 1<<w) lands here exactly
        # when the decoder's table size reaches 1<<w — validated against
        # real encoder output (CPython's bundled GIF icons)
        if len(table) == (1 << width) and width < 12:
            width += 1
        out += entry
        prev = entry
    return bytes(out)


# ------------------------------------------------------------ container
def _deinterlace(idx: np.ndarray) -> np.ndarray:
    h = idx.shape[0]
    order = ([*range(0, h, 8)] + [*range(4, h, 8)]
             + [*range(2, h, 4)] + [*range(1, h, 2)])
    out = np.empty_like(idx)
    out[order] = idx
    return out


def parse_gif(data: bytes) -> dict:
    """GIF bytes -> {width, height, frames: [(h, w) uint8 index array],
    palettes: [(n, 3) uint8], delays_cs: [int]}."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h, flags = struct.unpack("<HHB", data[6:11])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    frames, palettes, delays = [], [], []
    delay = 0
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x3B:                 # trailer
            break
        if b0 == 0x21:                 # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and data[pos] >= 4:
                delay = struct.unpack("<H", data[pos + 2:pos + 4])[0]
            while data[pos]:           # skip sub-blocks
                pos += 1 + data[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected block 0x{b0:02X}")
        fx, fy, fw, fh, ff = struct.unpack("<HHHHB", data[pos + 1:pos + 10])
        pos += 10
        pal = gct
        if ff & 0x80:
            n = 2 << (ff & 7)
            pal = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        mcs = data[pos]
        pos += 1
        lzw = bytearray()
        while data[pos]:
            ln = data[pos]
            lzw += data[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = np.frombuffer(_lzw_decode(bytes(lzw), mcs), np.uint8,
                            fw * fh).reshape(fh, fw)
        if ff & 0x40:
            idx = _deinterlace(idx)
        if pal is None:
            raise ValueError("no color table")
        frames.append(idx)
        palettes.append(pal)
        delays.append(delay)
    return {"width": w, "height": h, "frames": frames,
            "palettes": palettes, "delays_cs": delays}


def gif_to_rgb_frames(data: bytes) -> list[np.ndarray]:
    """GIF bytes -> [(h, w, 3) uint8] (each frame on its palette)."""
    g = parse_gif(data)
    return [pal[idx] for idx, pal in zip(g["frames"], g["palettes"])]


def write_gif(frames: list[np.ndarray], palette: np.ndarray,
              delays_cs: int | list[int] = 10) -> bytes:
    """Index frames ((h, w) uint8) + (n, 3) palette -> GIF89a bytes.
    Deterministic; round trips are index-exact (GIF is lossless)."""
    if not frames:
        raise ValueError("no frames")
    pal = np.asarray(palette, dtype=np.uint8)
    bits = max(1, int(pal.shape[0] - 1).bit_length())
    n = 1 << bits
    full = np.zeros((n, 3), dtype=np.uint8)
    full[: pal.shape[0]] = pal
    h, w = frames[0].shape
    if isinstance(delays_cs, int):
        delays_cs = [delays_cs] * len(frames)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += full.tobytes()
    if len(frames) > 1:                # loop forever (NETSCAPE2.0)
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    mcs = max(2, bits)
    for frame, delay in zip(frames, delays_cs):
        if frame.shape != (h, w):
            raise ValueError("all frames must share the canvas size")
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out += bytes([mcs])
        lzw = _lzw_encode(np.asarray(frame, np.uint8).tobytes(), mcs)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
