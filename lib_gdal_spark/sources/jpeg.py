"""Baseline JPEG codec (ITU-T T.81 sequential DCT, 8-bit) in pure
numpy/stdlib — a REAL decoder for the most common web image format (PNG
and (Geo)TIFF already decode natively; no external image library is a
dependency, so the codec lives in-repo like sources/png.py).

Decoder: SOI/APPn/COM/DQT/SOF0/DHT/SOS/EOI marker walk, canonical
Huffman tables reconstructed from the stream's DHT segments (so
real-world baseline files decode, not just this encoder's output),
0xFF00 byte-unstuffing, DC prediction, zig-zag + dequant + orthonormal
inverse DCT, BT.601 YCbCr->RGB for 3-component scans, chroma sampling
factors 1-2 (4:4:4 / 4:2:2 / 4:2:0). Progressive (SOF2), 12-bit,
arithmetic-coded, restart-interval, and factor>2 streams raise
NotImplementedError loudly — sequential baseline is the scope.

Encoder: the matching baseline writer (4:4:4, per-table canonical
Huffman codes generated from the symbols actually used — spec-legal via
DHT, so any conformant decoder reads them). ``quant`` defaults to a
uniform 8: for images that are CONSTANT within each 8x8 block the DC
coefficient is exactly 8*(v-128), every AC is (numerically) zero, and
8*(v-128) is divisible by 8 — so encode->decode returns such images
BIT-EXACTLY, which is what gives the lossy codec a closed-form oracle
(see the image_decode_jpeg driver query).

Zig-zag order, DCT basis, and Huffman canonicalization are computed, not
transcribed, to keep constants mistake-proof.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables
def _zigzag_order() -> np.ndarray:
    """(64,) flat indices into an 8x8 block, in zig-zag scan order."""
    order = []
    for d in range(15):
        rng = range(d, -1, -1) if d % 2 == 0 else range(d + 1)
        for r in rng:
            c = d - r
            if r < 8 and c < 8:
                order.append(r * 8 + c)
    return np.array(order, dtype=np.int64)


_ZZ = _zigzag_order()
_UNZZ = np.argsort(_ZZ)


def _dct_matrix() -> np.ndarray:
    n = np.arange(8)
    c = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    c *= np.sqrt(2.0 / 8.0)
    c[0, :] = np.sqrt(1.0 / 8.0)
    return c


_C = _dct_matrix()


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


# ------------------------------------------------------------- bit I/O
class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:          # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)   # pad with 1-bits (T.81)
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy data")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1          # unstuff
                else:
                    raise ValueError(f"marker 0xFF{nxt:02X} inside scan")
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v


# ------------------------------------------------------------- huffman
def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple]:
    """(BITS[16], HUFFVAL) -> {symbol: (code, length)} per T.81 C.2."""
    out: dict[int, tuple] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple, int]:
    return {(ln, cd): sym
            for sym, (cd, ln) in _canonical_codes(bits, vals).items()}


def _read_symbol(br: _BitReader, table: dict[tuple, int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _build_table(symbols: list[int]) -> tuple[list[int], list[int]]:
    """Fixed-length canonical table over the used symbols (spec-legal:
    n symbols at length L with n <= 2^L - 1, so no all-ones code)."""
    syms = sorted(set(symbols)) or [0]
    n = len(syms)
    length = 1
    while (1 << length) - 1 < n:
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    return bits, syms


# ------------------------------------------------------------- encoder
def _encode_block(zz: np.ndarray, prev_dc: int, dc_codes, ac_codes,
                  bw: _BitWriter) -> int:
    dc = int(zz[0])
    diff = dc - prev_dc
    cat = _category(diff)
    code, ln = dc_codes[cat]
    bw.write(code, ln)
    if cat:
        v = diff if diff >= 0 else diff + (1 << cat) - 1
        bw.write(v, cat)
    run = 0
    last_nz = 0
    for k in range(1, 64):
        if zz[k]:
            last_nz = k
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            bw.write(code, ln)
            run -= 16
        cat = _category(v)
        code, ln = ac_codes[(run << 4) | cat]
        bw.write(code, ln)
        bv = v if v >= 0 else v + (1 << cat) - 1
        bw.write(bv, cat)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]
        bw.write(code, ln)
    return dc


def _block_symbols(zz: np.ndarray, prev_dc: int) -> tuple[list, list, int]:
    """Which DC/AC symbols this block will emit (for table building)."""
    dcs = [_category(int(zz[0]) - prev_dc)]
    acs = []
    run = 0
    last_nz = 0
    for k in range(1, 64):
        if zz[k]:
            last_nz = k
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            acs.append(0xF0)
            run -= 16
        acs.append((run << 4) | _category(v))
        run = 0
    if last_nz < 63:
        acs.append(0x00)
    return dcs, acs, int(zz[0])


def _quant_table(quant) -> np.ndarray:
    if quant is None:
        quant = 8
    if np.isscalar(quant):
        return np.full(64, int(quant), dtype=np.int64)
    q = np.asarray(quant, dtype=np.int64).reshape(64)
    if (q < 1).any() or (q > 255).any():
        raise ValueError("quant entries must be in 1..255")
    return q


def _blocks_of(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad (edge-replicate) to 8-multiples; return (nby*nbx, 8, 8)."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    nby, nbx = p.shape[0] // 8, p.shape[1] // 8
    b = p.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return b, nby, nbx


def _fdct_quant(blocks: np.ndarray, q: np.ndarray) -> np.ndarray:
    x = blocks.astype(np.float64) - 128.0
    y = np.einsum("ij,njk,lk->nil", _C, x, _C)
    zz = y.reshape(-1, 64)[:, _ZZ]
    qv = np.sign(zz) * np.floor(np.abs(zz) / q + 0.5)
    return qv.astype(np.int64)


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    out = np.stack([y, cb, cr], axis=-1)
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = (ycc[..., i].astype(np.float64) for i in range(3))
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def _downsample2(p: np.ndarray) -> np.ndarray:
    """2x2 box mean with half-up rounding (4:2:0 chroma)."""
    ph, pw = -p.shape[0] % 2, -p.shape[1] % 2
    e = np.pad(p, ((0, ph), (0, pw)), mode="edge")
    m = (e[0::2, 0::2] + e[0::2, 1::2] + e[1::2, 0::2] + e[1::2, 1::2]) / 4.0
    return np.floor(m + 0.5)


def write_jpeg(image: np.ndarray, quant=None,
               subsampling: str = "444") -> bytes:
    """Encode (h, w) grayscale or (h, w, 3) RGB uint8 to baseline JPEG
    (single DQT shared by all components; ``subsampling`` = '444' or
    '420' for RGB). Deterministic."""
    img = np.asarray(image)
    h, w = img.shape[:2]
    if img.ndim == 2:
        comps = [(img.astype(np.float64), 1, 1)]
    elif img.ndim == 3 and img.shape[2] == 3:
        ycc = rgb_to_ycbcr(img)
        y, cb, cr = (ycc[..., i].astype(np.float64) for i in range(3))
        if subsampling == "444":
            comps = [(y, 1, 1), (cb, 1, 1), (cr, 1, 1)]
        elif subsampling == "420":
            comps = [(y, 2, 2), (_downsample2(cb), 1, 1),
                     (_downsample2(cr), 1, 1)]
        else:
            raise ValueError("subsampling must be '444' or '420'")
    else:
        raise ValueError("expected (h,w) or (h,w,3) uint8")
    q = _quant_table(quant)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    # per component: pad plane to its MCU-covered block grid, DCT+quant,
    # zig-zags addressable as (block_row, block_col)
    comp_zz = []
    for p, hs, vs in comps:
        tby, tbx = mcuy * vs, mcux * hs
        pad_h, pad_w = tby * 8 - p.shape[0], tbx * 8 - p.shape[1]
        pp = np.pad(p, ((0, pad_h), (0, pad_w)), mode="edge")
        blocks = pp.reshape(tby, 8, tbx, 8).transpose(0, 2, 1, 3) \
            .reshape(-1, 8, 8)
        comp_zz.append(_fdct_quant(blocks, q).reshape(tby, tbx, 64))

    def mcu_blocks():
        """(comp_idx, zz) in interleaved scan-emission order."""
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (_, hs, vs) in enumerate(comps):
                    for v in range(vs):
                        for u in range(hs):
                            yield ci, comp_zz[ci][my * vs + v, mx * hs + u]

    # pass 1: symbol inventory -> canonical tables (luma=t0, chroma=t1)
    dc_syms: list[list[int]] = [[], []]
    ac_syms: list[list[int]] = [[], []]
    prev = [0] * len(comps)
    for ci, zz in mcu_blocks():
        t = 0 if ci == 0 else 1
        d, a, prev[ci] = _block_symbols(zz, prev[ci])
        dc_syms[t] += d
        ac_syms[t] += a
    n_tables = 1 if len(comps) == 1 else 2
    dc_tabs = [_build_table(dc_syms[t]) for t in range(n_tables)]
    ac_tabs = [_build_table(ac_syms[t]) for t in range(n_tables)]
    dc_codes = [_canonical_codes(*t) for t in dc_tabs]
    ac_codes = [_canonical_codes(*t) for t in ac_tabs]

    # pass 2: entropy-code in the same order
    bw = _BitWriter()
    prev_dc = [0] * len(comps)
    for ci, zz in mcu_blocks():
        t = 0 if ci == 0 else 1
        prev_dc[ci] = _encode_block(zz, prev_dc[ci],
                                    dc_codes[t], ac_codes[t], bw)
    scan = bw.flush()

    out = bytearray(b"\xff\xd8")                       # SOI
    dqt = bytes([0x00]) + bytes(int(q[i]) for i in range(64))
    out += b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt
    ncomp = len(comps)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci, (_, hs, vs) in enumerate(comps):
        sof += struct.pack(">BBB", ci + 1, (hs << 4) | vs, 0)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for t in range(n_tables):
        for cls, (bits, vals) in ((0, dc_tabs[t]), (1, ac_tabs[t])):
            seg = bytes([(cls << 4) | t]) + bytes(bits) + bytes(vals)
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    sos = bytes([ncomp])
    for ci in range(ncomp):
        t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (t << 4) | t])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += scan
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)


# ------------------------------------------------------------- decoder
def parse_jpeg(data: bytes) -> np.ndarray:
    """Baseline JPEG bytes -> (h, w) or (h, w, 3) uint8."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple, dict] = {}
    comps: list[dict] = []
    h = w = 0
    scan_comps: list[dict] = []
    scan_start = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        m = data[pos + 1]
        pos += 2
        if m == 0xD9:          # EOI
            break
        if m in (0x01,) or 0xD0 <= m <= 0xD7:
            continue           # standalone
        ln = struct.unpack(">H", data[pos:pos + 2])[0]
        seg = data[pos + 2:pos + ln]
        if m == 0xDB:          # DQT
            o = 0
            while o < len(seg):
                pq, tq = seg[o] >> 4, seg[o] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                qt[tq] = np.frombuffer(
                    seg[o + 1:o + 65], dtype=np.uint8).astype(np.int64)
                o += 65
        elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline SOF 0x{m:02X} (progressive/extended)")
        elif m == 0xC0:        # SOF0
            if seg[0] != 8:
                raise NotImplementedError("non-8-bit precision")
            h, w = struct.unpack(">HH", seg[1:5])
            for i in range(seg[5]):
                cid, hv, tq = seg[6 + 3 * i:9 + 3 * i]
                hs, vs = hv >> 4, hv & 15
                if hs not in (1, 2) or vs not in (1, 2):
                    raise NotImplementedError(
                        f"sampling factors {hs}x{vs} (1..2 supported)")
                comps.append({"id": cid, "tq": tq, "h": hs, "v": vs})
        elif m == 0xC4:        # DHT
            o = 0
            while o < len(seg):
                cls, tid = seg[o] >> 4, seg[o] & 15
                bits = list(seg[o + 1:o + 17])
                n = sum(bits)
                vals = list(seg[o + 17:o + 17 + n])
                huff[(cls, tid)] = _decode_table(bits, vals)
                o += 17 + n
        elif m == 0xDD:
            raise NotImplementedError("restart intervals")
        elif m == 0xDA:        # SOS
            nsc = seg[0]
            for i in range(nsc):
                cid, tt = seg[1 + 2 * i:3 + 2 * i]
                comp = next(c for c in comps if c["id"] == cid)
                scan_comps.append(
                    {**comp, "dc": tt >> 4, "ac": tt & 15})
            scan_start = pos + ln
            break
        pos += ln
    if scan_start is None or not comps:
        raise ValueError("no scan found")

    br = _BitReader(data[scan_start:])
    hmax = max(c["h"] for c in scan_comps)
    vmax = max(c["v"] for c in scan_comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8),
                       dtype=np.float64) for c in scan_comps]
    prev_dc = [0] * len(scan_comps)

    def read_block(c: dict, ci: int) -> np.ndarray:
        zz = np.zeros(64, dtype=np.int64)
        cat = _read_symbol(br, huff[(0, c["dc"])])
        if cat:
            v = br.read(cat)
            if v < (1 << (cat - 1)):
                v -= (1 << cat) - 1
            prev_dc[ci] += v
        zz[0] = prev_dc[ci]
        k = 1
        while k < 64:
            sym = _read_symbol(br, huff[(1, c["ac"])])
            if sym == 0x00:
                break
            run, size = sym >> 4, sym & 15
            if size == 0:
                if run != 15:
                    raise ValueError("bad AC symbol")
                k += 16
                continue
            k += run
            if k > 63:
                raise ValueError("AC index overflow")
            v = br.read(size)
            if v < (1 << (size - 1)):
                v -= (1 << size) - 1
            zz[k] = v
            k += 1
        deq = (zz * qt[c["tq"]])[_UNZZ].reshape(8, 8)
        return _C.T @ deq.astype(np.float64) @ _C + 128.0

    # interleaved MCUs: per component, Vi x Hi raster-ordered blocks
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, c in enumerate(scan_comps):
                for v in range(c["v"]):
                    for u in range(c["h"]):
                        by = my * c["v"] + v
                        bx = mx * c["h"] + u
                        planes[ci][by * 8:by * 8 + 8,
                                   bx * 8:bx * 8 + 8] = read_block(c, ci)
    # crop to each component's true size, then nearest-upsample to full
    out_planes = []
    for ci, c in enumerate(scan_comps):
        cw = (w * c["h"] + hmax - 1) // hmax
        ch = (h * c["v"] + vmax - 1) // vmax
        p = planes[ci][:ch, :cw]
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        out_planes.append(p[:h, :w])
    planes = [np.clip(np.floor(p + 0.5), 0, 255).astype(np.uint8)
              for p in out_planes]
    if len(planes) == 1:
        return planes[0]
    if len(planes) == 3:
        return ycbcr_to_rgb(np.stack(planes, axis=-1))
    raise NotImplementedError(f"{len(planes)}-component scan")
