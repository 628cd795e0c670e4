"""EXIF GPS metadata inside JPEG APP1 — the "mine geocoordinates from
page media" path of the north star: geotagged images carry lat/lon in a
TIFF-structured APP1 segment, and extracting them turns image bytes
into spatial-join input (cells, tiles, PIP) with no text parsing.

Writer: a minimal little-endian TIFF block (IFD0 with the 0x8825 GPS-IFD
pointer; GPS IFD with LatitudeRef/Latitude/LongitudeRef/Longitude as
degree/minute/second RATIONALs, seconds in 1/100ths) wrapped in
``Exif\\0\\0`` and inserted as APP1 right after SOI. Reader: marker walk
to APP1, TIFF header (II/MM both), IFD entry scan, GPS sub-IFD, rational
reassembly with hemisphere signs. Exactness: d/m are integers and the
seconds denominator is 100, so lat = sign * (d + m/60 + s100/360000)
reproduces in SQL with integer arithmetic.
"""

from __future__ import annotations

import struct


def _rat(num: int, den: int) -> bytes:
    return struct.pack("<II", num, den)


def _dms100(value_abs: float) -> tuple[int, int, int]:
    """abs degrees -> (d, m, s_hundredths), the exact writer encoding."""
    total = round(value_abs * 360000)      # 1/100 arc-seconds
    d, rem = divmod(total, 360000)
    m, s100 = divmod(rem, 6000)
    return int(d), int(m), int(s100)


def build_exif_gps(lat: float, lon: float) -> bytes:
    """(lat, lon) -> APP1 payload bytes ('Exif\\0\\0' + TIFF block)."""
    lat_ref = b"N\x00" if lat >= 0 else b"S\x00"
    lon_ref = b"E\x00" if lon >= 0 else b"W\x00"
    dla = _dms100(abs(lat))
    dlo = _dms100(abs(lon))

    # TIFF block layout (little-endian), offsets relative to block start:
    # 0: header(8) | 8: IFD0 (1 entry + next=0 -> 2+12+4=18) |
    # 26: GPS IFD (4 entries + next=0 -> 2+48+4=54) | 80: lat rationals
    # (24) | 104: lon rationals (24)
    ifd0 = struct.pack("<H", 1) + struct.pack(
        "<HHII", 0x8825, 4, 1, 26) + struct.pack("<I", 0)
    gps_entries = [
        struct.pack("<HHI4s", 1, 2, 2, lat_ref.ljust(4, b"\x00")),
        struct.pack("<HHII", 2, 5, 3, 80),
        struct.pack("<HHI4s", 3, 2, 2, lon_ref.ljust(4, b"\x00")),
        struct.pack("<HHII", 4, 5, 3, 104),
    ]
    gps = struct.pack("<H", 4) + b"".join(gps_entries) + struct.pack("<I", 0)
    lat_r = _rat(dla[0], 1) + _rat(dla[1], 1) + _rat(dla[2], 100)
    lon_r = _rat(dlo[0], 1) + _rat(dlo[1], 1) + _rat(dlo[2], 100)
    tiff = b"II*\x00" + struct.pack("<I", 8) + ifd0 + gps + lat_r + lon_r
    assert len(tiff) == 128
    return b"Exif\x00\x00" + tiff


def insert_app1(jpeg: bytes, app1_payload: bytes) -> bytes:
    """Insert an APP1 segment right after SOI."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    seg = b"\xff\xe1" + struct.pack(">H", 2 + len(app1_payload)) \
        + app1_payload
    return jpeg[:2] + seg + jpeg[2:]


def _read_u(data: bytes, off: int, n: int, le: bool) -> int:
    chunk = data[off:off + n]
    return int.from_bytes(chunk, "little" if le else "big")


def parse_exif_gps(jpeg: bytes) -> tuple[float, float] | None:
    """JPEG bytes -> (lat, lon) from EXIF GPS, or None if absent."""
    if jpeg[:2] != b"\xff\xd8":
        return None
    pos = 2
    tiff = None
    while pos + 4 <= len(jpeg):
        if jpeg[pos] != 0xFF:
            return None
        m = jpeg[pos + 1]
        if m in (0xD8, 0xD9) or 0xD0 <= m <= 0xD7 or m == 0x01:
            pos += 2
            continue
        ln = struct.unpack(">H", jpeg[pos + 2:pos + 4])[0]
        if m == 0xE1 and jpeg[pos + 4:pos + 10] == b"Exif\x00\x00":
            tiff = jpeg[pos + 10:pos + 2 + ln]
            break
        if m == 0xDA:
            break
        pos += 2 + ln
    if tiff is None or len(tiff) < 8:
        return None
    le = tiff[:2] == b"II"
    if not le and tiff[:2] != b"MM":
        return None
    ifd0 = _read_u(tiff, 4, 4, le)

    def entries(off: int):
        n = _read_u(tiff, off, 2, le)
        for i in range(n):
            e = off + 2 + 12 * i
            tag = _read_u(tiff, e, 2, le)
            typ = _read_u(tiff, e + 2, 2, le)
            cnt = _read_u(tiff, e + 4, 4, le)
            yield tag, typ, cnt, e + 8

    gps_off = None
    for tag, typ, cnt, voff in entries(ifd0):
        if tag == 0x8825:
            gps_off = _read_u(tiff, voff, 4, le)
    if gps_off is None:
        return None

    refs: dict[int, str] = {}
    rats: dict[int, tuple] = {}
    for tag, typ, cnt, voff in entries(gps_off):
        if typ == 2:                     # ASCII (inline, cnt <= 4)
            raw = tiff[voff:voff + min(cnt, 4)]
            refs[tag] = raw.split(b"\x00")[0].decode("ascii", "replace")
        elif typ == 5 and cnt == 3:      # 3 RATIONALs via offset
            o = _read_u(tiff, voff, 4, le)
            vals = []
            for i in range(3):
                num = _read_u(tiff, o + 8 * i, 4, le)
                den = _read_u(tiff, o + 8 * i + 4, 4, le)
                vals.append((num, den or 1))
            rats[tag] = tuple(vals)
    if 2 not in rats or 4 not in rats:
        return None

    def dms(v):
        (dn, dd), (mn, md), (sn, sd) = v
        return dn / dd + mn / md / 60.0 + sn / sd / 3600.0

    lat = dms(rats[2]) * (-1 if refs.get(1, "N").upper() == "S" else 1)
    lon = dms(rats[4]) * (-1 if refs.get(3, "E").upper() == "W" else 1)
    return lat, lon
