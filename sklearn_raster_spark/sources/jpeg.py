"""Dependency-free baseline JPEG codec (ITU-T T.81).

The multimodal surface (operators/multimodal.py) and the binaryFile
asset path (q152/q161) need a REAL ``image/jpeg`` decode step — the
single format ``decode_image`` still routed to Pillow-or-raise. This
module implements baseline sequential DCT JPEG straight from the
public ITU-T T.81 specification (with the JFIF color conventions),
exactly like sources/tiff.py and sources/image.py derive from their
public specs:

- ``decode_jpeg``: baseline (SOF0), extended-sequential (SOF1), and
  progressive (SOF2 — spectral selection, successive approximation,
  and EOB runs per T.81 annex G) Huffman streams, 8-bit precision,
  grayscale or 3-component YCbCr with arbitrary sampling factors
  (4:4:4, 4:2:0, 4:2:2, ...), interleaved and non-interleaved scans,
  restart markers (DRI/RSTn), 8- and 16-bit DQT entries, and
  abbreviated streams via ``tables=`` (the TIFF 6.0 §22 / JPEGTables
  tag shape). Arithmetic coding, hierarchical and lossless modes
  raise ``NotImplementedError`` with a pointer to Pillow.
- ``encode_jpeg``: baseline 4:4:4 / 4:2:0 encoder with the Annex K
  quantization and Huffman tables (quality scaling per the public
  IJG formula), grayscale or RGB — it exists so the decoder has a
  dependency-free round-trip in tests and so asset materializers can
  emit real .jpg files on executors.

Chroma upsampling is box replication (nearest), so pixels decoded
from subsampled files differ from libjpeg's smooth upsampler by a few
codes — tests compare via PSNR, never bit-exactness. Decode runs on
EXECUTORS inside mapInArrow; each call touches only its one payload.
"""

from __future__ import annotations

import struct

import numpy as np

from sklearn_raster_spark.sources._contract import check_plausible, codec_errors

# zigzag index -> natural (row-major) index, T.81 figure 5
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.1 quantization tables (natural order)
_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.float64,
)
_QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
    ]
    + [99] * 32,
    dtype=np.float64,
)

# Annex K.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# orthonormal 8-point DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1)u*pi/16)
_X = np.arange(8)
_DCT_A = np.cos((2 * _X[None, :] + 1) * _X[:, None] * np.pi / 16) / 2.0
_DCT_A[0, :] *= 1.0 / np.sqrt(2.0)

_SOF_UNSUPPORTED = {
    0xC3: "lossless",
    0xC5: "differential sequential",
    0xC6: "differential progressive",
    0xC7: "differential lossless",
    0xC9: "arithmetic sequential",
    0xCA: "arithmetic progressive",
    0xCB: "arithmetic lossless",
    0xCD: "differential arithmetic sequential",
    0xCE: "differential arithmetic progressive",
    0xCF: "differential arithmetic lossless",
}


def _build_decode_table(bits: list[int], vals: list[int]) -> dict:
    """Canonical Huffman assignment (T.81 annex C): codes of each
    length are consecutive, starting from twice the previous length's
    end. Returns {(length, code): value}."""
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _build_encode_table(bits: list[int], vals: list[int]) -> dict:
    """symbol -> (code, length), same canonical assignment."""
    table: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


class _MarkerInData(ValueError):
    """A non-stuffing marker interrupted entropy-coded data.

    Subclasses ValueError so that when truncated/corrupt entropy data
    lets it escape the decoder, callers treating codec failures as
    ValueError (the whole sources/ contract) still catch it."""

    def __init__(self, marker: int):
        super().__init__(f"JPEG: marker {marker:02x} inside entropy data")
        self.marker = marker


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    unstuffing (T.81 §B.1.1.5) and marker detection."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.cur = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.buf):
                raise ValueError("JPEG: entropy data truncated")
            b = self.buf[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.buf[self.pos] if self.pos < len(self.buf) else 0xD9
                if nxt == 0x00:
                    self.pos += 1
                else:
                    self.pos -= 1
                    raise _MarkerInData(nxt)
            self.cur = b
            self.nbits = 8
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huff(self, table: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            val = table.get((length, code))
            if val is not None:
                return val
        raise ValueError("JPEG: invalid Huffman code")

    def sync_restart(self, n: int) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.nbits = 0
        # a 1-padded final byte can be 0xFF, which the encoder stuffs;
        # such FF00 pairs are entropy filler, not the marker
        while (
            self.pos + 1 < len(self.buf)
            and self.buf[self.pos] == 0xFF
            and self.buf[self.pos + 1] == 0x00
        ):
            self.pos += 2
        if self.pos + 1 >= len(self.buf) or self.buf[self.pos] != 0xFF:
            raise ValueError("JPEG: expected restart marker")
        got = self.buf[self.pos + 1]
        if got != 0xD0 + n:
            raise ValueError(f"JPEG: expected RST{n}, got marker {got:02x}")
        self.pos += 2


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: map an s-bit magnitude to its signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


class _JpegState:
    """Quantization / Huffman / restart state, shared between a
    JPEGTables prelude and the frame stream that uses it."""

    def __init__(self):
        self.qt: dict[int, np.ndarray] = {}
        self.huff_dc: dict[int, dict] = {}
        self.huff_ac: dict[int, dict] = {}
        self.restart_interval = 0


def _parse_segments(buf: bytes, state: _JpegState, pos: int | None = None):
    """Walk marker segments, filling ``state``; yields (marker, pos,
    payload) for frame-level markers (SOFn / SOS / EOI). ``pos``
    resumes mid-stream after a scan's entropy data (progressive and
    non-interleaved streams carry several SOS segments)."""
    if pos is None:
        if buf[:2] != b"\xff\xd8":
            raise ValueError("not a JPEG (missing SOI)")
        pos = 2
    while pos < len(buf):
        if buf[pos] != 0xFF:
            raise ValueError(f"JPEG: expected marker at {pos}")
        while pos < len(buf) and buf[pos] == 0xFF:  # fill bytes allowed
            pos += 1
        marker = buf[pos]
        pos += 1
        if marker == 0xD9:  # EOI
            yield marker, pos, b""
            return
        if marker in (0x01, *range(0xD0, 0xD8)):  # TEM / bare RSTn
            continue
        (seg_len,) = struct.unpack(">H", buf[pos : pos + 2])
        payload = buf[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 15
                p += 1
                width = 128 if pq else 64
                if len(payload) - p < width:
                    raise ValueError("JPEG: DQT segment truncated")
                if pq:  # 16-bit entries
                    zz = np.frombuffer(payload[p : p + 128], dtype=">u2")
                    p += 128
                else:
                    zz = np.frombuffer(payload[p : p + 64], dtype=np.uint8)
                    p += 64
                nat = np.empty(64, np.float64)
                nat[ZIGZAG] = zz
                state.qt[tq] = nat
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 15
                bits = list(payload[p + 1 : p + 17])
                n = sum(bits)
                vals = list(payload[p + 17 : p + 17 + n])
                p += 17 + n
                tbl = _build_decode_table(bits, vals)
                (state.huff_ac if tc else state.huff_dc)[th] = tbl
        elif marker == 0xDD:  # DRI
            (state.restart_interval,) = struct.unpack(">H", payload[:2])
        elif marker in _SOF_UNSUPPORTED:
            raise NotImplementedError(
                f"{_SOF_UNSUPPORTED[marker]} JPEG needs Pillow (builtin "
                "decoder: sequential and progressive Huffman)"
            )
        elif marker in (0xC0, 0xC1, 0xC2, 0xDA):
            yield marker, pos + seg_len, payload
            if marker == 0xDA:
                return  # caller resumes after entropy data
        # APPn / COM / DNL: skipped
        pos += seg_len


@codec_errors("JPEG")
def decode_jpeg(data: bytes, tables: bytes | None = None) -> np.ndarray:
    """Decode a Huffman JPEG — baseline (SOF0), extended sequential
    (SOF1), or progressive (SOF2, spectral selection + successive
    approximation per T.81 annex G) — to uint8: (H, W) for grayscale,
    (H, W, 3) RGB for YCbCr. ``tables`` is an optional abbreviated
    tables-only stream (SOI + DQT/DHT/DRI + EOI) that seeds the
    quantization/Huffman state — the TIFF 6.0 supplement-2 JPEGTables
    shape used by compression 7 strips/tiles."""
    data = bytes(data)
    state = _JpegState()
    if tables:
        for _ in _parse_segments(bytes(tables), state):
            pass

    frame = None  # (height, width, comps, progressive)
    planes: dict[int, dict] | None = None
    pos: int | None = None
    n_scans = 0
    while True:
        resumed = False
        for marker, after, payload in _parse_segments(data, state, pos):
            if marker in (0xC0, 0xC1, 0xC2):
                precision, h, w, nf = struct.unpack(">BHHB", payload[:6])
                if precision != 8:
                    raise NotImplementedError(
                        f"{precision}-bit JPEG needs Pillow (builtin: 8-bit)"
                    )
                if nf not in (1, 3):
                    raise NotImplementedError(
                        f"{nf}-component JPEG needs Pillow (builtin: gray/YCbCr)"
                    )
                comps = []
                for i in range(nf):
                    cid, hv, tq = payload[6 + 3 * i : 9 + 3 * i]
                    comps.append(
                        {"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq}
                    )
                if any(c["h"] == 0 or c["v"] == 0 for c in comps):
                    raise ValueError("JPEG: zero sampling factor in SOF")
                check_plausible(h * w * nf, "JPEG")  # before plane alloc
                frame = (h, w, comps, marker == 0xC2)
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                # coefficient planes persist ACROSS scans (progressive
                # streams refine them scan by scan), in ZIGZAG order so
                # spectral bands are contiguous
                planes = {
                    c["id"]: {
                        "coef": np.zeros(
                            (mcuy * c["v"], mcux * c["h"], 64), np.int32
                        ),
                        "pred": 0,
                    }
                    for c in comps
                }
            elif marker == 0xDA:
                if frame is None or planes is None:
                    raise ValueError("JPEG: SOS before SOF")
                ns = payload[0]
                scan = []
                for i in range(ns):
                    cs, tdta = payload[1 + 2 * i : 3 + 2 * i]
                    matches = [c for c in frame[2] if c["id"] == cs]
                    if not matches:
                        raise ValueError(
                            f"JPEG: scan references undefined component {cs}"
                        )
                    comp = matches[0]
                    scan.append((comp, tdta >> 4, tdta & 15))
                ss, se, ax = payload[1 + 2 * ns : 4 + 2 * ns]
                ah, al = ax >> 4, ax & 15
                if not frame[3]:  # sequential: full spectrum, no SA
                    ss, se, ah, al = 0, 63, 0, 0
                if ns not in (1, len(frame[2])):
                    raise NotImplementedError(
                        "partial-interleave JPEG scans need Pillow "
                        "(builtin: single-component or fully interleaved)"
                    )
                pos = _entropy_scan(data, after, frame, scan, state, planes,
                                    ss, se, ah, al)
                # the decoder stops at the last bit it NEEDS; unread
                # pad bits / stuffed FF00 pairs may sit before the next
                # marker — scan forward to it (a real marker is FF
                # followed by nonzero; FF00 is entropy stuffing)
                while pos < len(data):
                    if data[pos] == 0xFF and pos + 1 < len(data):
                        if data[pos + 1] == 0x00:
                            pos += 2
                            continue
                        break
                    pos += 1
                n_scans += 1
                resumed = True
                break
            elif marker == 0xD9:
                resumed = False
                break
        if not resumed:
            break
    if frame is None or n_scans == 0:
        raise ValueError("JPEG: no scan found")
    return _finalize(frame, planes, state)


def _entropy_scan(buf, pos, frame, scan, state, planes, ss, se, ah, al):
    """Decode one scan's entropy data into the coefficient planes and
    return the stream position after it. Handles interleaved MCUs
    (sequential full-spectrum or progressive DC) and single-component
    block-raster scans (progressive AC, non-interleaved sequential)."""
    h, w, comps, _ = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    reader = _BitReader(buf, pos)
    ri = state.restart_interval
    for comp, _, _ in scan:  # DC predictors reset at scan start
        planes[comp["id"]]["pred"] = 0
    eobrun = 0
    unit = 0

    def maybe_restart(unit):
        nonlocal eobrun
        if ri and unit and unit % ri == 0:
            reader.sync_restart(((unit // ri) - 1) & 7)
            for comp, _, _ in scan:
                planes[comp["id"]]["pred"] = 0
            eobrun = 0

    if len(scan) == 1:
        comp, td, ta = scan[0]
        pl = planes[comp["id"]]
        # non-interleaved geometry (T.81 A.2.2): the component's OWN
        # ceil dimensions, not the MCU-padded allocation
        cw = -(-w * comp["h"] // hmax)
        ch = -(-h * comp["v"] // vmax)
        bw = -(-cw // 8)
        bh = -(-ch // 8)
        for by in range(bh):
            for bx in range(bw):
                maybe_restart(unit)
                eobrun = _decode_block(
                    reader, pl["coef"][by, bx], pl, state, td, ta,
                    ss, se, ah, al, eobrun,
                )
                unit += 1
    else:
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart(unit)
                for comp, td, ta in scan:
                    pl = planes[comp["id"]]
                    for vi in range(comp["v"]):
                        for hi in range(comp["h"]):
                            eobrun = _decode_block(
                                reader,
                                pl["coef"][my * comp["v"] + vi,
                                           mx * comp["h"] + hi],
                                pl, state, td, ta, ss, se, ah, al, eobrun,
                            )
                unit += 1
    return reader.pos


def _decode_block(reader, blk, pl, state, td, ta, ss, se, ah, al, eobrun):
    """Decode one block's contribution for the current scan into the
    zigzag-ordered coefficient vector ``blk``; returns the updated
    end-of-band run (progressive AC scans share it across blocks)."""
    if ss == 0:
        if ah == 0:  # DC first pass (or sequential)
            dc_tbl = state.huff_dc.get(td)
            if dc_tbl is None:
                raise ValueError("JPEG: scan references undefined Huffman table")
            s = reader.decode_huff(dc_tbl)
            diff = _extend(reader.receive(s), s) if s else 0
            pl["pred"] += diff
            blk[0] = pl["pred"] << al
        else:  # DC refinement: one bit per block
            if reader.read_bit():
                blk[0] |= 1 << al
        if se == 0:
            return eobrun
        k = 1
    else:
        k = ss
    ac_tbl = state.huff_ac.get(ta)
    if ac_tbl is None:
        raise ValueError("JPEG: scan references undefined Huffman table")

    if ah == 0:  # first pass over this spectral band
        if eobrun > 0:
            return eobrun - 1
        while k <= se:
            rs = reader.decode_huff(ac_tbl)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.receive(r)
                break
            k += r
            if k > se:
                raise ValueError("JPEG: AC index overflow")
            blk[k] = _extend(reader.receive(s), s) << al
            k += 1
        return eobrun

    # AC refinement (T.81 G.1.2.3): append one correction bit to every
    # already-nonzero coefficient passed over; place new +-1<<al values
    p1, m1 = 1 << al, -(1 << al)

    def correct(k):
        if reader.read_bit() and (blk[k] & p1) == 0:
            blk[k] += p1 if blk[k] >= 0 else m1

    # NOTE convention: in this refinement branch eobrun COUNTS the
    # current block (set to 2^r + bits, decremented after the tail
    # correction bits are consumed) — unlike the first-pass branch
    # above, because EOB-run blocks still carry correction bits here.
    if eobrun == 0:
        while k <= se:
            rs = reader.decode_huff(ac_tbl)
            r, s = rs >> 4, rs & 15
            newval = 0
            if s == 0:
                if r < 15:  # EOB run starts here (including this block)
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break
                # r == 15: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("JPEG: invalid refinement magnitude")
                newval = p1 if reader.read_bit() else m1
            while k <= se:
                if blk[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if k > se:
                break
            if newval:
                blk[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:  # the band's tail: correction bits only
            if blk[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _finalize(frame, planes, state):
    """Dequantize (zigzag -> natural), batched IDCT, chroma upsample,
    color convert."""
    h, w, comps, _ = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    out_planes = []
    for comp in comps:
        qt = state.qt.get(comp["tq"])
        if qt is None:
            raise ValueError("JPEG: frame references undefined quantization table")
        zz = planes[comp["id"]]["coef"].astype(np.float64)
        by, bx = zz.shape[0], zz.shape[1]
        nat = np.empty_like(zz)
        nat[..., ZIGZAG] = zz
        coef = (nat * qt).reshape(-1, 8, 8)
        # spatial[n, x, y] = sum_{u,v} A[u,x] * F[n,u,v] * A[v,y]
        spatial = np.einsum("ux,nuv,vy->nxy", _DCT_A, coef, _DCT_A) + 128.0
        plane = (
            spatial.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        )
        plane = np.repeat(
            np.repeat(plane, vmax // comp["v"], axis=0), hmax // comp["h"], axis=1
        )
        out_planes.append(plane[:h, :w])

    if len(out_planes) == 1:
        return np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


# ------------------------------------------------------------------ encoder


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing (§B.1.1.5)
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            # pad with 1-bits per §B.7.1
            self.write(0xFF >> (8 - (8 - self.nbits)), 8 - self.nbits)


def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    """The public IJG quality curve: 50 => base table, 100 => all 1s."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.float64)


def _encode_block(wr, block, qt, dc_tbl, ac_tbl, pred):
    coef = _DCT_A @ (block - 128.0) @ _DCT_A.T
    q = np.round(coef.reshape(64) / qt).astype(np.int64)
    zz = q[ZIGZAG]
    diff = int(zz[0]) - pred
    s = int(diff).bit_length() if diff else 0
    code, length = dc_tbl[s]
    wr.write(code, length)
    if s:
        wr.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = np.nonzero(zz[1:])[0]
    last = last_nz[-1] + 1 if len(last_nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_tbl[0xF0]  # ZRL
            wr.write(code, length)
            run -= 16
        s = abs(v).bit_length()
        code, length = ac_tbl[(run << 4) | s]
        wr.write(code, length)
        wr.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, length = ac_tbl[0x00]  # EOB
        wr.write(code, length)
    return int(zz[0])


def _table_segments(quality: int, gray: bool) -> bytes:
    """DQT + DHT marker segments for the Annex K tables at ``quality``."""

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    qt_l = _quality_scale(_QT_LUMA, quality)
    out = bytearray()
    out += seg(0xDB, b"\x00" + qt_l[ZIGZAG].astype(np.uint8).tobytes())
    if not gray:
        qt_c = _quality_scale(_QT_CHROMA, quality)
        out += seg(0xDB, b"\x01" + qt_c[ZIGZAG].astype(np.uint8).tobytes())
    for tc, tsel, (bits, vals) in (
        (0, 0, _DC_LUMA),
        (1, 0, _AC_LUMA),
        (0, 1, _DC_CHROMA),
        (1, 1, _AC_CHROMA),
    ):
        if gray and tsel == 1:
            continue
        out += seg(0xC4, bytes([(tc << 4) | tsel]) + bytes(bits) + bytes(vals))
    return bytes(out)


def encode_jpeg_tables(quality: int = 85, gray: bool = False) -> bytes:
    """An abbreviated tables-only stream (SOI + DQT/DHT + EOI) — the
    payload shape of the TIFF JPEGTables tag (TIFF supplement 2 /
    TechNote 2, tag 347). Pair with ``encode_jpeg(omit_tables=True)``."""
    return b"\xff\xd8" + _table_segments(quality, gray) + b"\xff\xd9"


def encode_jpeg_huffman_tables() -> bytes:
    """An abbreviated tables stream carrying ONLY the Annex K default
    Huffman tables (SOI + DHT + EOI) — no DQT. This is the MJPEG
    seed: the DHT-less MJPEG convention covers Huffman tables only,
    so a frame that omits its quantization tables must still fail
    loudly (_finalize's undefined-quantization-table ValueError)
    rather than silently decode with arbitrary defaults."""

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    for tc, tsel, (bits, vals) in (
        (0, 0, _DC_LUMA),
        (1, 0, _AC_LUMA),
        (0, 1, _DC_CHROMA),
        (1, 1, _AC_CHROMA),
    ):
        out += seg(0xC4, bytes([(tc << 4) | tsel]) + bytes(bits) + bytes(vals))
    return bytes(out) + b"\xff\xd9"


def _pad_to(img: np.ndarray, mh: int, mw: int) -> np.ndarray:
    """Edge-replicate to multiples of (mh, mw) — the standard pad that
    keeps block DCTs free of artificial discontinuities."""
    h, w = img.shape
    return np.pad(
        img, ((0, -h % mh), (0, -w % mw)), mode="edge"
    )


def encode_jpeg(
    img: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
    omit_tables: bool = False,
) -> bytes:
    """Encode uint8 (H, W) grayscale or (H, W, 3) RGB as baseline JFIF
    JPEG with the Annex K tables. ``subsampling``: '444' (none) or
    '420' (2x2 chroma). ``restart_interval`` > 0 emits DRI + RSTn
    markers every that many MCUs (T.81 §B.2.4.4). ``omit_tables``
    writes an abbreviated image stream (no DQT/DHT — the TIFF
    compression-7 segment shape; pair with ``encode_jpeg_tables``)."""
    img = np.asarray(img)
    if img.dtype != np.uint8:
        raise ValueError(f"encode_jpeg expects uint8, got {img.dtype}")
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError(f"expected (H,W) or (H,W,3), got {img.shape}")
    h, w = img.shape[:2]

    qt_l = _quality_scale(_QT_LUMA, quality)
    qt_c = _quality_scale(_QT_CHROMA, quality)
    sub = 2 if (subsampling == "420" and not gray) else 1

    if gray:
        planes = [(_pad_to(img.astype(np.float64), 8, 8), qt_l, 0)]
        hv = [(1, 1)]
    else:
        rgb = img.astype(np.float64)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = 128.0 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2]
        cr = 128.0 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2]
        if sub == 2:
            cbp = _pad_to(cb, 2, 2)
            crp = _pad_to(cr, 2, 2)
            cb = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean((1, 3))
            cr = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean((1, 3))
        planes = [
            (_pad_to(y, 8 * sub, 8 * sub), qt_l, 0),
            (_pad_to(cb, 8, 8), qt_c, 1),
            (_pad_to(cr, 8, 8), qt_c, 1),
        ]
        hv = [(sub, sub), (1, 1), (1, 1)]

    dc_enc = [_build_encode_table(*_DC_LUMA), _build_encode_table(*_DC_CHROMA)]
    ac_enc = [_build_encode_table(*_AC_LUMA), _build_encode_table(*_AC_CHROMA)]

    wr = _BitWriter()
    preds = [0] * len(planes)
    mcux = -(-w // (8 * hv[0][0]))
    mcuy = -(-h // (8 * hv[0][1]))
    mcu_done = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_done and mcu_done % restart_interval == 0:
                wr.flush()
                n = ((mcu_done // restart_interval) - 1) & 7
                wr.out += bytes([0xFF, 0xD0 + n])
                preds = [0] * len(planes)
            mcu_done += 1
            for ci, (plane, qt, tsel) in enumerate(planes):
                ch, cv = hv[ci]
                for vi in range(cv):
                    for hi in range(ch):
                        ty = (my * cv + vi) * 8
                        tx = (mx * ch + hi) * 8
                        preds[ci] = _encode_block(
                            wr,
                            plane[ty : ty + 8, tx : tx + 8],
                            qt,  # natural order, like the coefficients
                            dc_enc[tsel],
                            ac_enc[tsel],
                            preds[ci],
                        )
    wr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if not omit_tables:
        out += _table_segments(quality, gray)
    nf = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nf)
    for i, (ch, cv) in enumerate(hv):
        sof += bytes([i + 1, (ch << 4) | cv, 0 if i == 0 else 1])
    out += seg(0xC0, sof)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nf])
    for i in range(nf):
        tsel = 0 if i == 0 else 1
        sos += bytes([i + 1, (tsel << 4) | tsel])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += wr.out
    out += b"\xff\xd9"
    return bytes(out)
