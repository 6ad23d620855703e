"""Dependency-free WAV (RIFF PCM) and FLAC codecs for the multimodal
audio path.

Mirrors sources/tiff.py and sources/image.py: the container ships no
soundfile/librosa, so the reader/writer below implement the public
RIFF/WAVE specification directly and ``decode_audio`` prefers
soundfile when the environment provides it. Scope:

- ``encode_wav``: mono/multichannel PCM — uint8 (8-bit), int16,
  int32, or float32 (IEEE-float format 3) samples.
- ``decode_wav``: walks RIFF chunks (skipping LIST/INFO/fact and any
  other metadata), reads PCM 8/16/24/32-bit, float32, and the G.711
  companded formats (a-law 6, mu-law 7 — expanded to int16 via the
  public CCITT reference curves); returns ``(samples, sample_rate)``
  with samples shaped (n,) for mono or (n, channels) otherwise.
  Compressed formats (MP3-in-WAV, ADPCM) raise
  ``NotImplementedError`` with a pointer to soundfile.
- ``decode_flac``: FLAC (RFC 9639) — CONSTANT/VERBATIM/FIXED/LPC
  subframes, Rice/Rice2 residuals with escape partitions, stereo
  decorrelation (left/side, side/right, mid/side), wasted bits,
  8-32-bit depths, fixed and variable blocking.

Decode runs on EXECUTORS inside mapInArrow kernels — payload bytes
never visit the driver.
"""

from __future__ import annotations

import struct

import numpy as np

from sklearn_raster_spark.sources._contract import codec_errors

# (format code, bits) -> numpy dtype. Format 1 = integer PCM (8-bit is
# unsigned, wider widths signed, per the spec); format 3 = IEEE float.
_WAV_DTYPE = {
    (1, 8): np.uint8,
    (1, 16): np.int16,
    (1, 32): np.int32,
    (3, 32): np.float32,
}
_WAVE_FORMAT_EXTENSIBLE = 0xFFFE


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """256-entry expansion tables for G.711 a-law and mu-law, computed
    from the public CCITT reference curves (the classic g711.c
    formulas). Returns (alaw_to_int16, ulaw_to_int16)."""
    codes = np.arange(256, dtype=np.int64)

    a = codes ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
    # in A-law the 0x80 bit SET means positive
    alaw = np.where(a & 0x80, t, -t).astype(np.int16)

    u = ~codes & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    ulaw = np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)
    return alaw, ulaw


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode samples as a canonical RIFF/WAVE file. Sample dtype picks
    the wire format: uint8 -> 8-bit PCM, int16/int32 -> PCM,
    float32 -> IEEE float. Shape (n,) is mono; (n, ch) interleaves."""
    samples = np.ascontiguousarray(samples)
    fmt_of = {np.dtype(np.uint8): 1, np.dtype(np.int16): 1,
              np.dtype(np.int32): 1, np.dtype(np.float32): 3}
    fmt = fmt_of.get(samples.dtype)
    if fmt is None:
        raise ValueError(f"unsupported sample dtype {samples.dtype}")
    if samples.ndim == 1:
        ch = 1
    elif samples.ndim == 2 and samples.shape[1] >= 1:
        ch = samples.shape[1]
    else:
        raise ValueError(f"unsupported sample shape {samples.shape}")
    bits = samples.dtype.itemsize * 8
    block = ch * samples.dtype.itemsize
    data = samples.astype(samples.dtype.newbyteorder("<"), copy=False).tobytes()
    fmt_chunk = struct.pack(
        "<HHIIHH", fmt, ch, sample_rate, sample_rate * block, block, bits
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt_chunk)) + fmt_chunk
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) % 2 else b"")  # RIFF chunks are word-aligned
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


@codec_errors("WAV")
def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a RIFF/WAVE payload to (samples, sample_rate). Mono
    returns shape (n,); multichannel (n, channels). Dtype follows the
    wire format (uint8 / int16 / int32 / float32)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt_fields, pcm = 12, None, None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"fmt ":
            if length < 16:
                raise ValueError("malformed fmt chunk")
            fmt_fields = struct.unpack("<HHIIHH", payload[:16])
            # WAVE_FORMAT_EXTENSIBLE wraps the real code in the
            # 16-byte SubFormat GUID (first 2 bytes, per the spec)
            if fmt_fields[0] == _WAVE_FORMAT_EXTENSIBLE and length >= 40:
                (sub,) = struct.unpack("<H", payload[24:26])
                fmt_fields = (sub,) + fmt_fields[1:]
        elif tag == b"data":
            pcm = payload
        pos += 8 + length + (length % 2)  # chunks are word-aligned
    if fmt_fields is None or pcm is None:
        raise ValueError("WAV missing fmt/data chunk")
    fmt, ch, rate, _byterate, _block, bits = fmt_fields
    if fmt in (6, 7) and bits == 8:  # G.711 a-law / mu-law
        alaw, ulaw = _g711_tables()
        table = alaw if fmt == 6 else ulaw
        samples = table[np.frombuffer(pcm, dtype=np.uint8)]
        n = len(samples) // ch
        samples = samples[: n * ch]
        return (samples if ch == 1 else samples.reshape(n, ch)), rate
    if fmt == 1 and bits == 24:  # packed 3-byte little-endian PCM
        n3 = (len(pcm) // (3 * ch)) * 3 * ch
        b = np.frombuffer(pcm, dtype=np.uint8, count=n3).reshape(-1, 3)
        v = (
            b[:, 0].astype(np.int32)
            | (b[:, 1].astype(np.int32) << 8)
            | (b[:, 2].astype(np.int32) << 16)
        )
        samples = np.where(v & 0x800000, v - (1 << 24), v).astype(np.int32)
        n = len(samples) // ch
        return (samples if ch == 1 else samples.reshape(n, ch)), rate
    dt = _WAV_DTYPE.get((fmt, bits))
    if dt is None:
        raise NotImplementedError(
            f"WAV format {fmt} ({bits}-bit) needs soundfile; builtin "
            "decoder reads PCM 8/16/24/32-bit, float32, and G.711 "
            "a-law/mu-law"
        )
    itemsize = np.dtype(dt).itemsize
    n = len(pcm) // (itemsize * ch)
    samples = np.frombuffer(pcm, dtype=np.dtype(dt).newbyteorder("<"),
                            count=n * ch).astype(dt, copy=False)
    return (samples if ch == 1 else samples.reshape(n, ch)), rate


class _FlacBits:
    """MSB-first bit reader for FLAC frame decoding (RFC 9639)."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.bitpos = pos * 8

    def read(self, n: int) -> int:
        end = self.bitpos + n
        if end > len(self.buf) * 8:
            raise ValueError("FLAC: bitstream truncated")
        byte0 = self.bitpos >> 3
        nbytes = ((end + 7) >> 3) - byte0
        window = int.from_bytes(self.buf[byte0 : byte0 + nbytes], "big")
        v = (window >> (nbytes * 8 - (self.bitpos & 7) - n)) & ((1 << n) - 1)
        self.bitpos = end
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7


def _flac_utf8_number(br: _FlacBits) -> int:
    """The UTF-8-style coded frame/sample number (RFC 9639 §9.1.5)."""
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    while (b0 << n) & 0x80:
        n += 1
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        v = (v << 6) | (br.read(8) & 0x3F)
    return v


_FLAC_BLOCKSIZE = {1: 192, **{i: 576 << (i - 2) for i in range(2, 6)},
                   **{i: 256 << (i - 8) for i in range(8, 16)}}
_FLAC_RATE = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
              7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000}
_FLAC_BITS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _flac_residual(br: _FlacBits, n: int, order: int) -> list[int]:
    """Rice-coded residual (RFC 9639 §9.2.7): partitioned, zigzag."""
    method = br.read(2)
    if method > 1:
        raise ValueError(f"FLAC: reserved residual method {method}")
    pbits = 4 + method
    escape = (1 << pbits) - 1
    po = br.read(4)
    nparts = 1 << po
    if n % nparts:
        raise ValueError("FLAC: partition order does not divide block size")
    out: list[int] = []
    for p in range(nparts):
        count = n // nparts - (order if p == 0 else 0)
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            out.extend(br.read_signed(raw) if raw else 0 for _ in range(count))
        else:
            for _ in range(count):
                q = br.unary()
                u = (q << param) | (br.read(param) if param else 0)
                out.append((u >> 1) ^ -(u & 1))  # zigzag
    return out


def _flac_subframe(br: _FlacBits, n: int, bits: int) -> np.ndarray:
    """One channel's subframe (RFC 9639 §9.2): CONSTANT / VERBATIM /
    FIXED (orders 0-4) / LPC, with wasted-bits unpacking."""
    if br.read(1):
        raise ValueError("FLAC: subframe sync bit set")
    ftype = br.read(6)
    wasted = 0
    if br.read(1):  # wasted-bits flag: unary count - 1
        wasted = br.unary() + 1
        bits -= wasted
    if ftype == 0:  # CONSTANT
        out = np.full(n, br.read_signed(bits), np.int64)
    elif ftype == 1:  # VERBATIM
        out = np.array([br.read_signed(bits) for _ in range(n)], np.int64)
    elif 8 <= ftype <= 12:  # FIXED, order = ftype - 8
        order = ftype - 8
        warm = [br.read_signed(bits) for _ in range(order)]
        res = _flac_residual(br, n, order)
        out = np.empty(n, np.int64)
        out[:order] = warm
        # fixed predictors are the binomial recurrences (§9.2.5)
        coefs = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}[order]
        for i in range(order, n):
            out[i] = res[i - order] + sum(
                c * out[i - 1 - j] for j, c in enumerate(coefs)
            )
    elif ftype >= 32:  # LPC, order = (ftype & 31) + 1
        order = (ftype & 31) + 1
        warm = [br.read_signed(bits) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("FLAC: invalid LPC precision escape")
        shift = br.read_signed(5)
        coefs = [br.read_signed(precision) for _ in range(order)]
        res = _flac_residual(br, n, order)
        out = np.empty(n, np.int64)
        out[:order] = warm
        for i in range(order, n):
            acc = sum(c * int(out[i - 1 - j]) for j, c in enumerate(coefs))
            out[i] = res[i - order] + (acc >> shift)
    else:
        raise ValueError(f"FLAC: reserved subframe type {ftype}")
    return out << wasted


@codec_errors("FLAC")
def decode_flac(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a FLAC payload (RFC 9639) to (samples, sample_rate):
    subset covering what encoders actually emit — CONSTANT / VERBATIM /
    FIXED / LPC subframes, Rice and Rice2 residuals (escape partitions
    included), independent and left/right/mid-side stereo decorrelation,
    8/12/16/20/24/32-bit samples, fixed and variable blocking. Output
    dtype is int16 for depths <= 16, else int32; samples keep their
    NATIVE bit-depth range (a 24-bit stream spans +/-2^23 — no shift
    to full int32 scale, consistent with the 24-bit WAV path); mono
    (n,), multichannel (n, ch)."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("FLAC: truncated metadata block header")
        header = int.from_bytes(data[pos : pos + 4], "big")
        last, btype, length = header >> 31, (header >> 24) & 0x7F, header & 0xFFFFFF
        if btype == 0:
            streaminfo = data[pos + 4 : pos + 4 + length]
        pos += 4 + length
        if last:
            break
    if streaminfo is None or len(streaminfo) < 34:
        raise ValueError("FLAC: missing STREAMINFO")
    si = int.from_bytes(streaminfo[10:18], "big")
    rate = si >> 44
    n_channels = ((si >> 41) & 7) + 1
    s_bits = ((si >> 36) & 31) + 1
    total = si & ((1 << 36) - 1)

    chans: list[list[np.ndarray]] = [[] for _ in range(n_channels)]
    got = 0
    while pos < len(data) and (total == 0 or got < total):
        br = _FlacBits(data, pos)
        sync = br.read(14)
        if sync != 0x3FFE:
            raise ValueError(f"FLAC: lost frame sync at byte {pos}")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        rate_code = br.read(4)
        ch_code = br.read(4)
        bits_code = br.read(3)
        br.read(1)  # reserved
        _flac_utf8_number(br)
        if bs_code == 6:
            n = br.read(8) + 1
        elif bs_code == 7:
            n = br.read(16) + 1
        elif bs_code in _FLAC_BLOCKSIZE:
            n = _FLAC_BLOCKSIZE[bs_code]
        else:
            raise ValueError(f"FLAC: reserved block size code {bs_code}")
        if rate_code == 12:
            br.read(8)
        elif rate_code in (13, 14):
            br.read(16)
        bits = _FLAC_BITS.get(bits_code, s_bits)
        br.read(8)  # header CRC-8
        if ch_code < 8:
            if ch_code + 1 != n_channels:
                raise ValueError("FLAC: frame channel count != STREAMINFO")
            subs = [_flac_subframe(br, n, bits) for _ in range(n_channels)]
        elif ch_code in (8, 9, 10):  # stereo decorrelation; side has +1 bit
            if n_channels != 2:
                raise ValueError("FLAC: decorrelated frame in non-stereo stream")
            a = _flac_subframe(br, n, bits + (1 if ch_code == 9 else 0))
            b = _flac_subframe(br, n, bits + (1 if ch_code in (8, 10) else 0))
            if ch_code == 8:  # left/side
                subs = [a, a - b]
            elif ch_code == 9:  # side/right
                subs = [a + b, b]
            else:  # mid/side (§9.2.2: mid stored floor'd, lsb from side)
                side = b
                mid = (a << 1) | (side & 1)
                subs = [(mid + side) >> 1, (mid - side) >> 1]
        else:
            raise ValueError(f"FLAC: reserved channel assignment {ch_code}")
        br.align()
        br.read(16)  # frame CRC-16
        pos = br.bitpos >> 3
        for c in range(n_channels):
            chans[c].append(subs[c])
        got += n

    cols = [np.concatenate(c) if c else np.empty(0, np.int64) for c in chans]
    if total:
        cols = [c[:total] for c in cols]
    dt = np.int16 if s_bits <= 16 else np.int32
    samples = np.stack(cols, axis=-1).astype(dt)
    return (samples[:, 0] if n_channels == 1 else samples), rate


def decode_audio(payload: bytes, mime: str | None = None) -> tuple[np.ndarray, int]:
    """Decode an audio payload to (samples, sample_rate), preferring
    soundfile when the environment provides it (OGG/Vorbis coverage);
    the builtin WAV and FLAC readers are the dependency-free
    baseline."""
    if payload is None or len(payload) < 12:
        raise ValueError("empty audio payload")
    payload = bytes(payload)
    try:
        import io

        import soundfile  # optional, like rasterio in sources/raster.py

        samples, rate = soundfile.read(io.BytesIO(payload), dtype="float32")
        return samples, int(rate)
    except ImportError:
        pass
    except Exception:
        # soundfile rejects (sf.LibsndfileError/RuntimeError/...): fall
        # through to the builtin decoders, whose failure surfaces as the
        # codec-contract ValueError (sources/_contract.py)
        pass
    if payload[:4] == b"RIFF":
        return decode_wav(payload)
    if payload[:4] == b"fLaC":
        return decode_flac(payload)
    raise NotImplementedError(
        f"audio container (magic {payload[:4]!r}) needs soundfile; "
        "builtin codec reads RIFF/WAVE PCM and FLAC"
    )
