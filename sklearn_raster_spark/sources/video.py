"""Dependency-free MJPEG-in-AVI video codec for the multimodal path.

The multimodal surface's video operators (frame sampling, q81) worked
on synthetic payloads; this module makes the container step REAL with
the simplest ubiquitous video format — Motion-JPEG inside the RIFF/AVI
container (the public Microsoft AVI RIFF spec + ITU-T T.81 frames via
sources/jpeg.py). Same pattern as sources/tiff.py: written straight
from the public specs, no cv2/ffmpeg required.

- ``encode_mjpeg_avi``: (N, H, W) uint8 grayscale frames -> a valid
  AVI (hdrl with avih/strh/strf, movi with one 00dc chunk per frame,
  idx1 index), each frame a quality-100 baseline JPEG.
- ``decode_mjpeg_avi``: walks RIFF chunks (including LIST rec
  groupings inside movi), decodes every ##dc/##db frame through
  decode_jpeg. MJPEG's DHT-less convention is handled by seeding each
  frame with the Annex K default Huffman tables — frames that carry
  their own tables override them, frames that omit them (the common
  hardware-MJPEG shape) still decode.

Decode runs on EXECUTORS inside mapInArrow — one payload per call.
"""

from __future__ import annotations

import struct

import numpy as np

from sklearn_raster_spark.sources._contract import codec_errors
from sklearn_raster_spark.sources.jpeg import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_huffman_tables,
)


def _chunk(tag: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""  # RIFF chunks word-align
    return tag + struct.pack("<I", len(payload)) + payload + pad


def _list(kind: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", kind + payload)


def encode_mjpeg_avi(frames: np.ndarray, fps: int = 10) -> bytes:
    """Encode (N, H, W) uint8 grayscale frames as an MJPG AVI with
    quality-100 baseline JPEG frames (DCT rounding is the only loss)."""
    frames = np.asarray(frames)
    if frames.dtype != np.uint8 or frames.ndim != 3 or 0 in frames.shape:
        raise ValueError(
            f"encode_mjpeg_avi expects uint8 (N, H, W), got {frames.dtype} "
            f"{frames.shape}"
        )
    n, h, w = frames.shape
    jpegs = [encode_jpeg(f, quality=100) for f in frames]

    avih = struct.pack(
        "<14I",
        1_000_000 // max(fps, 1), 0, 0, 0x10,  # AVIF_HASINDEX
        n, 0, 1, max(map(len, jpegs)), w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIiI4h",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, max(fps, 1), 0, n,
        max(map(len, jpegs)), -1, 0, 0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )

    movi_payload = bytearray()
    idx = bytearray()
    for j in jpegs:
        # idx1 offsets point at the chunk id, relative to the 'movi'
        # fourcc (the de-facto convention)
        idx += b"00dc" + struct.pack("<III", 0x10, 4 + len(movi_payload), len(j))
        movi_payload += _chunk(b"00dc", j)
    movi = _list(b"movi", bytes(movi_payload))
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _iter_frames(buf: bytes, pos: int, end: int):
    """Yield JPEG payloads from ##dc/##db chunks, descending into
    LIST rec groupings (interleaved AVIs nest frames there)."""
    while pos + 8 <= end:
        tag = buf[pos : pos + 4]
        (length,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        payload_end = pos + 8 + length
        if payload_end > end:
            raise ValueError("AVI: chunk overruns its parent list")
        if tag == b"LIST":
            yield from _iter_frames(buf, pos + 12, payload_end)
        elif tag[2:4] in (b"dc", b"db"):
            yield buf[pos + 8 : payload_end]
        pos = payload_end + (length % 2)


# MJPEG frames conventionally omit DHT; seed the Annex K defaults
_MJPEG_DEFAULT_TABLES = None


@codec_errors("AVI")
def decode_mjpeg_avi(data: bytes) -> np.ndarray:
    """Decode an MJPEG AVI to (N, H, W) uint8 (grayscale frames) or
    (N, H, W, 3) (color). All frames must share one geometry."""
    global _MJPEG_DEFAULT_TABLES
    data = bytes(data)
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    if _MJPEG_DEFAULT_TABLES is None:
        # Huffman-ONLY seed: the MJPEG DHT-less convention covers
        # Huffman tables, never quantization — a frame missing its DQT
        # must raise in _finalize, not decode with arbitrary defaults.
        _MJPEG_DEFAULT_TABLES = encode_jpeg_huffman_tables()
    frames = []
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if tag == b"LIST" and data[pos + 8 : pos + 12] == b"movi":
            frames.extend(
                decode_jpeg(j, tables=_MJPEG_DEFAULT_TABLES)
                for j in _iter_frames(data, pos + 12, pos + 8 + length)
            )
        pos += 8 + length + (length % 2)
    if not frames:
        raise ValueError("AVI: no movi frames found")
    if any(f.shape != frames[0].shape for f in frames):
        raise ValueError("AVI: frames disagree on geometry")
    return np.stack(frames)
