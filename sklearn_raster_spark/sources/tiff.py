"""Dependency-free baseline-TIFF codec for single-band grids.

The reference ingests per-band GeoTIFFs via rasterio
(reference ``datasets/_base.py:71-104``); this container ships no
rasterio/GDAL, so the ``.tif`` branch of the raster source used to be
an env-gated skip. This module removes the gate for the format subset
real pipelines hit — single-band classic TIFF 6.0, stripped or tiled,
uncompressed or Deflate — implemented straight from the
public Adobe TIFF 6.0 specification plus GDAL's two public metadata
tags (GDAL_METADATA=42112, GDAL_NODATA=42113, the convention every
GDAL-written GeoTIFF uses for band descriptions and fill values).

Scope, deliberately narrow:

- ``write_gtiff``: one 2-D numpy grid -> a valid little-endian
  classic TIFF (single strip, chunky, uncompressed) that rasterio /
  GDAL / Pillow can read, with optional band tags and nodata.
- ``read_gtiff``: classic TIFF or BigTIFF -> (grid, {"nodata",
  "tags"}). Understands both byte orders, multi-strip AND tiled
  organization (TIFF 6.0 §15 — the GDAL TILED=YES layout, edge tiles
  cropped), BigTIFF's 8-byte offset layout (version 43 — GDAL
  BIGTIFF=YES), all integer / float sample formats, Deflate
  compression (compression 8 and legacy 32946 — plain zlib per
  strip/tile, stdlib), LZW (TIFF §13 variant with early change),
  new-style JPEG-in-TIFF (compression 7 + JPEGTables, via
  sources/jpeg.py), and the horizontal-differencing predictor (§14),
  the floating-point predictor (TechNote 3), and PackBits RLE (§9).
  Anything beyond (old-style JPEG 6, multi-sample/color) raises
  ``NotImplementedError`` with a pointer to rasterio — the raster
  source falls back to rasterio automatically when the environment
  provides it.

Decode runs on EXECUTORS inside the raster source's mapInArrow, so
it allocates only the one grid it returns — no driver involvement.
"""

from __future__ import annotations

import re
import struct
from xml.sax.saxutils import escape, unescape

import numpy as np

from sklearn_raster_spark.sources._contract import check_plausible, codec_errors

# -- tag ids (TIFF 6.0 §8; GDAL tags are registered public extensions)
_TAG_WIDTH = 256
_TAG_HEIGHT = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_PHOTOMETRIC = 262
_TAG_STRIP_OFFSETS = 273
_TAG_SPP = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279
_TAG_PLANAR = 284
_TAG_SAMPLE_FORMAT = 339
_TAG_GDAL_METADATA = 42112
_TAG_GDAL_NODATA = 42113

# (bits, sample_format) -> numpy dtype char; sample_format per TIFF
# §19: 1=unsigned, 2=signed, 3=IEEE float
_DTYPE_OF = {
    (8, 1): "u1",
    (16, 1): "u2",
    (32, 1): "u4",
    (64, 1): "u8",
    (8, 2): "i1",
    (16, 2): "i2",
    (32, 2): "i4",
    (64, 2): "i8",
    (32, 3): "f4",
    (64, 3): "f8",
}
_SAMPLE_FORMAT_OF_KIND = {"u": 1, "i": 2, "f": 3}

_TYPE_SIZE = {
    1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8,
    # BigTIFF (Adobe/AWare BigTIFF spec): LONG8 / SLONG8 / IFD8
    16: 8, 17: 8, 18: 8,
}
_TYPE_FMT = {
    1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f", 12: "d",
    16: "Q", 17: "q", 18: "Q",
}

_ITEM_RE = re.compile(r'<Item\s+name="([^"]*)"[^>]*>(.*?)</Item>', re.S)


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing, ClearCode
    256 / EOI 257, dictionary codes from 258, and the spec's "early
    change" — the code width bumps when the NEXT code to be assigned
    would be 2**width - 1 (one code earlier than plain LZW). Pure
    Python: decode runs on executors over one strip/tile at a time, and
    rasterio is preferred whenever the environment provides it; this
    path exists so LZW GeoTIFFs are readable dependency-free at all."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    nbits, bitpos, nbytes8 = 9, 0, len(data) * 8
    table: list[bytes] = []
    prev: bytes | None = None
    while bitpos + nbits <= nbytes8:
        byte, shift = bitpos >> 3, bitpos & 7
        window = int.from_bytes(data[byte : byte + 3].ljust(3, b"\x00"), "big")
        code = (window >> (24 - shift - nbits)) & ((1 << nbits) - 1)
        bitpos += nbits
        if code == EOI:
            break
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            nbits, prev = 9, None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError(f"LZW: first code {code} before any CLEAR")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"LZW: code {code} beyond table size {len(table)}")
        out += entry
        prev = entry
        # early change (TIFF §13): the DECODER's table lags the
        # encoder's by one entry (it can't build the just-emitted
        # code's entry until the next code arrives), so it must widen
        # at 2**nbits - 2 — one code earlier than the encoder's
        # 2**nbits - 1 boundary — to stay bit-synchronized
        if len(table) == (1 << nbits) - 2 and nbits < 12:
            nbits += 1
    return bytes(out)


def _undo_float_predictor(raw: bytes, rows: int, width: int, dt: str) -> "np.ndarray":
    """Predictor 3 (TIFF TechNote 3, floating-point horizontal
    differencing — GDAL PREDICTOR=3 for float rasters, e.g. DEMs):
    the encoder splits each segment row into ``itemsize`` byte planes
    of the samples' BIG-ENDIAN representation (independent of the
    file's byte order), concatenates the planes, then byte-differences
    the whole row. Decode = per-row byte cumulative sum (mod 256),
    de-plane, reassemble big-endian samples."""
    itemsize = np.dtype(dt).itemsize
    b = np.frombuffer(raw, np.uint8, count=rows * width * itemsize).reshape(
        rows, width * itemsize
    )
    b = np.add.accumulate(b, axis=1, dtype=np.uint8)
    planes = b.reshape(rows, itemsize, width).transpose(0, 2, 1)
    seg = np.ascontiguousarray(planes).reshape(rows, width * itemsize)
    return seg.view(np.dtype(">" + dt)).astype(dt, copy=False)


def _packbits_decode(data: bytes) -> bytes:
    """PackBits RLE (TIFF 6.0 §9, the Macintosh scheme): control byte
    n in [0, 127] copies the next n+1 literals, n in [-127, -1]
    (stored two's-complement) repeats the next byte 1-n times, and
    -128 is a no-op. Segments (strips/tiles) decode independently."""
    out = bytearray()
    i, end = 0, len(data)
    while i < end:
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1 bytes
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:  # replicate next byte 257-n times (1 - (n-256))
            out += data[i : i + 1] * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out)


def _undo_horizontal_predictor(grid: "np.ndarray") -> "np.ndarray":
    """Predictor 2 (TIFF 6.0 §14, horizontal differencing): each stored
    sample is the delta to its left neighbour; reconstruction is a
    per-row cumulative sum with the dtype's natural wraparound.
    Differencing is per SEGMENT row: strips span full image rows, so
    the strip branch applies this to the assembled grid, but a TILE
    splits rows horizontally (each tile row restarts from an absolute
    sample), so the tiled branch applies it per tile BEFORE
    placement."""
    if grid.dtype.kind not in ("u", "i"):
        raise NotImplementedError(
            "predictor 2 on non-integer samples needs rasterio "
            "(floating-point predictor is predictor 3)"
        )
    u = grid.view(np.dtype(f"u{grid.dtype.itemsize}"))
    return np.add.accumulate(u, axis=1, dtype=u.dtype).view(grid.dtype)


def write_gtiff(
    path: str,
    grid: np.ndarray,
    *,
    nodata: float | None = None,
    tags: dict[str, str] | None = None,
    compress: str | None = None,
    bigtiff: bool = False,
) -> None:
    """Write one 2-D grid as a single-strip little-endian TIFF.
    ``tags`` land in GDAL_METADATA as band-1 items (the exact XML shape
    GDAL writes for ``update_tags(1, ...)``); ``nodata`` lands in
    GDAL_NODATA. ``compress="deflate"`` zlib-compresses the strip
    (TIFF compression 8, Adobe Deflate — zlib is stdlib so it costs no
    dependency; GDAL/rasterio read it as COMPRESS=DEFLATE).
    ``bigtiff=True`` writes the BigTIFF layout (version 43, 8-byte
    offsets, 20-byte IFD entries — what GDAL emits for BIGTIFF=YES /
    rasters past 4 GiB); grids here never need it, but it gives the
    reader's BigTIFF branch a dependency-free round-trip."""
    grid = np.ascontiguousarray(grid)
    if grid.ndim != 2:
        raise ValueError(f"expected a 2-D grid, got shape {grid.shape}")
    key = (grid.dtype.itemsize * 8, _SAMPLE_FORMAT_OF_KIND.get(grid.dtype.kind))
    if key not in _DTYPE_OF:
        raise ValueError(f"unsupported grid dtype {grid.dtype}")
    if compress not in (None, "deflate"):
        raise ValueError(f"unsupported compress={compress!r} (builtin: deflate)")
    bits, fmt = key
    h, w = grid.shape
    data = grid.astype(np.dtype("<" + _DTYPE_OF[key]), copy=False).tobytes()
    if compress == "deflate":
        import zlib

        data = zlib.compress(data, 6)

    # (tag, type, count, inline-int-or-None) — ascii payloads resolved
    # to offsets once the IFD size is known
    fields: list[tuple[int, int, int, int | None]] = [
        (_TAG_WIDTH, 4, 1, w),
        (_TAG_HEIGHT, 4, 1, h),
        (_TAG_BITS, 3, 1, bits),
        (_TAG_COMPRESSION, 3, 1, 8 if compress == "deflate" else 1),
        (_TAG_PHOTOMETRIC, 3, 1, 1),  # BlackIsZero
        (_TAG_STRIP_OFFSETS, 4, 1, None),  # patched below
        (_TAG_SPP, 3, 1, 1),
        (_TAG_ROWS_PER_STRIP, 4, 1, h),  # one strip
        (_TAG_STRIP_COUNTS, 4, 1, len(data)),
        (_TAG_PLANAR, 3, 1, 1),
        (_TAG_SAMPLE_FORMAT, 3, 1, fmt),
    ]
    ascii_fields: list[tuple[int, bytes]] = []
    if tags:
        xml = (
            "<GDALMetadata>\n"
            + "".join(
                f'  <Item name="{escape(str(k), {chr(34): "&quot;"})}"'
                f' sample="0">{escape(str(v))}</Item>\n'
                for k, v in sorted(tags.items())
            )
            + "</GDALMetadata>\n"
        )
        ascii_fields.append((_TAG_GDAL_METADATA, xml.encode() + b"\x00"))
    if nodata is not None:
        ascii_fields.append((_TAG_GDAL_NODATA, f"{float(nodata):.17g}".encode() + b"\x00"))

    n_entries = len(fields) + len(ascii_fields)
    if bigtiff:
        # BigTIFF: 16-byte header, 8-byte entry counts/offsets/next-IFD
        # pointers, 20-byte entries with an 8-byte value field
        ifd_offset, count_fmt, entry_head, vwidth = 16, "<Q", "<HHQ", 8
        off_type, off_fmt, next_fmt = 16, "Q", "<Q"
    else:
        ifd_offset, count_fmt, entry_head, vwidth = 8, "<H", "<HHI", 4
        off_type, off_fmt, next_fmt = 4, "I", "<I"
    # entry = tag + type + per-entry count + value field; the IFD's
    # n_entries prefix is a separate, SMALLER field (H classic / Q big)
    entry_size = struct.calcsize(entry_head) + vwidth
    payload_offset = (
        ifd_offset
        + struct.calcsize(count_fmt)
        + entry_size * n_entries
        + struct.calcsize(next_fmt)
    )
    payloads = bytearray()
    entries: list[tuple[int, bytes]] = []

    def pack_value(typ: int, val: int) -> bytes:
        fmt = {3: "<H", 4: "<I", 16: "<Q"}[typ]
        return struct.pack(fmt, val).ljust(vwidth, b"\x00")

    for tag, typ, count, val in fields:
        if tag == _TAG_STRIP_OFFSETS:
            continue  # placeholder; appended after data_offset is known
        entries.append(
            (tag, struct.pack(entry_head, tag, typ, count) + pack_value(typ, val))
        )
    for tag, raw in ascii_fields:
        if len(raw) <= vwidth:
            entries.append(
                (
                    tag,
                    struct.pack(entry_head, tag, 2, len(raw))
                    + raw.ljust(vwidth, b"\x00"),
                )
            )
        else:
            entries.append(
                (
                    tag,
                    struct.pack(entry_head, tag, 2, len(raw))
                    + struct.pack("<" + off_fmt, payload_offset + len(payloads)),
                )
            )
            payloads += raw
            if len(payloads) % 2:  # TIFF values start on word boundaries
                payloads += b"\x00"
    data_offset = payload_offset + len(payloads)
    entries.append(
        (
            _TAG_STRIP_OFFSETS,
            struct.pack(entry_head, _TAG_STRIP_OFFSETS, off_type, 1)
            + pack_value(off_type, data_offset),
        )
    )
    entries.sort()  # IFD entries must be in ascending tag order (§2)

    with open(path + ".tmp.tif", "wb") as f:
        if bigtiff:
            # magic 43, offset size 8, reserved 0, 8-byte first-IFD ptr
            f.write(b"II" + struct.pack("<HHHQ", 43, 8, 0, ifd_offset))
        else:
            f.write(b"II" + struct.pack("<HI", 42, ifd_offset))
        f.write(struct.pack(count_fmt, n_entries))
        for _, e in entries:
            f.write(e)
        f.write(struct.pack(next_fmt, 0))  # no next IFD
        f.write(payloads)
        f.write(data)
    import os

    os.replace(path + ".tmp.tif", path)


@codec_errors("TIFF")
def read_gtiff(path: str) -> tuple[np.ndarray, dict]:
    """Decode a baseline/compressed TIFF (classic or BigTIFF, stripped
    or tiled) to (grid, info) where info is ``{"nodata": float | None,
    "tags": {name: value}}`` parsed from the GDAL metadata tags.
    Raises ``NotImplementedError`` for JPEG-in-TIFF (rasterio
    territory)."""
    with open(path, "rb") as f:
        buf = f.read()
    bo = {b"II": "<", b"MM": ">"}.get(buf[:2])
    if bo is None:
        raise ValueError(f"{path}: not a TIFF (bad byte-order mark)")
    (magic,) = struct.unpack(bo + "H", buf[2:4])
    if magic == 43:
        # BigTIFF: 2-byte offset size (always 8) + 2 reserved zero
        # bytes, then an 8-byte pointer to the first IFD; IFD entry
        # counts and next-IFD pointers are 8 bytes, entries are 20
        # bytes (tag H, type H, count Q, value/offset 8 bytes)
        osize, zero = struct.unpack(bo + "HH", buf[4:8])
        if osize != 8 or zero != 0:
            raise ValueError(f"{path}: malformed BigTIFF header ({osize}, {zero})")
        (ifd_off,) = struct.unpack(bo + "Q", buf[8:16])
        (n_entries,) = struct.unpack(bo + "Q", buf[ifd_off : ifd_off + 8])
        entry_base, entry_size, cnt_fmt, off_fmt, vwidth = (
            ifd_off + 8, 20, "Q", "Q", 8,
        )
    elif magic == 42:
        (ifd_off,) = struct.unpack(bo + "I", buf[4:8])
        (n_entries,) = struct.unpack(bo + "H", buf[ifd_off : ifd_off + 2])
        entry_base, entry_size, cnt_fmt, off_fmt, vwidth = (
            ifd_off + 2, 12, "I", "I", 4,
        )
    else:
        raise ValueError(f"{path}: not a TIFF (magic {magic})")

    raw_tags: dict[int, object] = {}
    if n_entries * entry_size > len(buf):
        raise ValueError(f"{path}: IFD declares more entries than the file holds")
    for i in range(n_entries):
        e = buf[entry_base + entry_size * i : entry_base + entry_size * (i + 1)]
        tag, typ = struct.unpack(bo + "HH", e[:4])
        (count,) = struct.unpack(bo + cnt_fmt, e[4 : entry_size - vwidth])
        size = _TYPE_SIZE.get(typ, 1) * count
        if size > len(buf):
            raise ValueError(f"{path}: tag {tag} value overruns the file")
        vfield = e[entry_size - vwidth :]
        if size <= vwidth:
            raw = vfield[:size]
        else:
            (voff,) = struct.unpack(bo + off_fmt, vfield)
            raw = buf[voff : voff + size]
        if typ == 2:
            raw_tags[tag] = raw.split(b"\x00")[0].decode("utf-8", "replace")
        elif typ == 7:
            raw_tags[tag] = raw  # UNDEFINED: raw bytes (JPEGTables et al)
        elif typ in _TYPE_FMT:
            raw_tags[tag] = list(struct.unpack(bo + _TYPE_FMT[typ] * count, raw))
        # RATIONAL values are not needed for grid decode

    def one(tag: int, default=None):
        v = raw_tags.get(tag)
        if v is None:
            return default
        return v[0] if isinstance(v, list) else v

    compression = one(_TAG_COMPRESSION, 1)
    if compression not in (1, 5, 7, 8, 32773, 32946):
        # 5 = LZW, 7 = new-style JPEG, 8 = Adobe Deflate, 32773 =
        # PackBits, 32946 = legacy Deflate; old-style JPEG (6) stays
        # rasterio-only
        raise NotImplementedError(
            f"{path}: compression {compression} needs rasterio; builtin "
            "decoder reads uncompressed, LZW, JPEG, Deflate and PackBits "
            "segments"
        )
    predictor = one(317, 1)  # 1 = none, 2 = horizontal, 3 = floating
    if predictor not in (1, 2, 3):
        raise NotImplementedError(
            f"{path}: predictor {predictor} needs rasterio (builtin: "
            "none / horizontal / floating-point differencing)"
        )
    if one(_TAG_SPP, 1) != 1:
        raise NotImplementedError(
            f"{path}: multi-sample TIFF needs rasterio; builtin decoder is single-band"
        )
    w, h = one(_TAG_WIDTH), one(_TAG_HEIGHT)
    if not isinstance(w, int) or not isinstance(h, int):
        # a corrupt type field can parse dimension tags as floats
        raise ValueError(f"{path}: non-integer image dimensions")
    bits, fmt = one(_TAG_BITS, 8), one(_TAG_SAMPLE_FORMAT, 1)
    dt = _DTYPE_OF.get((bits, fmt))
    if w is None or h is None or dt is None:
        raise ValueError(f"{path}: unsupported sample layout (bits={bits}, fmt={fmt})")
    check_plausible(int(w) * int(h), "TIFF")  # before grid allocation
    if compression == 7 and dt != "u1":
        raise NotImplementedError(
            f"{path}: JPEG-in-TIFF carries 8-bit samples; bits={bits}, "
            f"fmt={fmt} needs rasterio"
        )
    jpeg_tables = raw_tags.get(347)  # TIFF supplement 2: shared tables

    def inflate(raw: bytes) -> bytes:
        if compression == 1:
            return raw
        if compression == 5:
            return _lzw_decode(raw)
        if compression == 7:
            # new-style JPEG (TIFF supplement 2): each strip/tile is a
            # full or abbreviated baseline stream; tag 347 holds the
            # shared DQT/DHT prelude when abbreviated
            from sklearn_raster_spark.sources.jpeg import decode_jpeg

            arr = decode_jpeg(
                raw,
                tables=jpeg_tables
                if isinstance(jpeg_tables, (bytes, bytearray))
                else None,
            )
            if arr.ndim != 2:
                raise NotImplementedError(
                    f"{path}: color JPEG-in-TIFF needs rasterio; the "
                    "builtin raster codec is single-band"
                )
            return arr.tobytes()
        if compression == 32773:
            return _packbits_decode(raw)
        import zlib

        return zlib.decompress(raw)

    if 322 in raw_tags or 324 in raw_tags:
        # Tiled organization (TIFF 6.0 §15): the image is covered by a
        # row-major grid of fixed-size tiles, each stored (and, under
        # Deflate, compressed) independently; edge tiles are padded to
        # full tile size and cropped on read. This is the layout GDAL
        # writes for large rasters (TILED=YES) — together with the
        # Deflate branch it covers the common compressed+tiled GeoTIFF.
        tw, tl = one(322), one(323)  # TileWidth / TileLength
        offsets = raw_tags.get(324)
        counts = raw_tags.get(325)
        if not tw or not tl or not offsets or not counts or len(offsets) != len(counts):
            raise ValueError(f"{path}: missing or inconsistent tile tables")
        if not all(
            isinstance(v, int) for v in (tw, tl, *offsets, *counts)
        ):
            raise ValueError(f"{path}: non-integer tile tables")
        across = -(-w // tw)
        down = -(-h // tl)
        if len(offsets) != across * down:
            raise ValueError(
                f"{path}: {len(offsets)} tiles for a {across}x{down} tile grid"
            )
        grid = np.empty((h, w), dtype=dt)
        for t, (o, c) in enumerate(zip(offsets, counts)):
            ty, tx = divmod(t, across)
            raw_seg = inflate(buf[o : o + c])
            if predictor == 3:
                tile = _undo_float_predictor(raw_seg, tl, tw, dt)
            else:
                tile = (
                    np.frombuffer(raw_seg, dtype=np.dtype(bo + dt),
                                  count=tl * tw)
                    .reshape(tl, tw)
                )
            if predictor == 2:
                # per-tile: each tile row begins with an absolute
                # sample — a full-grid cumsum would misread it as a
                # delta from the previous tile's last column
                tile = _undo_horizontal_predictor(tile)
            rows = min(h - ty * tl, tl)
            cols = min(w - tx * tw, tw)
            grid[ty * tl : ty * tl + rows, tx * tw : tx * tw + cols] = (
                tile[:rows, :cols]
            )
    else:
        offsets = raw_tags.get(_TAG_STRIP_OFFSETS)
        counts = raw_tags.get(_TAG_STRIP_COUNTS)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError(f"{path}: missing or inconsistent strip tables")
        if not all(isinstance(v, int) for v in (*offsets, *counts)):
            raise ValueError(f"{path}: non-integer strip tables")
        data = b"".join(inflate(buf[o : o + c]) for o, c in zip(offsets, counts))
        if predictor == 3:
            # strips hold whole image rows and the transform is
            # row-local, so the assembled bytes decode in one pass
            grid = _undo_float_predictor(data, h, w, dt)
        else:
            grid = (
                np.frombuffer(data, dtype=np.dtype(bo + dt), count=h * w)
                .reshape(h, w)
                .astype(dt, copy=False)  # native order for downstream numpy
            )

    if predictor == 2 and not (322 in raw_tags or 324 in raw_tags):
        # strips span full image rows, so the assembled grid is
        # segment-faithful; tiles were undone per tile above
        grid = _undo_horizontal_predictor(grid)

    nodata = None
    if _TAG_GDAL_NODATA in raw_tags:
        try:
            nodata = float(str(raw_tags[_TAG_GDAL_NODATA]).strip())
        except ValueError:
            nodata = None
    tags: dict[str, str] = {}
    xml = raw_tags.get(_TAG_GDAL_METADATA)
    if isinstance(xml, str):
        # saxutils.unescape only decodes &amp;/&lt;/&gt; by default;
        # write_gtiff escapes quotes too, so decode them symmetrically
        # or a quote in a tag name reads back as literal entity text.
        _quotes = {"&quot;": '"', "&apos;": "'"}
        for name, value in _ITEM_RE.findall(xml):
            tags[unescape(name, _quotes)] = unescape(value.strip(), _quotes)
    return grid, {"nodata": nodata, "tags": tags}
