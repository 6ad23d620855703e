"""Dependency-free baseline image codecs (PNG / BMP / PPM-PGM).

The reference treats imagery as first-class ingest (rasterio for
GeoTIFF, reference ``datasets/_base.py:71-104``); the multimodal
surface here (operators/multimodal.py) additionally needs a REAL
image decode step so q152's binaryFile assets can flow end-to-end
into feature extraction. This container ships no Pillow/opencv, so —
exactly like sources/tiff.py — the decoders below are implemented
straight from the public specifications and prefer Pillow when the
environment provides it:

- PNG (ISO/IEC 15948): greyscale / grey+alpha / RGB / RGBA at 8 and
  16 bits (16-bit returns the high byte), palette images (PLTE +
  tRNS, depths 1/2/4/8), shallow greyscale (1/2/4-bit, scaled to
  full range), Adam7 interlace (seven independently-filtered passes
  scattered onto their lattices), zlib-inflated IDAT, all five
  scanline filters (None/Sub/Up/Average/Paeth) on decode; the
  encoder emits filter 0.
- BMP (Windows BITMAPINFOHEADER): uncompressed 24-bpp bottom-up
  BGR with 4-byte row padding — the universal interchange layout —
  plus 8-bpp palette images, raw or BI_RLE8 compressed.
- PPM/PGM (netpbm P5/P6): binary greyscale / RGB, maxval 255.
- JPEG (ITU-T T.81 baseline): delegated to sources/jpeg.py — the
  dependency-free Huffman+DCT codec.
- GIF (GIF87a/89a): first frame, LSB-first LZW, global/local color
  tables, transparency, interlace.

``decode_image`` sniffs the magic bytes, so the multimodal kernels
never need a trusted mime column. Decode runs on EXECUTORS inside
mapInArrow — each call allocates only the one array it returns.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from sklearn_raster_spark.sources._contract import check_plausible, codec_errors

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """Encode a uint8 array as PNG: (H, W) -> greyscale, (H, W, 2) ->
    grey+alpha, (H, W, 3) -> RGB, (H, W, 4) -> RGBA. Scanlines carry
    filter 0 (None) — decoders (ours, Pillow, browsers) accept any
    filter choice, and None keeps the bytes deterministic."""
    img = np.ascontiguousarray(img)
    if img.dtype != np.uint8:
        raise ValueError(f"encode_png expects uint8, got {img.dtype}")
    if img.ndim == 2:
        color, h, w = 0, img.shape[0], img.shape[1]
    elif img.ndim == 3 and img.shape[2] in (2, 3, 4):
        h, w = img.shape[:2]
        color = {2: 4, 3: 2, 4: 6}[img.shape[2]]
    else:
        raise ValueError(f"unsupported image shape {img.shape}")
    if h == 0 or w == 0:
        raise ValueError(f"empty image shape {img.shape}")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    stride = w * _PNG_CHANNELS[color]
    flat = img.reshape(h, stride)
    raw = b"".join(b"\x00" + flat[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_unfilter(raw: bytes, h: int, w: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline filters (PNG §9). Filters 0/1/2 are
    vectorized (None copies, Up adds the previous reconstructed row,
    Sub is a per-channel cumulative sum mod 256); Average and Paeth
    depend on the left RECONSTRUCTED byte, so they run the spec's
    sequential recurrence — our encoder never emits them, they exist
    to read foreign files."""
    stride = w * bpp
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG raw stream is {len(raw)} bytes, expected {h * (stride + 1)}"
        )
    arr = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for y in range(h):
        ft, line = int(arr[y, 0]), arr[y, 1:]
        if ft == 0:
            rec = line.copy()
        elif ft == 1:  # Sub: cumulative sum within each channel lane
            rec = line.reshape(w, bpp).cumsum(axis=0, dtype=np.uint64)
            rec = (rec % 256).astype(np.uint8).reshape(stride)
        elif ft == 2:  # Up
            rec = line + prev  # uint8 wraps mod 256, the spec arithmetic
        elif ft == 3:  # Average
            rec = np.empty(stride, np.uint8)
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                rec[x] = (int(line[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ft == 4:  # Paeth
            rec = np.empty(stride, np.uint8)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                c = int(prev[x - bpp]) if x >= bpp else 0
                rec[x] = (int(line[x]) + _paeth(a, int(prev[x]), c)) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ft} on row {y}")
        out[y] = rec
        prev = rec
    return out


def _unpack_subbyte(rows: np.ndarray, w: int, depth: int) -> np.ndarray:
    """Unpack 1/2/4-bit samples from filtered scanline bytes (PNG
    §7.2: MSB-first within each byte, rows padded to whole bytes)."""
    bits = np.unpackbits(rows, axis=1)
    groups = bits.reshape(rows.shape[0], -1, depth)
    weights = 1 << np.arange(depth - 1, -1, -1)
    return (groups * weights).sum(axis=2).astype(np.uint8)[:, :w]


def _png_row_bytes(w: int, depth: int, color: int) -> int:
    nch = 1 if color == 3 else _PNG_CHANNELS[color]
    return (w * depth * nch + 7) // 8


def _decode_samples(raw: bytes, w: int, h: int, depth: int, color: int) -> np.ndarray:
    """Filtered scanlines -> raw per-pixel samples for one (sub)image:
    (H, W) uint8 for greyscale / palette indices (sub-byte values NOT
    yet scaled), (H, W, C) for multi-channel; 16-bit keeps the high
    byte. Shared by the sequential path and each Adam7 pass."""
    if color == 3 or (color == 0 and depth < 8):
        stride = _png_row_bytes(w, depth, color)
        rows = _png_unfilter(raw, h, stride, 1)  # spec: bpp rounds up to 1
        return rows[:, :w] if depth == 8 else _unpack_subbyte(rows, w, depth)
    ch = _PNG_CHANNELS[color]
    if depth == 8:
        flat = _png_unfilter(raw, h, w, ch)
        return flat.reshape(h, w) if ch == 1 else flat.reshape(h, w, ch)
    # depth 16: network byte order — the HIGH byte of each sample comes
    # first and is the standard 8-bit rendition (v >> 8)
    flat = _png_unfilter(raw, h, w, ch * 2)  # spec bpp = 2*channels
    high = flat.reshape(h, w, ch, 2)[..., 0]
    return high.reshape(h, w) if ch == 1 else high


# Adam7 pass origins and steps (PNG §8.2): (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


@codec_errors("PNG")  # corrupt-bytes contract: see sources/_contract.py
def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG to uint8: (H, W) for greyscale, (H, W, C) for
    grey+alpha / RGB / RGBA; palette images resolve through PLTE (and
    tRNS when present). 8-bit returns samples as stored; 16-bit
    returns the high byte; 1/2/4-bit greyscale scales to full range."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat = 8, None, bytearray()
    plte, trns = None, None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) != length:
            raise ValueError(f"truncated PNG chunk {tag!r}")
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if crc != (zlib.crc32(tag + payload) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk {tag!r} fails CRC")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"PLTE":
            plte = payload
        elif tag == b"tRNS":
            trns = payload
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    if comp != 0 or filt != 0:
        raise ValueError(f"invalid PNG compression/filter method ({comp},{filt})")
    if color == 3:
        if depth not in (1, 2, 4, 8):
            raise ValueError(f"invalid palette PNG depth {depth}")
        if plte is None or len(plte) % 3:
            raise ValueError("palette PNG missing or malformed PLTE")
    elif color not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"PNG color type {color} needs Pillow; builtin decoder reads "
            "greyscale/grey+alpha/RGB/RGBA/palette"
        )
    elif not (depth in (8, 16) or (depth in (1, 2, 4) and color == 0)):
        raise NotImplementedError(
            f"PNG depth={depth} color={color} needs Pillow; builtin decoder "
            "reads 1/2/4/8/16-bit greyscale, 8/16-bit color, and palette"
        )
    check_plausible(int(w) * int(h), "PNG")  # before inflating/allocating
    raw = zlib.decompress(bytes(idat))

    if interlace:
        # Adam7 (§8.2): seven reduced images, each independently
        # filtered, concatenated in the one zlib stream; empty passes
        # contribute no bytes. Scatter each pass onto its lattice.
        nch = 1 if color == 3 else _PNG_CHANNELS[color]
        shape = (h, w) if nch == 1 else (h, w, nch)
        samples = np.zeros(shape, np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            n = hp * (_png_row_bytes(wp, depth, color) + 1)
            samples[y0::dy, x0::dx] = _decode_samples(
                raw[pos : pos + n], wp, hp, depth, color
            )
            pos += n
        if pos != len(raw):
            raise ValueError("PNG interlaced stream has trailing bytes")
    else:
        samples = _decode_samples(raw, w, h, depth, color)

    if color == 3:
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        if int(samples.max()) >= len(pal):
            raise ValueError("palette index out of range")
        rgb = pal[samples]
        if trns is not None:
            alpha = np.full(len(pal), 255, np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, np.uint8)
            return np.dstack([rgb, alpha[samples]])
        return rgb
    if depth in (1, 2, 4):  # shallow greyscale: exact full-range scaling
        return (samples * (255 // ((1 << depth) - 1))).astype(np.uint8)
    return samples


def encode_bmp(img: np.ndarray) -> bytes:
    """Encode uint8 (H, W) grey or (H, W, 3) RGB as an uncompressed
    24-bpp BITMAPINFOHEADER BMP (bottom-up BGR, rows padded to 4)."""
    img = np.ascontiguousarray(img)
    if img.dtype != np.uint8:
        raise ValueError(f"encode_bmp expects uint8, got {img.dtype}")
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    if img.ndim != 3 or img.shape[2] != 3 or 0 in img.shape:
        raise ValueError(f"unsupported image shape {img.shape}")
    h, w = img.shape[:2]
    bgr = img[::-1, :, ::-1]  # bottom-up rows, BGR channel order
    pad = (-(w * 3)) % 4
    rows = b"".join(bgr[y].tobytes() + b"\x00" * pad for y in range(h))
    pixel_off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", pixel_off + len(rows), 0, 0, pixel_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return header + info + rows


def _bmp_rle8(data: bytes, w: int, h: int) -> np.ndarray:
    """BI_RLE8 (the public BITMAPINFO spec): encoded runs
    (count, index), escapes 0x00 0x00 = end of line, 0x00 0x01 = end
    of bitmap, 0x00 0x02 = delta (dx, dy), 0x00 n>=3 = n absolute
    indices padded to words. Rows are bottom-up like uncompressed."""
    out = np.zeros((h, w), np.uint8)
    x = y = i = 0
    while i + 1 < len(data):
        n, v = data[i], data[i + 1]
        i += 2
        if n > 0:  # encoded run
            out[y, x : min(x + n, w)] = v
            x += n
        elif v == 0:  # end of line
            x, y = 0, y + 1
            if y >= h:
                break
        elif v == 1:  # end of bitmap
            break
        elif v == 2:  # delta jump (undefined pixels stay 0)
            if i + 1 >= len(data):
                raise ValueError("BMP: RLE8 delta escape truncated")
            x += data[i]
            y += data[i + 1]
            i += 2
            if y >= h or x > w:  # next write would index out of bounds
                raise ValueError("BMP: RLE8 cursor out of bounds")
        else:  # absolute mode: v literal indices, word-aligned
            if i + v > len(data):
                raise ValueError("BMP: RLE8 absolute run truncated")
            lit = np.frombuffer(data, np.uint8, count=v, offset=i)
            take = min(v, max(w - x, 0))
            out[y, x : x + take] = lit[:take]
            x += v
            i += v + (v % 2)
    return out


def _bmp_rle4(data: bytes, w: int, h: int) -> np.ndarray:
    """BI_RLE4: encoded runs paint ``count`` pixels ALTERNATING the
    two nibbles of the value byte; absolute mode carries literal
    nibbles packed MSB-first, padded to 16-bit words; escapes are the
    RLE8 set (end of line / end of bitmap / delta). Bottom-up rows."""
    out = np.zeros((h, w), np.uint8)
    x = y = i = 0
    while i + 1 < len(data):
        n, v = data[i], data[i + 1]
        i += 2
        if n > 0:  # encoded run: alternate hi/lo nibble
            take = min(n, max(w - x, 0))
            if take > 0:
                pix = np.empty(take, np.uint8)
                pix[0::2] = v >> 4
                pix[1::2] = v & 0xF
                out[y, x : x + take] = pix
            x += n
        elif v == 0:  # end of line
            x, y = 0, y + 1
            if y >= h:
                break
        elif v == 1:  # end of bitmap
            break
        elif v == 2:  # delta jump (undefined pixels stay 0)
            if i + 1 >= len(data):
                raise ValueError("BMP: RLE4 delta escape truncated")
            x += data[i]
            y += data[i + 1]
            i += 2
            if y >= h or x > w:
                raise ValueError("BMP: RLE4 cursor out of bounds")
        else:  # absolute mode: v literal nibbles, word-aligned
            nbytes = (((v + 1) // 2) + 1) & ~1
            if i + nbytes > len(data):
                raise ValueError("BMP: RLE4 absolute run truncated")
            packed = np.frombuffer(data, np.uint8, count=(v + 1) // 2, offset=i)
            nib = np.empty(len(packed) * 2, np.uint8)
            nib[0::2] = packed >> 4
            nib[1::2] = packed & 0xF
            take = min(v, max(w - x, 0))
            out[y, x : x + take] = nib[:take]
            x += v
            i += nbytes
    return out


def _bmp_bitfields(pix: np.ndarray, masks: tuple[int, ...], bpp: int) -> np.ndarray:
    """Resolve BI_BITFIELDS (or the implicit RGB555 of plain 16-bpp)
    channel masks to uint8: each channel is extracted by its mask's
    shift/width and rescaled to 0..255 with exact integer arithmetic
    (v * 255 // mask_max, the MS reference expansion)."""
    chans = []
    for m in masks:
        if m == 0 or m > (1 << bpp) - 1:
            raise ValueError(f"BMP: invalid bitfields mask {m:#x} for bpp={bpp}")
        shift = (m & -m).bit_length() - 1
        mmax = m >> shift
        if mmax & (mmax + 1):  # mask bits must be contiguous
            raise ValueError(f"BMP: non-contiguous bitfields mask {m:#x}")
        chans.append(
            (((pix >> shift) & mmax).astype(np.uint32) * 255 // mmax).astype(np.uint8)
        )
    return np.stack(chans, axis=-1)


@codec_errors("BMP")
def decode_bmp(data: bytes) -> np.ndarray:
    """Decode a BMP to uint8: uncompressed 24/32-bpp -> (H, W, 3) RGB
    (the 32-bpp pad byte is dropped); 1/4/8-bpp palette (raw, BI_RLE8
    for 8-bpp, or BI_RLE4 for 4-bpp) resolves through the color table
    -> (H, W, 3); 16-bpp (implicit RGB555) and BI_BITFIELDS 16/32-bpp
    resolve through their channel masks (header-carried for
    BITMAPINFOHEADER and V4/V5 alike — both put them at file offset
    54). Reads BITMAPINFOHEADER (and larger V4/V5) plus the OS/2
    BITMAPCOREHEADER (12-byte, 3-byte palette entries, always
    bottom-up). Handles bottom-up and top-down (negative height)
    layouts."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP (bad magic)")
    (pixel_off,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size == 12:
        # BITMAPCOREHEADER (OS/2 1.x): unsigned 16-bit dims, no
        # compression field, RGBTRIPLE (3-byte) palette entries
        w, h, _planes, bpp = struct.unpack("<HHHH", data[18:26])
        bottom_up, compression, clr_used, pal_entry = True, 0, 0, 3
    elif hdr_size >= 40:
        w, h_signed, _planes, bpp, compression = struct.unpack(
            "<iiHHI", data[18:34]
        )
        h, bottom_up = abs(h_signed), h_signed > 0
        (clr_used,) = struct.unpack("<I", data[46:50])
        pal_entry = 4  # RGBQUAD
    else:
        raise ValueError(f"BMP: unsupported header size {hdr_size}")
    check_plausible(w * h, "BMP")  # before any row-buffer allocation
    pal_off = 14 + hdr_size
    if hdr_size == 40 and compression == 3:
        # BITMAPINFOHEADER + BI_BITFIELDS: the 3 DWORD masks follow
        # the header, so any palette sits past them
        pal_off += 12
    if bpp in (1, 4, 8) and (
        compression == 0
        or (compression == 1 and bpp == 8)
        or (compression == 2 and bpp == 4)
    ):
        n_pal = clr_used or (1 << bpp)
        pal = np.frombuffer(
            data, np.uint8, count=pal_entry * n_pal, offset=pal_off
        ).reshape(n_pal, pal_entry)[:, :3][:, ::-1]  # BGR(A) -> RGB
        if compression == 1:  # BI_RLE8
            idx = _bmp_rle8(data[pixel_off:], w, h)
        elif compression == 2:  # BI_RLE4
            idx = _bmp_rle4(data[pixel_off:], w, h)
        else:
            # rows pad to 32-bit words; sub-byte pixels pack MSB-first
            stride = ((w * bpp + 31) // 32) * 4
            rows = np.frombuffer(
                data, np.uint8, count=h * stride, offset=pixel_off
            ).reshape(h, stride)
            idx = rows[:, :w] if bpp == 8 else _unpack_subbyte(rows, w, bpp)
        if int(idx.max()) >= n_pal:
            raise ValueError("BMP palette index out of range")
        img = pal[idx]
        return img[::-1].copy() if bottom_up else img.copy()
    if compression == 0 and bpp == 32:
        # BGRx: the 4th byte is padding (alpha only under BITFIELDS)
        rows = np.frombuffer(data, np.uint8, count=h * w * 4, offset=pixel_off)
        img = rows.reshape(h, w, 4)[:, :, :3][:, :, ::-1]
        return img[::-1].copy() if bottom_up else img.copy()
    if bpp in (16, 32) and compression in (0, 3):
        if compression == 3:
            # V4/V5 carry the masks IN the header at info offset 40;
            # BITMAPINFOHEADER appends them right after — file offset
            # 54 either way
            if len(data) < 66:
                raise ValueError("BMP: bitfields masks truncated")
            masks = struct.unpack("<III", data[54:66])
        else:  # plain 16-bpp: implicit RGB555
            masks = (0x7C00, 0x03E0, 0x001F)
        stride = ((w * bpp + 31) // 32) * 4
        rows = np.frombuffer(
            data, np.uint8, count=h * stride, offset=pixel_off
        ).reshape(h, stride)
        width = bpp // 8
        pix = (
            rows[:, : w * width]
            .copy()
            .view("<u2" if bpp == 16 else "<u4")
            .reshape(h, w)
        )
        img = _bmp_bitfields(pix, masks, bpp)
        return img[::-1].copy() if bottom_up else img
    if compression != 0 or bpp != 24:
        raise NotImplementedError(
            f"BMP bpp={bpp} compression={compression} needs Pillow; "
            "builtin decoder reads uncompressed 1/4/8-bpp palette, "
            "RLE8/RLE4, 16-bpp RGB555, BITFIELDS 16/32-bpp, and "
            "24/32-bpp"
        )
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(data, np.uint8, count=h * stride, offset=pixel_off)
    img = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    return img[::-1].copy() if bottom_up else img.copy()


def encode_ppm(img: np.ndarray) -> bytes:
    """Encode uint8 (H, W) as binary PGM (P5) or (H, W, 3) as PPM (P6)."""
    img = np.ascontiguousarray(img)
    if img.dtype != np.uint8:
        raise ValueError(f"encode_ppm expects uint8, got {img.dtype}")
    if img.ndim == 2:
        magic = b"P5"
    elif img.ndim == 3 and img.shape[2] == 3:
        magic = b"P6"
    else:
        raise ValueError(f"unsupported image shape {img.shape}")
    if 0 in img.shape:
        raise ValueError(f"empty image shape {img.shape}")
    h, w = img.shape[:2]
    return magic + f"\n{w} {h}\n255\n".encode() + img.tobytes()


@codec_errors("PGM/PPM")
def decode_ppm(data: bytes) -> np.ndarray:
    """Decode binary PGM (P5) -> (H, W) or PPM (P6) -> (H, W, 3)."""
    magic = data[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM")
    # header: magic, whitespace/comment-separated width height maxval,
    # ONE whitespace byte, then raw samples (netpbm format spec)
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError(f"PGM/PPM maxval {maxval} needs Pillow")
    ch = 1 if magic == b"P5" else 3
    check_plausible(w * h * ch, "PGM/PPM")
    img = np.frombuffer(data, np.uint8, count=h * w * ch, offset=pos)
    return img.reshape(h, w) if ch == 1 else img.reshape(h, w, ch)


def encode_gif(img: np.ndarray) -> bytes:
    """Encode uint8 (H, W) greyscale as a GIF89a with the identity
    256-level palette and real LZW compression (LSB-first, table reset
    before the 12-bit cap) — the lossless counterpart of encode_png
    for the GIF container, so asset pipelines can grade the GIF decode
    chain end-to-end (q164)."""
    img = np.ascontiguousarray(img)
    if img.dtype != np.uint8 or img.ndim != 2 or 0 in img.shape:
        raise ValueError(f"encode_gif expects uint8 (H, W), got {img.dtype} {img.shape}")
    h, w = img.shape
    clear, eoi = 256, 257
    acc = nbits = 0
    out_bits = bytearray()

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out_bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = 9
    put(clear, width)
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = eoi + 1
    prev = b""
    for b in img.tobytes():
        cur = prev + bytes([b])
        if cur in table:
            prev = cur
            continue
        put(table[prev], width)
        table[cur] = next_code
        next_code += 1
        # the decoder's table lags one entry; it widens at 2**width
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code == 4094:  # reset short of the 12-bit cap
            put(clear, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = eoi + 1
            width = 9
        prev = bytes([b])
    if prev:
        put(table[prev], width)
    put(eoi, width)
    if nbits:
        out_bits.append(acc & 0xFF)

    palette = np.repeat(np.arange(256, dtype=np.uint8), 3).tobytes()
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 7, 0, 0)  # GCT, 256 entries
    out += palette
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out += bytes([8])  # LZW minimum code size
    for i in range(0, len(out_bits), 255):
        blk = out_bits[i : i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return bytes(out)


def _gif_lzw_decode(data: bytes, min_code: int, n_pixels: int) -> np.ndarray:
    """GIF-variant LZW (GIF89a spec appendix F): LSB-first bit packing
    (unlike TIFF's MSB-first), CLEAR = 2**min_code, EOI = CLEAR+1, the
    code width grows when the table FILLS 2**width (no early change),
    capped at 12 bits."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out = np.empty(n_pixels, np.uint8)
    n_out = 0
    width = min_code + 1
    table: list[bytes] = []
    prev: bytes | None = None
    bitpos, nbits8 = 0, len(data) * 8
    while bitpos + width <= nbits8 and n_out < n_pixels:
        byte, shift = bitpos >> 3, bitpos & 7
        window = int.from_bytes(data[byte : byte + 3].ljust(3, b"\x00"), "little")
        code = (window >> shift) & ((1 << width) - 1)
        bitpos += width
        if code == eoi:
            break
        if code == clear:
            table = [bytes([i]) for i in range(1 << min_code)] + [b"", b""]
            width, prev = min_code + 1, None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError(f"GIF: first code {code} before any CLEAR")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"GIF: code {code} beyond table size {len(table)}")
        take = min(len(entry), n_pixels - n_out)
        out[n_out : n_out + take] = np.frombuffer(entry[:take], np.uint8)
        n_out += take
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if n_out < n_pixels:
        raise ValueError(f"GIF: pixel data ends at {n_out}/{n_pixels}")
    return out


@codec_errors("GIF")
def decode_gif(data: bytes) -> np.ndarray:
    """Decode the FIRST frame of a GIF87a/89a to uint8 (H, W, 3), or
    (H, W, 4) when the frame's graphic control extension declares a
    transparent index. Handles global/local color tables, interlaced
    frames (the 4-pass row shuffle), and sub-block reassembly. A frame
    smaller than (or offset within) the logical screen is composited
    onto the sw-by-sh canvas — background-color-filled (alpha-0 when a
    transparent index exists) — matching reference decoders; output
    geometry is always the logical screen."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    sw, sh, flags, bg_index, _aspect = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data[pos : pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    transparent = None
    while pos < len(data):
        introducer = data[pos]
        pos += 1
        if introducer == 0x3B:  # trailer
            break
        if introducer == 0x21:  # extension: label + sub-blocks
            label = data[pos]
            pos += 1
            if label == 0xF9 and data[pos] >= 4:  # graphic control
                packed, _delay, tindex = struct.unpack(
                    "<BHB", data[pos + 1 : pos + 5]
                )
                if packed & 1:
                    transparent = tindex
            while data[pos]:  # skip sub-blocks
                pos += 1 + data[pos]
            pos += 1
            continue
        if introducer != 0x2C:
            raise ValueError(f"GIF: unexpected block 0x{introducer:02x}")
        left, top, w, h, iflags = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        check_plausible(w * h, "GIF")
        check_plausible(sw * sh, "GIF")
        ct = gct
        if iflags & 0x80:  # local color table
            n = 2 << (iflags & 7)
            ct = np.frombuffer(data[pos : pos + 3 * n], np.uint8).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF: frame has no color table")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while True:
            if pos >= len(data):
                raise ValueError("GIF: truncated inside image data sub-blocks")
            n = data[pos]
            if n == 0:
                pos += 1
                break
            if pos + 1 + n > len(data):
                raise ValueError("GIF: truncated inside image data sub-blocks")
            lzw += data[pos + 1 : pos + 1 + n]
            pos += 1 + n
        idx = _gif_lzw_decode(bytes(lzw), min_code, w * h).reshape(h, w)
        if iflags & 0x40:  # interlaced: rows arrive in 4 passes
            order = np.concatenate(
                [np.arange(0, h, 8), np.arange(4, h, 8),
                 np.arange(2, h, 4), np.arange(1, h, 2)]
            )
            deinterlaced = np.empty_like(idx)
            deinterlaced[order] = idx
            idx = deinterlaced
        if int(idx.max()) >= len(ct):
            raise ValueError("GIF: color index out of range")
        rgb = ct[idx]
        has_alpha = transparent is not None and transparent < len(ct)
        if has_alpha:
            alpha = np.where(idx == transparent, 0, 255).astype(np.uint8)
            rgb = np.dstack([rgb, alpha])
        if (left, top) == (0, 0) and (w, h) == (sw, sh):
            return rgb  # frame IS the screen — the overwhelmingly common case
        if left + w > sw or top + h > sh:
            raise ValueError("GIF: frame extends beyond the logical screen")
        # composite onto the logical-screen canvas: background-filled,
        # or fully transparent when a transparent index exists
        if has_alpha:
            canvas = np.zeros((sh, sw, 4), np.uint8)
        else:
            bg = (  # bg index refers to the GLOBAL color table only
                gct[bg_index]
                if gct is not None and bg_index < len(gct)
                else np.zeros(3, np.uint8)
            )
            canvas = np.broadcast_to(bg, (sh, sw, 3)).copy()
        canvas[top : top + h, left : left + w] = rgb
        return canvas
    raise ValueError("GIF: no image frame found")


def decode_image(payload: bytes, mime: str | None = None) -> np.ndarray:
    """Decode an image payload to a uint8 numpy array, sniffing the
    container from its magic bytes (the mime hint is advisory only —
    asset tables lie about mime constantly). Prefers Pillow when the
    environment provides it (wider format coverage: JPEG, palette PNG,
    16-bit, interlace); falls back to the builtin PNG/BMP/PPM decoders
    above. Greyscale returns (H, W); color returns (H, W, C)."""
    if payload is None or len(payload) < 2:
        raise ValueError("empty image payload")
    payload = bytes(payload)
    try:
        from PIL import Image  # optional, like rasterio in sources/raster.py
        import io

        img = np.asarray(Image.open(io.BytesIO(payload)))
        if img.dtype != np.uint8:
            img = img.astype(np.uint8)
        return img
    except ImportError:
        pass
    except Exception:
        # Pillow rejects (UnidentifiedImageError/OSError/...): fall
        # through to the builtin decoders, whose failure surfaces as
        # the codec-contract ValueError (sources/_contract.py) — the
        # quarantine path must see ValueError regardless of which
        # backend handled the payload
        pass
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] in (b"P5", b"P6"):
        return decode_ppm(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:3] in (b"\xff\xd8\xff",):
        from sklearn_raster_spark.sources.jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise ValueError(f"unrecognized image container (magic {payload[:4]!r})")
