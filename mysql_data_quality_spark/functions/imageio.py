"""Pure-numpy image codecs.  No pipeline stage calls them: the
multimodal feature kernel hashes payload bytes and never decodes
pixels.  Formats implemented from their public specifications:

  * PPM (Netpbm P6, binary RGB; P5 grayscale accepted and expanded) —
    https://netpbm.sourceforge.net/doc/ppm.html
  * BMP (BITMAPINFOHEADER, BI_RGB uncompressed 24/32-bit) —
    the Windows bitmap layout as documented publicly.
  * PNG (W3C PNG spec / RFC 2083: 8-bit gray / RGB / palette /
    gray+alpha / RGBA, all five scanline filters, CRC-verified chunks;
    DEFLATE via the stdlib ``zlib``).
  * GIF (GIF87a/GIF89a first frame: variable-width LZW with CLEAR /
    KwKwK handling, global+local color tables, Adam-style 4-pass
    deinterlace; extensions skipped) — decoded against an independent
    LZW compressor written in the tests.

All functions are deterministic; resize is nearest-neighbor with the
half-pixel center convention (pure index math, no float filtering — the
same bytes in always give the same bytes out)."""

from __future__ import annotations

import struct
import zlib

import numpy as np


class ImageFormatError(ValueError):
    """Payload is not a supported BMP/PPM/PNG/GIF byte stream."""


# ---------------------------------------------------------------------------
# PPM (Netpbm)
# ---------------------------------------------------------------------------
def _ppm_read_token(buf: bytes, pos: int) -> tuple[bytes, int]:
    # skip whitespace and '#' comment lines between header tokens
    n = len(buf)
    while pos < n:
        c = buf[pos : pos + 1]
        if c == b"#":
            while pos < n and buf[pos : pos + 1] not in (b"\n", b"\r"):
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            break
    start = pos
    while pos < n and not buf[pos : pos + 1].isspace():
        pos += 1
    if start == pos:
        raise ImageFormatError("truncated PPM header")
    return buf[start:pos], pos


def decode_ppm(payload: bytes) -> np.ndarray:
    """P6 (RGB) or P5 (grayscale, expanded to RGB) -> uint8 HxWx3."""
    if not payload or payload[:1] != b"P":
        raise ImageFormatError("not a PPM payload")
    magic, pos = _ppm_read_token(payload, 0)
    if magic not in (b"P5", b"P6"):
        raise ImageFormatError(f"unsupported PPM magic {magic!r}")
    w_tok, pos = _ppm_read_token(payload, pos)
    h_tok, pos = _ppm_read_token(payload, pos)
    mx_tok, pos = _ppm_read_token(payload, pos)
    w, h, maxval = int(w_tok), int(h_tok), int(mx_tok)
    if not (0 < w and 0 < h):
        raise ImageFormatError(f"bad PPM dimensions {w}x{h}")
    if not 0 < maxval < 256:
        raise ImageFormatError(f"unsupported PPM maxval {maxval}")
    pos += 1  # exactly ONE whitespace byte separates header from raster
    ch = 3 if magic == b"P6" else 1
    need = w * h * ch
    raster = payload[pos : pos + need]
    if len(raster) != need:
        raise ImageFormatError(
            f"PPM raster truncated: {len(raster)} of {need} bytes"
        )
    arr = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, ch)
    if ch == 1:
        arr = np.repeat(arr, 3, axis=2)
    return arr


def encode_ppm(arr: np.ndarray) -> bytes:
    """uint8 HxWx3 -> binary P6 bytes (deterministic single-space header)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ImageFormatError(f"expected HxWx3 array, got {a.shape}")
    h, w, _ = a.shape
    return b"P6 %d %d 255\n" % (w, h) + a.tobytes()


# ---------------------------------------------------------------------------
# BMP (BITMAPINFOHEADER, BI_RGB, 24/32 bpp)
# ---------------------------------------------------------------------------
def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BMP -> uint8 HxWx3 (alpha dropped).

    Handles the standard quirks: BGR(A) channel order, 4-byte row
    padding, bottom-up row order (positive height) vs top-down
    (negative height)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ImageFormatError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ImageFormatError(f"unsupported BMP header size {hdr_size}")
    w, h_raw = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0:  # BI_RGB only
        raise ImageFormatError(f"unsupported BMP compression {compression}")
    if bpp not in (24, 32):
        raise ImageFormatError(f"unsupported BMP bit depth {bpp}")
    top_down = h_raw < 0
    h = abs(h_raw)
    if w <= 0 or h == 0:
        raise ImageFormatError(f"bad BMP dimensions {w}x{h_raw}")
    ch = bpp // 8
    row_bytes = (w * ch + 3) & ~3  # rows pad to 4-byte boundaries
    need = row_bytes * h
    raster = payload[data_off : data_off + need]
    if len(raster) != need:
        raise ImageFormatError(
            f"BMP raster truncated: {len(raster)} of {need} bytes"
        )
    rows = np.frombuffer(raster, dtype=np.uint8).reshape(h, row_bytes)
    px = rows[:, : w * ch].reshape(h, w, ch)
    if not top_down:
        px = px[::-1]
    # BGR(A) -> RGB
    return np.ascontiguousarray(px[:, :, 2::-1])


def encode_bmp(arr: np.ndarray) -> bytes:
    """uint8 HxWx3 -> 24-bit bottom-up BI_RGB BMP bytes."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ImageFormatError(f"expected HxWx3 array, got {a.shape}")
    h, w, _ = a.shape
    row_bytes = (w * 3 + 3) & ~3
    raster = np.zeros((h, row_bytes), dtype=np.uint8)
    raster[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    body = raster.tobytes()
    file_size = 54 + len(body)
    header = struct.pack(
        "<2sIHHI", b"BM", file_size, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + body


# ---------------------------------------------------------------------------
# PNG (W3C spec / RFC 2083; 8-bit depth, non-interlaced)
# ---------------------------------------------------------------------------
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (bit depth 8 => bytes per pixel)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunks(payload: bytes):
    """Yield ``(type, data)`` pairs, CRC-verified, stopping at IEND."""
    pos, n = len(_PNG_SIG), len(payload)
    while pos + 12 <= n:
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > n:
            raise ImageFormatError(f"truncated PNG chunk {ctype!r}")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ImageFormatError(f"PNG CRC mismatch in {ctype!r}")
        yield ctype, data
        if ctype == b"IEND":
            return
        pos += 12 + length
    raise ImageFormatError("PNG stream ended before IEND")


def _png_unfilter(raw: bytes, h: int, w: int, ch: int) -> np.ndarray:
    """Invert the five per-scanline filters -> (h, w*ch) uint8.

    Sub is a per-channel running sum, so it vectorizes as a cumsum;
    Up is a plain wrapping add of the prior row; Average and Paeth
    depend on the just-reconstructed LEFT pixel, so those rows walk
    pixel-by-pixel (numpy over the channel axis per step) — fine for
    thumbnail-sized images."""
    stride = w * ch
    rows = np.frombuffer(raw, dtype=np.uint8)
    if rows.size != h * (stride + 1):
        raise ImageFormatError(
            f"PNG raster is {rows.size} bytes, expected {h * (stride + 1)}"
        )
    rows = rows.reshape(h, stride + 1)
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = int(rows[y, 0])
        cur = rows[y, 1:]
        if ftype == 0:  # None
            rec = cur.copy()
        elif ftype == 1:  # Sub: recon[x] = raw[x] + recon[x-bpp]
            rec = (
                np.cumsum(cur.reshape(w, ch).astype(np.int64), axis=0)
                & 0xFF
            ).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up (uint8 addition wraps mod 256)
            rec = cur + prev
        elif ftype in (3, 4):  # Average / Paeth: left-dependent
            rp = cur.reshape(w, ch).astype(np.int64)
            up = prev.reshape(w, ch).astype(np.int64)
            rec2 = np.empty((w, ch), dtype=np.uint8)
            left = np.zeros(ch, dtype=np.int64)
            ul = np.zeros(ch, dtype=np.int64)  # upper-left (Paeth c)
            for x in range(w):
                if ftype == 3:
                    pred = (left + up[x]) >> 1
                else:
                    p = left + up[x] - ul
                    pa = np.abs(p - left)
                    pb = np.abs(p - up[x])
                    pc = np.abs(p - ul)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc),
                        left,
                        np.where(pb <= pc, up[x], ul),
                    )
                left = (rp[x] + pred) & 0xFF
                ul = up[x]
                rec2[x] = left
            rec = rec2.reshape(stride)
        else:
            raise ImageFormatError(f"bad PNG filter type {ftype}")
        out[y] = rec
        prev = rec
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """8-bit non-interlaced PNG -> uint8 HxWx3 (alpha dropped, gray
    expanded, palette resolved)."""
    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ImageFormatError("not a PNG payload")
    ihdr = None
    plte = None
    idat = bytearray()
    for ctype, data in _png_chunks(payload):
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat += data
    if ihdr is None or len(ihdr) != 13:
        raise ImageFormatError("PNG missing IHDR")
    w, h, depth, ctype_n, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if w == 0 or h == 0:
        raise ImageFormatError(f"bad PNG dimensions {w}x{h}")
    if depth != 8:
        raise ImageFormatError(f"unsupported PNG bit depth {depth}")
    if ctype_n not in _PNG_CHANNELS:
        raise ImageFormatError(f"unsupported PNG color type {ctype_n}")
    if comp != 0 or filt != 0:
        raise ImageFormatError("nonstandard PNG compression/filter method")
    if interlace != 0:
        raise ImageFormatError("interlaced (Adam7) PNG not supported")
    if not idat:
        raise ImageFormatError("PNG missing IDAT")
    try:
        raster = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ImageFormatError(f"PNG IDAT inflate failed: {exc}") from exc
    ch = _PNG_CHANNELS[ctype_n]
    px = _png_unfilter(raster, h, w, ch).reshape(h, w, ch)
    if ctype_n == 2:  # RGB
        return px
    if ctype_n == 6:  # RGBA -> drop alpha
        return np.ascontiguousarray(px[:, :, :3])
    if ctype_n == 0:  # gray
        return np.repeat(px, 3, axis=2)
    if ctype_n == 4:  # gray+alpha
        return np.repeat(px[:, :, :1], 3, axis=2)
    # palette
    if plte is None or len(plte) % 3:
        raise ImageFormatError("palette PNG missing a valid PLTE")
    table = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    idx = px[:, :, 0]
    if int(idx.max()) >= table.shape[0]:
        raise ImageFormatError("PNG palette index out of range")
    return table[idx]


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """uint8 HxWx3 -> 8-bit truecolor PNG (filter 0 scanlines, fixed
    deflate level — deterministic for a given zlib build)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ImageFormatError(f"expected HxWx3 array, got {a.shape}")
    h, w, _ = a.shape
    raster = np.empty((h, w * 3 + 1), dtype=np.uint8)
    raster[:, 0] = 0  # filter type None on every scanline
    raster[:, 1:] = a.reshape(h, w * 3)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raster.tobytes(), 6))
        + _png_chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# GIF (GIF87a/GIF89a; first frame, LZW, optional interlace)
# ---------------------------------------------------------------------------
def _gif_lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """Variable-width LZW per the GIF spec: CLEAR resets the dictionary,
    code width grows at dictionary sizes 2^w (cap 12 bits / 4096
    entries).  Returns exactly ``n_pixels`` index bytes."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    # bit reader: GIF packs codes LSB-first
    acc = 0
    nbits = 0
    pos = 0
    width = min_code_size + 1
    table: list = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ImageFormatError("GIF LZW stream truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ImageFormatError(f"bad GIF LZW code {code}")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ImageFormatError(
            f"GIF raster short: {len(out)} of {n_pixels} pixels"
        )
    return bytes(out[:n_pixels])


def _gif_deinterlace(idx: np.ndarray) -> np.ndarray:
    """Reorder the four GIF interlace passes into display order."""
    h = idx.shape[0]
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    out = np.empty_like(idx)
    out[order] = idx
    return out


def decode_gif(payload: bytes) -> np.ndarray:
    """First frame of a GIF87a/GIF89a -> uint8 HxWx3 (palette resolved;
    transparency ignored — the opaque palette color is used)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ImageFormatError("not a GIF payload")
    if len(payload) < 13:
        raise ImageFormatError("truncated GIF header")
    packed = payload[10]
    gct = None
    pos = 13
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        raw = payload[pos : pos + 3 * n]
        if len(raw) != 3 * n:
            raise ImageFormatError("truncated GIF global color table")
        gct = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
        pos += 3 * n
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer before any image
            raise ImageFormatError("GIF has no image data")
        if block == 0x21:  # extension: introducer, label, sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ImageFormatError(f"unexpected GIF block 0x{block:02x}")
        # image descriptor
        w, h = struct.unpack_from("<HH", payload, pos + 5)
        ipacked = payload[pos + 9]
        pos += 10
        table = gct
        if ipacked & 0x80:  # local color table overrides
            n = 2 << (ipacked & 0x07)
            raw = payload[pos : pos + 3 * n]
            if len(raw) != 3 * n:
                raise ImageFormatError("truncated GIF local color table")
            table = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
            pos += 3 * n
        if table is None:
            raise ImageFormatError("GIF image has no color table")
        if w == 0 or h == 0:
            raise ImageFormatError(f"bad GIF dimensions {w}x{h}")
        min_code = payload[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(payload) and payload[pos] != 0:
            ln = payload[pos]
            lzw += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        idx_bytes = _gif_lzw_decode(bytes(lzw), min_code, w * h)
        idx = np.frombuffer(idx_bytes, dtype=np.uint8).reshape(h, w)
        if ipacked & 0x40:
            idx = _gif_deinterlace(idx)
        if int(idx.max()) >= table.shape[0]:
            raise ImageFormatError("GIF palette index out of range")
        return table[idx]
    raise ImageFormatError("GIF stream ended before image data")


# ---------------------------------------------------------------------------
# decode dispatch + resize
# ---------------------------------------------------------------------------
def decode_image(payload: bytes, mime: str | None = None) -> np.ndarray:
    """Dispatch on mime when given, else sniff the magic bytes."""
    if mime == "image/png":
        return decode_png(payload)
    if mime == "image/gif":
        return decode_gif(payload)
    if mime in ("image/bmp", "image/x-ms-bmp"):
        return decode_bmp(payload)
    if mime in ("image/x-portable-pixmap", "image/x-portable-graymap",
                "image/ppm"):
        return decode_ppm(payload)
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] in (b"P5", b"P6"):
        return decode_ppm(payload)
    raise ImageFormatError(
        f"unsupported image payload (mime={mime!r}, "
        f"magic={payload[:2]!r}); numpy codecs cover PNG, GIF, BMP, PPM"
    )


def resize_nearest(arr: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Nearest-neighbor resize, half-pixel centers: src = floor((i+0.5) *
    src/target) — integer math only, deterministic across platforms."""
    if target_w <= 0 or target_h <= 0:
        raise ImageFormatError(f"bad target {target_w}x{target_h}")
    h, w = arr.shape[:2]
    rows = ((2 * np.arange(target_h) + 1) * h) // (2 * target_h)
    cols = ((2 * np.arange(target_w) + 1) * w) // (2 * target_w)
    return arr[rows][:, cols]
