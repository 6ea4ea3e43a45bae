"""Pure-numpy PNG/GIF/BMP/PPM codecs: byte-exact round trips, format
quirks (BMP row padding, bottom-up vs top-down, 32-bit alpha, PPM
comments, P5 grayscale expansion, PNG filters and palettes, GIF LZW
against an independent reference compressor), mime/magic dispatch and
deterministic nearest resize.  Pure CPU — no Spark session."""

from __future__ import annotations

import numpy as np
import pytest

from mysql_data_quality_spark.functions import imageio as IIO


def _grad(h: int = 6, w: int = 5) -> np.ndarray:
    """Deterministic gradient test image."""
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [(y * 40) % 256, (x * 50) % 256, (y * 7 + x * 11) % 256], axis=2
    ).astype(np.uint8)


class TestPpm:
    def test_round_trip(self):
        a = _grad()
        assert (IIO.decode_ppm(IIO.encode_ppm(a)) == a).all()

    def test_header_comments_and_whitespace(self):
        a = _grad(2, 2)
        raw = b"P6\n# a comment\n  2\t2 # another\n255\n" + a.tobytes()
        assert (IIO.decode_ppm(raw) == a).all()

    def test_p5_grayscale_expands(self):
        g = np.arange(6, dtype=np.uint8).reshape(2, 3)
        raw = b"P5 3 2 255\n" + g.tobytes()
        out = IIO.decode_ppm(raw)
        assert out.shape == (2, 3, 3)
        assert (out[:, :, 0] == g).all() and (out[:, :, 2] == g).all()

    def test_truncated_raster_raises(self):
        with pytest.raises(IIO.ImageFormatError, match="truncated"):
            IIO.decode_ppm(b"P6 4 4 255\nshort")

    def test_16bit_maxval_rejected(self):
        with pytest.raises(IIO.ImageFormatError, match="maxval"):
            IIO.decode_ppm(b"P6 1 1 65535\n\0\0\0\0\0\0")


class TestBmp:
    def test_round_trip_with_row_padding(self):
        # w=5 -> 15-byte rows pad to 16: exercises the 4-byte alignment
        a = _grad(6, 5)
        assert (IIO.decode_bmp(IIO.encode_bmp(a)) == a).all()

    def test_top_down_negative_height(self):
        a = _grad(4, 4)
        raw = bytearray(IIO.encode_bmp(a[::-1]))  # encoder is bottom-up
        import struct

        struct.pack_into("<i", raw, 22, -4)  # declare top-down
        assert (IIO.decode_bmp(bytes(raw)) == a[::-1][::-1]).all()

    def test_32bit_alpha_dropped(self):
        import struct

        a = _grad(2, 2)
        bgra = np.dstack([a[:, :, ::-1], np.full((2, 2), 7, np.uint8)])
        body = bgra[::-1].tobytes()  # bottom-up, rows already 4-aligned
        hdr = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
        hdr += struct.pack(
            "<IiiHHIIiiII", 40, 2, 2, 1, 32, 0, len(body), 0, 0, 0, 0
        )
        assert (IIO.decode_bmp(hdr + body) == a).all()

    def test_compressed_rejected(self):
        import struct

        raw = bytearray(IIO.encode_bmp(_grad(2, 2)))
        struct.pack_into("<I", raw, 30, 1)  # BI_RLE8
        with pytest.raises(IIO.ImageFormatError, match="compression"):
            IIO.decode_bmp(bytes(raw))


def _png_forward_filter(a: np.ndarray, ftypes) -> bytes:
    """Independent reference implementation of PNG's FORWARD scanline
    filters (spec §6) — the test builds filtered rasters with this and
    the decoder must invert them."""
    h, w, ch = a.shape
    out = bytearray()
    prev = np.zeros(w * ch, dtype=np.int64)
    for y, ft in zip(range(h), ftypes):
        cur = a[y].reshape(-1).astype(np.int64)
        left = np.concatenate([np.zeros(ch, np.int64), cur[:-ch]])
        ul = np.concatenate([np.zeros(ch, np.int64), prev[:-ch]])
        if ft == 0:
            flt = cur
        elif ft == 1:
            flt = cur - left
        elif ft == 2:
            flt = cur - prev
        elif ft == 3:
            flt = cur - (left + prev) // 2
        else:  # Paeth
            p = left + prev - ul
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc),
                left,
                np.where(pb <= pc, prev, ul),
            )
            flt = cur - pred
        out.append(ft)
        out += bytes((flt & 0xFF).astype(np.uint8))
        prev = cur
    return bytes(out)


def _png_manual(w, h, ctype, raster, plte=None, depth=8, interlace=0):
    """Assemble a PNG from parts (valid CRCs) for decoder tests."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    blob = IIO._PNG_SIG + IIO._png_chunk(b"IHDR", ihdr)
    if plte is not None:
        blob += IIO._png_chunk(b"PLTE", plte)
    blob += IIO._png_chunk(b"IDAT", zlib.compress(raster, 6))
    return blob + IIO._png_chunk(b"IEND", b"")


class TestPng:
    def test_round_trip(self):
        a = _grad(6, 5)
        assert (IIO.decode_png(IIO.encode_png(a)) == a).all()

    def test_all_five_filters_inverted(self):
        rng = np.random.RandomState(7)
        a = rng.randint(0, 256, size=(6, 9, 3), dtype=np.uint8)
        raster = _png_forward_filter(a, [0, 1, 2, 3, 4, 4])
        blob = _png_manual(9, 6, 2, raster)
        assert (IIO.decode_png(blob) == a).all()

    def test_grayscale_expands(self):
        g = np.arange(12, dtype=np.uint8).reshape(3, 4)
        raster = b"".join(b"\x00" + g[y].tobytes() for y in range(3))
        out = IIO.decode_png(_png_manual(4, 3, 0, raster))
        assert out.shape == (3, 4, 3)
        assert (out == g[:, :, None]).all()

    def test_palette_resolved(self):
        plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B
        idx = np.array([[0, 1], [2, 1]], dtype=np.uint8)
        raster = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
        out = IIO.decode_png(_png_manual(2, 2, 3, raster, plte=plte))
        assert (out[0, 0] == [255, 0, 0]).all()
        assert (out[0, 1] == [0, 255, 0]).all()
        assert (out[1, 0] == [0, 0, 255]).all()

    def test_palette_index_out_of_range_raises(self):
        plte = bytes([255, 0, 0])
        raster = b"\x00\x05"  # index 5, palette has 1 entry
        with pytest.raises(IIO.ImageFormatError, match="palette index"):
            IIO.decode_png(_png_manual(1, 1, 3, raster, plte=plte))

    def test_rgba_alpha_dropped(self):
        a = _grad(2, 3)
        rgba = np.dstack([a, np.full((2, 3), 9, np.uint8)])
        raster = b"".join(b"\x00" + rgba[y].tobytes() for y in range(2))
        assert (IIO.decode_png(_png_manual(3, 2, 6, raster)) == a).all()

    def test_gray_alpha(self):
        g = np.array([[1, 2], [3, 4]], dtype=np.uint8)
        ga = np.dstack([g, np.full((2, 2), 128, np.uint8)])
        raster = b"".join(b"\x00" + ga[y].tobytes() for y in range(2))
        out = IIO.decode_png(_png_manual(2, 2, 4, raster))
        assert (out == g[:, :, None]).all()

    def test_multiple_idat_chunks_concatenate(self):
        import struct
        import zlib

        a = _grad(4, 4)
        raster = _png_forward_filter(a, [0, 0, 0, 0])
        comp = zlib.compress(raster, 6)
        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
        blob = (
            IIO._PNG_SIG
            + IIO._png_chunk(b"IHDR", ihdr)
            + IIO._png_chunk(b"IDAT", comp[:5])
            + IIO._png_chunk(b"IDAT", comp[5:])
            + IIO._png_chunk(b"IEND", b"")
        )
        assert (IIO.decode_png(blob) == a).all()

    def test_crc_corruption_raises(self):
        blob = bytearray(IIO.encode_png(_grad(2, 2)))
        blob[20] ^= 0xFF  # inside IHDR data
        with pytest.raises(IIO.ImageFormatError, match="CRC"):
            IIO.decode_png(bytes(blob))

    def test_interlaced_rejected(self):
        raster = b"\x00" + b"\x00" * 3
        with pytest.raises(IIO.ImageFormatError, match="interlaced"):
            IIO.decode_png(_png_manual(1, 1, 2, raster, interlace=1))

    def test_16bit_rejected(self):
        raster = b"\x00" + b"\x00" * 6
        with pytest.raises(IIO.ImageFormatError, match="bit depth"):
            IIO.decode_png(_png_manual(1, 1, 2, raster, depth=16))

    def test_truncated_stream_raises(self):
        blob = IIO.encode_png(_grad(2, 2))
        with pytest.raises(IIO.ImageFormatError):
            IIO.decode_png(blob[:30])

    def test_dispatch_sniffs_and_mime(self):
        a = _grad(3, 3)
        blob = IIO.encode_png(a)
        assert (IIO.decode_image(blob) == a).all()
        assert (IIO.decode_image(blob, "image/png") == a).all()


class TestResize:
    def test_nearest_indices(self):
        a = _grad(4, 4)
        out = IIO.resize_nearest(a, 2, 2)
        assert (out == a[[1, 3]][:, [1, 3]]).all()

    def test_upscale(self):
        a = _grad(2, 2)
        out = IIO.resize_nearest(a, 4, 4)
        assert out.shape == (4, 4, 3)
        assert (out[0, 0] == a[0, 0]).all() and (out[3, 3] == a[1, 1]).all()


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """Independent reference GIF-LZW COMPRESSOR for the decoder tests:
    textbook dictionary build, variable code width, leading CLEAR,
    trailing END, 4096-entry cap with re-CLEAR."""
    clear = 1 << min_code_size
    end = clear + 1
    out_bits = []

    def emit(code, width):
        for i in range(width):
            out_bits.append((code >> i) & 1)

    def fresh():
        return {bytes([i]): i for i in range(clear)}, end + 1, (
            min_code_size + 1
        )

    table, next_code, width = fresh()
    emit(clear, width)
    buf = b""
    for px in indices:
        nxt = buf + bytes([px])
        if nxt in table:
            buf = nxt
            continue
        emit(table[buf], width)
        table[nxt] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code > 4096:
            emit(clear, width)
            table, next_code, width = fresh()
        buf = bytes([px])
    if buf:
        emit(table[buf], width)
    emit(end, width)
    by = bytearray()
    for i in range(0, len(out_bits), 8):
        b = 0
        for j, bit in enumerate(out_bits[i : i + 8]):
            b |= bit << j
        by.append(b)
    return bytes(by)


def _gif_manual(w, h, palette, indices, interlace=False,
                version=b"GIF89a", extensions=b""):
    """Assemble a one-frame GIF with a global color table."""
    import math
    import struct

    n = max(2, 1 << math.ceil(math.log2(max(2, len(palette)))))
    gct_bits = int(math.log2(n)) - 1
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes([r, g, b])
    pal += b"\x00" * (3 * n - len(pal))
    hdr = version + struct.pack(
        "<HHBBB", w, h, 0x80 | gct_bits, 0, 0
    ) + bytes(pal)
    min_code = max(2, (gct_bits + 1))
    lzw = _lzw_encode(list(indices), min_code)
    img = b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, w, h, 0x40 if interlace else 0
    ) + bytes([min_code])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        img += bytes([len(chunk)]) + chunk
    img += b"\x00"
    return hdr + extensions + img + b"\x3b"


class TestGif:
    PAL = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]

    def test_round_trip_via_reference_compressor(self):
        rng = np.random.RandomState(3)
        idx = rng.randint(0, 4, size=(7, 9)).astype(np.uint8)
        blob = _gif_manual(9, 7, self.PAL, idx.reshape(-1))
        out = IIO.decode_gif(blob)
        want = np.array(self.PAL, dtype=np.uint8)[idx]
        assert (out == want).all()

    def test_long_stream_grows_code_width(self):
        # >4 distinct patterns force the dictionary past 2^(min+1):
        # exercises width growth in both reference encoder and decoder
        rng = np.random.RandomState(11)
        idx = rng.randint(0, 4, size=(40, 40)).astype(np.uint8)
        blob = _gif_manual(40, 40, self.PAL, idx.reshape(-1))
        out = IIO.decode_gif(blob)
        want = np.array(self.PAL, dtype=np.uint8)[idx]
        assert (out == want).all()

    def test_interlaced_rows_reordered(self):
        idx = np.arange(32, dtype=np.uint8).reshape(8, 4) % 4
        order = (
            list(range(0, 8, 8))
            + list(range(4, 8, 8))
            + list(range(2, 8, 4))
            + list(range(1, 8, 2))
        )
        stored = idx[order]  # what an interlaced file stores
        blob = _gif_manual(
            4, 8, self.PAL, stored.reshape(-1), interlace=True
        )
        out = IIO.decode_gif(blob)
        want = np.array(self.PAL, dtype=np.uint8)[idx]
        assert (out == want).all()

    def test_extensions_skipped(self):
        # graphic control extension (0xF9) before the image descriptor
        ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        idx = np.array([[0, 1], [2, 3]], dtype=np.uint8)
        blob = _gif_manual(
            2, 2, self.PAL, idx.reshape(-1), extensions=ext
        )
        out = IIO.decode_gif(blob)
        assert (out[0, 0] == [255, 0, 0]).all()
        assert (out[1, 1] == [9, 9, 9]).all()

    def test_gif87a_accepted(self):
        idx = np.zeros(4, dtype=np.uint8)
        blob = _gif_manual(2, 2, self.PAL, idx, version=b"GIF87a")
        assert IIO.decode_gif(blob).shape == (2, 2, 3)

    def test_truncated_raises(self):
        idx = np.zeros(4, dtype=np.uint8)
        blob = _gif_manual(2, 2, self.PAL, idx)
        with pytest.raises(IIO.ImageFormatError):
            IIO.decode_gif(blob[:20])

    def test_no_image_data_raises(self):
        import struct

        hdr = b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0, 0, 0) + b"\x3b"
        with pytest.raises(IIO.ImageFormatError, match="no image"):
            IIO.decode_gif(hdr)

    def test_dispatch_sniffs_and_mime(self):
        idx = np.array([0, 1, 2, 3], dtype=np.uint8)
        blob = _gif_manual(2, 2, self.PAL, idx)
        want = np.array(self.PAL, dtype=np.uint8)[idx.reshape(2, 2)]
        assert (IIO.decode_image(blob) == want).all()
        assert (IIO.decode_image(blob, "image/gif") == want).all()
