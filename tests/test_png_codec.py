"""PNG codec + resampling primitives — pure-python tests (no Spark).

The decode side is pinned against byte streams built HERE, by hand, from
the PNG spec — independent of encode_png — so an encode/decode pair
cannot self-consistently hide a channel swap or orientation bug."""

import struct
import zlib

import numpy as np
import pytest

from dataqualitykit_spark.operators import png_codec as pc


def _chunk(name: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + name
        + data
        + struct.pack(">I", zlib.crc32(name + data) & 0xFFFFFFFF)
    )


def _hand_png(w, h, depth, ctype, scanlines: bytes, plte=None, trns=None):
    """Assemble a PNG from already-filtered scanline bytes."""
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte)
    if trns is not None:
        out += _chunk(b"tRNS", trns)
    return out + _chunk(b"IDAT", zlib.compress(scanlines)) + _chunk(b"IEND", b"")


class TestDecodeHandBuilt:
    def test_gray8_filter0_row_major(self):
        # 3x2 gray, values row-major 10..15: pins orientation (y, x)
        lines = b"\x00" + bytes([10, 11, 12]) + b"\x00" + bytes([13, 14, 15])
        arr = pc.decode_png(_hand_png(3, 2, 8, 0, lines))
        assert arr.shape == (2, 3, 1)
        assert arr[0, 2, 0] == 12 and arr[1, 0, 0] == 13

    def test_rgb8_channel_order(self):
        # one pixel (R=1, G=2, B=3): pins channel order
        arr = pc.decode_png(_hand_png(1, 1, 8, 2, b"\x00\x01\x02\x03"))
        assert arr.shape == (1, 1, 3) and tuple(arr[0, 0]) == (1, 2, 3)

    def test_each_filter_type(self):
        # 4px-wide gray rows exercising Sub/Up/Average/Paeth per spec math
        r0 = b"\x00" + bytes([100, 110, 120, 130])  # None
        r1 = b"\x01" + bytes([5, 10, 250, 20])  # Sub: cumsum mod 256
        r2 = b"\x02" + bytes([1, 2, 3, 4])  # Up
        r3 = b"\x03" + bytes([10, 10, 10, 10])  # Average
        r4 = b"\x04" + bytes([1, 1, 1, 1])  # Paeth
        arr = pc.decode_png(_hand_png(4, 5, 8, 0, r0 + r1 + r2 + r3 + r4))[:, :, 0]
        assert list(arr[0]) == [100, 110, 120, 130]
        assert list(arr[1]) == [5, 15, (15 + 250) % 256, (9 + 20) % 256]
        assert list(arr[2]) == [(arr[1][i] + [1, 2, 3, 4][i]) % 256 for i in range(4)]
        # Average: x + (left + up)//2 computed sequentially
        exp3 = []
        for i in range(4):
            left = exp3[i - 1] if i else 0
            exp3.append((10 + ((left + int(arr[2][i])) >> 1)) & 0xFF)
        assert list(arr[3]) == exp3
        # Paeth
        exp4 = []
        for i in range(4):
            a = exp4[i - 1] if i else 0
            b = int(arr[3][i])
            c = int(arr[3][i - 1]) if i else 0
            p = a + b - c
            pa, pb, pcc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pcc else (b if pb <= pcc else c)
            exp4.append((1 + pred) & 0xFF)
        assert list(arr[4]) == exp4

    def test_sub_filter_respects_bpp(self):
        # RGB Sub: left neighbor is 3 bytes back, not 1
        line = b"\x01" + bytes([10, 20, 30, 1, 1, 1])
        arr = pc.decode_png(_hand_png(2, 1, 8, 2, line))
        assert tuple(arr[0, 0]) == (10, 20, 30)
        assert tuple(arr[0, 1]) == (11, 21, 31)

    def test_gray16_big_endian(self):
        line = b"\x00" + struct.pack(">HH", 258, 65535)
        arr = pc.decode_png(_hand_png(2, 1, 16, 0, line))
        assert arr.dtype == np.uint16
        assert arr[0, 0, 0] == 258 and arr[0, 1, 0] == 65535

    def test_subbyte_gray_rescales(self):
        # depth 1: bit-packed MSB first, 0 -> 0 and 1 -> 255
        line = b"\x00" + bytes([0b10110000])
        arr = pc.decode_png(_hand_png(4, 1, 1, 0, line))
        assert list(arr[0, :, 0]) == [255, 0, 255, 255]

    def test_palette_and_trns(self):
        pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
        line = b"\x00" + bytes([0b00011000])  # depth 2 indexes: 0,1,2,0
        rgb = pc.decode_png(_hand_png(4, 1, 2, 3, line, plte=pal))
        assert rgb.shape == (1, 4, 3) and tuple(rgb[0, 1]) == (0, 255, 0)
        rgba = pc.decode_png(
            _hand_png(4, 1, 2, 3, line, plte=pal, trns=bytes([7]))
        )
        assert rgba.shape == (1, 4, 4)
        assert rgba[0, 0, 3] == 7 and rgba[0, 1, 3] == 255

    def test_multiple_idat_chunks_concatenate(self):
        comp = zlib.compress(b"\x00" + bytes([1, 2, 3]))
        ihdr = struct.pack(">IIBBBBB", 3, 1, 8, 0, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", comp[:5]) + _chunk(b"IDAT", comp[5:])
            + _chunk(b"IEND", b"")
        )
        assert list(pc.decode_png(png)[0, :, 0]) == [1, 2, 3]


class TestDecodeErrors:
    @pytest.mark.parametrize(
        "mutate",
        ["magic", "crc", "interlace", "no_idat", "truncated", "filter9"],
    )
    def test_quarantine_routes(self, mutate):
        good = pc.encode_png(np.zeros((4, 4, 1), dtype=np.uint8))
        if mutate == "magic":
            bad = b"JUNK" + good[4:]
        elif mutate == "crc":
            b = bytearray(good)
            b[-6] ^= 0xFF  # inside IEND CRC
            bad = bytes(b)
        elif mutate == "interlace":
            ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1)
            bad = (
                b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", zlib.compress(b"\x00" * 20))
                + _chunk(b"IEND", b"")
            )
        elif mutate == "no_idat":
            ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
            bad = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b"")
        elif mutate == "truncated":
            bad = good[: len(good) - 10]
        else:  # invalid filter byte
            bad = _hand_png(2, 1, 8, 0, b"\x09\x01\x02")
        with pytest.raises(pc.PngError):
            pc.decode_png(bad)

    def test_fixture_header_only_png_is_rejected(self):
        # signature + a 64x48 RGBA IHDR with no CRC and no IDAT: a header
        # that sniffs as PNG but must take the quarantine path
        header_only = (
            b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
            + (64).to_bytes(4, "big") + (48).to_bytes(4, "big") + b"\x08\x06" + b"\x00" * 8
        )
        with pytest.raises(pc.PngError):
            pc.decode_png(header_only)


class TestRoundTrip:
    @pytest.mark.parametrize("ch", [1, 2, 3, 4])
    def test_uint8(self, ch):
        rng = np.random.default_rng(ch)
        a = rng.integers(0, 256, (13, 17, ch), dtype=np.uint8)
        b = pc.decode_png(pc.encode_png(a))
        assert b.shape == a.shape and (a == b).all()

    def test_uint16(self):
        rng = np.random.default_rng(16)
        a = rng.integers(0, 65536, (9, 5, 3)).astype(np.uint16)
        b = pc.decode_png(pc.encode_png(a))
        assert b.dtype == np.uint16 and (a == b).all()

    def test_encode_deterministic(self):
        a = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
        assert pc.encode_png(a) == pc.encode_png(a.copy())


class TestResample:
    def test_nearest_center_sampling(self):
        a = np.arange(100, dtype=np.uint8).reshape(10, 10, 1)
        r = pc.resize_nearest(a, 5, 5)
        # output (0,0) samples source floor(10/10)=1 -> pixel (1,1)
        assert r[0, 0, 0] == a[1, 1, 0]
        assert r.shape == (5, 5, 1)

    def test_nearest_upscale(self):
        a = np.array([[[0], [10]]], dtype=np.uint8)  # 1x2
        r = pc.resize_nearest(a, 4, 2)
        assert list(r[0, :, 0]) == [0, 0, 10, 10]
        assert (r[0] == r[1]).all()

    def test_nearest_identity(self):
        a = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
        assert (pc.resize_nearest(a, 4, 2) == a).all()

    def test_grid_mean_exact_blocks(self):
        a = np.array([[0, 2, 10, 10], [4, 6, 10, 14]], dtype=np.uint8)
        g = pc.grid_mean(a, 2, 1)
        assert g.shape == (1, 2)
        assert g[0, 0] == 3 and g[0, 1] == 11

    def test_grid_mean_uneven_bins_floor(self):
        a = np.arange(15, dtype=np.uint8).reshape(3, 5)
        g = pc.grid_mean(a, 2, 1)  # cols split [0,1] and [2,3,4]
        assert g[0, 0] == (0 + 1 + 5 + 6 + 10 + 11) // 6
        assert g[0, 1] == (2 + 3 + 4 + 7 + 8 + 9 + 12 + 13 + 14) // 9

    def test_grid_mean_rejects_upscale(self):
        with pytest.raises(ValueError):
            pc.grid_mean(np.zeros((2, 2), dtype=np.uint8), 4, 1)

    def test_luma(self):
        rgb = np.full((1, 1, 3), [100, 150, 200], dtype=np.uint8)
        assert pc.luma(rgb)[0, 0] == (299 * 100 + 587 * 150 + 114 * 200) // 1000
        gray = np.array([[[9]]], dtype=np.uint8)
        assert pc.luma(gray)[0, 0] == 9
        hi = np.full((1, 1, 1), 0x1234, dtype=np.uint16)
        assert pc.luma(hi)[0, 0] == 0x12
