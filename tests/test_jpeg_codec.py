"""Baseline JPEG codec (operators/jpeg_codec.py).

The decoder is pinned against a HAND-ASSEMBLED byte stream (marker
segments + entropy bits built directly from the T.81 spec tables, never
via encode_jpeg) plus the DC-only closed form, so an encode/decode pair
cannot hide a joint bug. Lossy legs use tolerance; flat-block legs are
exact.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from dataqualitykit_spark.operators.jpeg_codec import (
    HUFF_AC_LUM,
    HUFF_DC_LUM,
    JpegError,
    ZIGZAG,
    _huff_codes,
    decode_jpeg,
    encode_jpeg,
)


class _Bits:
    def __init__(self):
        self.bits = []

    def put(self, code, length):
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def tobytes(self):
        while len(self.bits) % 8:
            self.bits.append(1)  # pad with 1s per spec
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        return bytes(out)


def _hand_jpeg_gray8x8(dc_q: int, q00: int = 16) -> bytes:
    """Hand-assemble a 1-component 8x8 baseline JPEG whose single block
    has quantized DC = dc_q and no AC (uniform quant table q00)."""
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + bytes([q00] * 64)
    sof = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, spec in ((0, HUFF_DC_LUM), (1, HUFF_AC_LUM)):
        bits, vals = spec
        body = bytes([(tc << 4) | 0]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    dc_codes = _huff_codes(*HUFF_DC_LUM)
    ac_codes = _huff_codes(*HUFF_AC_LUM)
    bw = _Bits()
    size = abs(dc_q).bit_length() if dc_q else 0
    code, length = dc_codes[size]
    bw.put(code, length)
    if size:
        bw.put(dc_q if dc_q > 0 else dc_q + (1 << size) - 1, size)
    code, length = ac_codes[0x00]  # EOB
    bw.put(code, length)
    out += bw.tobytes()
    out += b"\xff\xd9"
    return bytes(out)


def test_hand_assembled_flat_block():
    # DC-only closed form: pixel = clamp(round(dc_q * q00 / 8 + 128))
    for dc_q, q00 in ((16, 16), (-20, 16), (0, 16), (5, 24)):
        img = decode_jpeg(_hand_jpeg_gray8x8(dc_q, q00))
        exp = int(np.clip(np.floor(dc_q * q00 / 8.0 + 0.5) + 128, 0, 255))
        assert img.shape == (8, 8, 1)
        assert (img == exp).all(), (dc_q, q00, img[0, 0], exp)


def test_hand_assembled_with_ac_matches_spec_idct():
    """One AC coefficient set by hand; expected pixels from the raw T.81
    IDCT formula (independent double loop, not the codec's matrices)."""
    q00 = 16
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + bytes([q00] * 64)
    sof = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, spec in ((0, HUFF_DC_LUM), (1, HUFF_AC_LUM)):
        bits, vals = spec
        body = bytes([(tc << 4) | 0]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    dc_codes = _huff_codes(*HUFF_DC_LUM)
    ac_codes = _huff_codes(*HUFF_AC_LUM)
    bw = _Bits()
    # DC = 16
    code, length = dc_codes[5]
    bw.put(code, length)
    bw.put(16, 5)
    # first zigzag AC (natural (0,1)) = 3: run 0, size 2
    code, length = ac_codes[0x02]
    bw.put(code, length)
    bw.put(3, 2)
    code, length = ac_codes[0x00]  # EOB
    bw.put(code, length)
    out += bw.tobytes()
    out += b"\xff\xd9"
    img = decode_jpeg(bytes(out))

    # independent IDCT per T.81 A.3.3
    coef = np.zeros((8, 8))
    coef[0, 0] = 16 * q00
    coef[0, 1] = 3 * q00
    exp = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * coef[u, v]
                        * np.cos((2 * x + 1) * v * np.pi / 16)
                        * np.cos((2 * y + 1) * u * np.pi / 16)
                    )
            exp[y, x] = s / 4.0
    exp_px = np.clip(np.floor(exp + 128 + 0.5), 0, 255).astype(np.uint8)
    assert (img[:, :, 0] == exp_px).all()


def test_roundtrip_flat_gray_exact():
    for v in (0, 37, 128, 160, 255):
        img = np.full((16, 24), v, dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(img, quality=90))
        assert dec.shape == (16, 24, 1)
        # closed form through the quantizer (q00 at quality 90 = 3)
        dc_q = np.floor((v - 128) * 8.0 / 3 + 0.5)
        exp = int(np.clip(np.floor(dc_q * 3 / 8.0 + 0.5) + 128, 0, 255))
        assert (dec == exp).all(), (v, dec[0, 0], exp)


def test_roundtrip_flat_rgb_near_exact():
    img = np.zeros((8, 16, 3), dtype=np.uint8)
    img[..., 0], img[..., 1], img[..., 2] = 200, 100, 50
    dec = decode_jpeg(encode_jpeg(img, quality=95))
    assert dec.shape == (8, 16, 3)
    # flat image -> every output pixel identical, near the input color
    assert (dec == dec[0, 0]).all()
    assert np.abs(dec[0, 0].astype(int) - [200, 100, 50]).max() <= 4


def test_roundtrip_gradient_tolerance_and_determinism():
    rng = np.random.RandomState(7)
    img = (
        np.linspace(0, 255, 32 * 48).reshape(32, 48)
        + rng.randint(-8, 8, (32, 48))
    ).clip(0, 255).astype(np.uint8)
    enc1 = encode_jpeg(img, quality=98)
    enc2 = encode_jpeg(img, quality=98)
    assert enc1 == enc2  # deterministic bytes
    dec = decode_jpeg(enc1)[:, :, 0]
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 12


def test_non_multiple_of_8_dimensions():
    # smooth gradient (no wrap edges -> no ringing past the bound)
    img = (
        np.arange(13)[:, None] * 3 + np.arange(21)[None, :] * 2
    ).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=95))[:, :, 0]
    assert dec.shape == (13, 21)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 12


def test_rejections():
    with pytest.raises(JpegError):
        decode_jpeg(None)
    with pytest.raises(JpegError):
        decode_jpeg(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(JpegError):
        decode_jpeg(b"\xff\xd8\xff\xd9")  # no SOS
    # progressive SOF2 rejected
    buf = bytearray(b"\xff\xd8")
    sof = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    buf += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    with pytest.raises(JpegError):
        decode_jpeg(bytes(buf))
    with pytest.raises(JpegError):
        encode_jpeg(np.zeros((4, 4), dtype=np.float64))
    with pytest.raises(JpegError):
        encode_jpeg(np.zeros((0, 4), dtype=np.uint8))


def test_zigzag_is_a_permutation():
    assert sorted(ZIGZAG.tolist()) == list(range(64))


def test_hand_assembled_420_subsampled():
    """Hand-built 16x16 4:2:0 color JPEG (one MCU: 4 Y blocks + 1 Cb +
    1 Cr, all flat) — exercises the decoder's general MCU loop and
    chroma upsampling. Expected RGB from the JFIF equations on the
    closed-form flat plane values."""
    from dataqualitykit_spark.operators.jpeg_codec import (
        HUFF_AC_CHROM,
        HUFF_DC_CHROM,
    )

    q00 = 8  # cancels the DC gain: flat planes decode exactly
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + bytes([q00] * 64)
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([1]) + bytes([q00] * 64)
    sof = bytes([8]) + struct.pack(">HH", 16, 16) + bytes([3])
    sof += bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])  # Y 2x2, Cb/Cr 1x1
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, th, spec in (
        (0, 0, HUFF_DC_LUM), (1, 0, HUFF_AC_LUM),
        (0, 1, HUFF_DC_CHROM), (1, 1, HUFF_AC_CHROM),
    ):
        bits, vals = spec
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_lum = _huff_codes(*HUFF_DC_LUM)
    ac_lum = _huff_codes(*HUFF_AC_LUM)
    dc_chrom = _huff_codes(*HUFF_DC_CHROM)
    ac_chrom = _huff_codes(*HUFF_AC_CHROM)
    bw = _Bits()

    def put_dc(codes, diff):
        size = abs(diff).bit_length() if diff else 0
        c, ln = codes[size]
        bw.put(c, ln)
        if size:
            bw.put(diff if diff > 0 else diff + (1 << size) - 1, size)

    # Y plane flat 160 -> dc 32 (diff 32 on first block, then 0);
    # Cb flat 100 -> dc -28; Cr flat 140 -> dc 12 (q00=8 exact)
    put_dc(dc_lum, 32)
    c, ln = ac_lum[0x00]; bw.put(c, ln)
    for _ in range(3):
        put_dc(dc_lum, 0)
        c, ln = ac_lum[0x00]; bw.put(c, ln)
    put_dc(dc_chrom, -28)
    c, ln = ac_chrom[0x00]; bw.put(c, ln)
    put_dc(dc_chrom, 12)
    c, ln = ac_chrom[0x00]; bw.put(c, ln)
    out += bw.tobytes()
    out += b"\xff\xd9"

    img = decode_jpeg(bytes(out))
    assert img.shape == (16, 16, 3)
    assert (img == img[0, 0]).all()  # flat everywhere after upsampling
    y, cb, cr = 160.0, 100.0, 140.0
    exp_r = int(np.clip(np.floor(y + 1.402 * (cr - 128) + 0.5), 0, 255))
    exp_g = int(np.clip(np.floor(
        y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5), 0, 255))
    exp_b = int(np.clip(np.floor(y + 1.772 * (cb - 128) + 0.5), 0, 255))
    assert img[0, 0].tolist() == [exp_r, exp_g, exp_b]
