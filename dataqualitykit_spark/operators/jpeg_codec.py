"""Pure-python/numpy baseline JPEG codec (no PIL/libjpeg in this
environment — the png_codec/gif_codec precedent: real byte-level
parsing, dependency-free, for the third major web image format).

Scope (documented, enforced with JpegError — callers route undecodable
payloads to quarantine/fallback):

- decode: baseline sequential DCT (SOF0), 8-bit samples, grayscale or
  YCbCr (1 or 3 components), any sampling factors (4:4:4 / 4:2:2 /
  4:2:0 handled by the general MCU loop), 0xFF byte-stuffing, DRI/RSTn
  restart intervals, APPn/COM skipped. Progressive (SOF2), arithmetic
  coding, 12-bit, and hierarchical modes raise JpegError.
- encode: baseline SOF0, grayscale or RGB input, 4:4:4 (no
  subsampling), Annex K quantization tables scaled by `quality`,
  Annex K Huffman tables. Deterministic: quantization rounds with
  floor(x + 0.5) (half-up, no banker's rounding).

JPEG is lossy, so round-trips are NOT byte- or pixel-exact in general;
fixtures that need construction-time ground truth use per-8x8-block
constant images, where only the DC coefficient is nonzero and the
decoded value has the closed form

    clamp(round(round((v - 128) * 8 / q00) * q00 / 8 + 128))

(the DCT of a constant block concentrates everything in DC; the float
IDCT of a DC-only block is exactly uniform, so the only rounding is the
quantizer's). tests/test_jpeg_codec.py pins the decoder against a
HAND-ASSEMBLED byte stream (the png/gif recipe: encode/decode pairs
cannot hide a joint bug) plus the closed form above.

Reference parity: the reference has no media handling; this module is
standalone and nothing in the keep/drop pipeline calls it.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["JpegError", "decode_jpeg", "encode_jpeg"]


class JpegError(ValueError):
    pass


# ---------------------------------------------------------------------------
# shared tables
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# ITU-T T.81 Annex K.1 — luminance / chrominance quantization tables
QTABLE_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QTABLE_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 Huffman specs: (BITS counts per code length 1..16, HUFFVAL)
HUFF_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUM = (
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
HUFF_AC_CHROM = (
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

# orthonormal DCT-II basis: forward F = T @ B @ T.T, inverse B = T.T @ F @ T
_T = np.zeros((8, 8))
_T[0, :] = 1.0 / np.sqrt(8.0)
for _k in range(1, 8):
    for _n in range(8):
        _T[_k, _n] = 0.5 * np.cos((2 * _n + 1) * _k * np.pi / 16.0)


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length), canonical JPEG code assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> value."""
    out: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _BitReader:
    """Entropy-coded segment reader: un-stuffs 0xFF00, surfaces RSTn,
    stops at any other marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.marker is not None:
            raise JpegError("bit read past marker")
        if self.pos >= len(self.data):
            raise JpegError("truncated entropy data")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise JpegError("truncated after 0xFF")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                # a real marker: don't consume payload bits from it
                self.marker = nxt
                self.pos += 1
                raise JpegError("bit read into marker")
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            if (length, code) in table:
                return table[(length, code)]
        raise JpegError("invalid huffman code")

    def sync_restart(self, expected: int) -> None:
        """Consume an RSTn marker at a restart boundary."""
        self.bitbuf = 0
        self.nbits = 0
        # markers may be preceded by fill bytes; scan for 0xFF Dx
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and self.data[self.pos + 1] != 0x00:
                m = self.data[self.pos + 1]
                if 0xD0 <= m <= 0xD7:
                    if m != 0xD0 + expected:
                        raise JpegError("restart marker out of sequence")
                    self.pos += 2
                    return
                raise JpegError(f"unexpected marker {m:#x} at restart")
            self.pos += 1
        raise JpegError("missing restart marker")


def _extend(v: int, size: int) -> int:
    if size == 0:
        return 0
    if v < (1 << (size - 1)):
        return v - (1 << size) + 1
    return v


def decode_jpeg(payload: bytes | None) -> np.ndarray:
    """Decode a baseline JPEG to uint8 (H, W, 1) grayscale or (H, W, 3)
    RGB (the decode_png channel convention). Raises JpegError on
    anything outside the documented scope."""
    if payload is None or len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise JpegError("not a JPEG")
    data = bytes(payload)
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None  # (h, w, comps) where comps = [(cid, hf, vf, tq)]
    restart_interval = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise JpegError("marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            raise JpegError("EOI before SOS")
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue  # standalone markers
        if pos + 2 > len(data):
            raise JpegError("truncated segment")
        seglen = struct.unpack(">H", data[pos : pos + 2])[0]
        seg = data[pos + 2 : pos + seglen]
        if len(seg) != seglen - 2:
            raise JpegError("truncated segment body")
        nxt = pos + seglen
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(np.int64)
                    p += 64
                elif pq == 1:
                    tbl = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(np.int64)
                    p += 128
                else:
                    raise JpegError("bad DQT precision")
                if tbl.size != 64:
                    raise JpegError("truncated DQT")
                qtables[tq] = tbl
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                if len(bits) != 16 or len(vals) != n:
                    raise JpegError("truncated DHT")
                htables[(tc, th)] = _huff_decode_table(bits, vals)
                p += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec, h, w, nc = seg[0], struct.unpack(">H", seg[1:3])[0], struct.unpack(">H", seg[3:5])[0], seg[5]
            if prec != 8:
                raise JpegError("only 8-bit precision supported")
            if h == 0 or w == 0:
                raise JpegError("zero dimension")
            if nc not in (1, 3):
                raise JpegError(f"{nc}-component images unsupported")
            comps = []
            for i in range(nc):
                cid = seg[6 + 3 * i]
                hv = seg[7 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, seg[8 + 3 * i]))
            frame = (h, w, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegError("non-baseline JPEG mode unsupported")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise JpegError("SOS before SOF")
            return _decode_scan(
                data, nxt, seg, frame, qtables, htables, restart_interval
            )
        # APPn / COM / others: skip
        pos = nxt
    raise JpegError("missing SOS")


def _decode_scan(data, pos, seg, frame, qtables, htables, restart_interval):
    h, w, comps = frame
    ns = seg[0]
    if ns != len(comps):
        raise JpegError("partial scans unsupported")
    scan_tables = {}
    for i in range(ns):
        cs, td_ta = seg[1 + 2 * i], seg[2 + 2 * i]
        scan_tables[cs] = (td_ta >> 4, td_ta & 0x0F)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {}
    for cid, hf, vf, tq in comps:
        planes[cid] = np.zeros((mcuy * vf * 8, mcux * hf * 8), dtype=np.float64)
        if tq not in qtables:
            raise JpegError("missing quantization table")
    reader = _BitReader(data, pos)
    pred = {cid: 0 for cid, _, _, _ in comps}
    rst_count = 0
    mcu_index = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                reader.sync_restart(rst_count % 8)
                rst_count += 1
                pred = {cid: 0 for cid, _, _, _ in comps}
            for cid, hf, vf, tq in comps:
                td, ta = scan_tables[cid]
                if (0, td) not in htables or (1, ta) not in htables:
                    raise JpegError("missing huffman table")
                dc_tab, ac_tab = htables[(0, td)], htables[(1, ta)]
                q = qtables[tq]
                for by in range(vf):
                    for bx in range(hf):
                        coefs = np.zeros(64, dtype=np.int64)
                        s = reader.decode_huff(dc_tab)
                        diff = _extend(reader.read_bits(s), s) if s else 0
                        pred[cid] += diff
                        coefs[0] = pred[cid]
                        k = 1
                        while k < 64:
                            rs = reader.decode_huff(ac_tab)
                            r, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise JpegError("AC coefficient overflow")
                            coefs[k] = _extend(reader.read_bits(size), size)
                            k += 1
                        block = np.zeros(64, dtype=np.float64)
                        block[ZIGZAG] = (coefs * q).astype(np.float64)
                        spatial = _T.T @ block.reshape(8, 8) @ _T
                        y0 = (my * vf + by) * 8
                        x0 = (mx * hf + bx) * 8
                        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = spatial
            mcu_index += 1
    # upsample to full resolution, crop, level shift
    out_planes = []
    for cid, hf, vf, _tq in comps:
        p = planes[cid]
        if hf != hmax or vf != vmax:
            p = np.repeat(np.repeat(p, vmax // vf, axis=0), hmax // hf, axis=1)
        out_planes.append(p[:h, :w] + 128.0)
    if len(out_planes) == 1:
        gray8 = np.clip(np.floor(out_planes[0] + 0.5), 0, 255).astype(np.uint8)
        return gray8.reshape(gray8.shape[0], gray8.shape[1], 1)  # the
        # (H, W, 1) gray convention decode_png uses (luma() expects 3-D)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nacc += length
        while self.nacc >= 8:
            self.nacc -= 8
            b = (self.acc >> self.nacc) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nacc:
            pad = 8 - self.nacc
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per T.81


def _scale_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = (base * scale + 50) // 100
    return np.clip(t, 1, 255)


def _mag_bits(v: int) -> tuple[int, int]:
    """(category, raw bits) for a DC diff / AC coefficient."""
    if v == 0:
        return (0, 0)
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return (size, bits)


def _encode_block(bw, block, qtable, dc_codes, ac_codes, pred):
    f = _T @ (block.astype(np.float64) - 128.0) @ _T.T
    zz = f.reshape(64)[ZIGZAG]
    q = np.floor(zz / qtable + 0.5).astype(np.int64)
    diff = int(q[0]) - pred
    size, bits = _mag_bits(diff)
    code, length = dc_codes[size]
    bw.write(code, length)
    if size:
        bw.write(bits, size)
    run = 0
    last_nz = 0
    nz = np.nonzero(q[1:])[0]
    last_nz = nz[-1] + 1 if nz.size else 0
    for k in range(1, last_nz + 1):
        v = int(q[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size, bits = _mag_bits(v)
        code, length = ac_codes[(run << 4) | size]
        bw.write(code, length)
        bw.write(bits, size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return int(q[0])


def encode_jpeg(arr: np.ndarray, quality: int = 90) -> bytes:
    """Encode uint8 (H, W) grayscale or (H, W, 3) RGB as baseline JPEG,
    4:4:4, Annex K tables scaled by quality."""
    if arr.ndim == 3 and arr.shape[2] == 1:
        arr = arr[:, :, 0]
    if arr.ndim == 2:
        gray = True
    elif arr.ndim == 3 and arr.shape[2] == 3:
        gray = False
    else:
        raise JpegError(f"unsupported array shape {arr.shape}")
    if arr.dtype != np.uint8:
        raise JpegError(f"unsupported dtype {arr.dtype}")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise JpegError("zero dimension")

    # tables in ZIGZAG order: DQT stores them that way, and _encode_block
    # quantizes the zigzag-scanned coefficients element-wise
    qlum = _scale_qtable(QTABLE_LUM, quality)[ZIGZAG]
    qchrom = _scale_qtable(QTABLE_CHROM, quality)[ZIGZAG]
    out = bytearray(b"\xff\xd8")  # SOI
    # JFIF APP0
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

    def dqt(tq, tbl):
        return b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(int(x) for x in tbl)

    out += dqt(0, qlum)
    if not gray:
        out += dqt(1, qchrom)
    # SOF0
    nc = 1 if gray else 3
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    sof += bytes([1, 0x11, 0])
    if not gray:
        sof += bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(tc, th, spec):
        bits, vals = spec
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, HUFF_DC_LUM) + dht(1, 0, HUFF_AC_LUM)
    if not gray:
        out += dht(0, 1, HUFF_DC_CHROM) + dht(1, 1, HUFF_AC_CHROM)
    # SOS
    sos = bytes([nc, 1, 0x00])
    if not gray:
        sos += bytes([2, 0x11, 3, 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    if gray:
        planes = [arr.astype(np.float64)]
        specs = [(qlum.astype(np.float64), _huff_codes(*HUFF_DC_LUM), _huff_codes(*HUFF_AC_LUM))]
    else:
        rf = arr[..., 0].astype(np.float64)
        gf = arr[..., 1].astype(np.float64)
        bf = arr[..., 2].astype(np.float64)
        y = 0.299 * rf + 0.587 * gf + 0.114 * bf
        cb = -0.168736 * rf - 0.331264 * gf + 0.5 * bf + 128.0
        cr = 0.5 * rf - 0.418688 * gf - 0.081312 * bf + 128.0
        planes = [y, cb, cr]
        lum_spec = (qlum.astype(np.float64), _huff_codes(*HUFF_DC_LUM), _huff_codes(*HUFF_AC_LUM))
        chrom_spec = (qchrom.astype(np.float64), _huff_codes(*HUFF_DC_CHROM), _huff_codes(*HUFF_AC_CHROM))
        specs = [lum_spec, chrom_spec, chrom_spec]

    # pad to multiples of 8 by edge replication
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    bw_writer = _BitWriter()
    preds = [0] * len(planes)
    padded = []
    for p in planes:
        pp = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
        padded.append(pp)
    for my in range(ph // 8):
        for mx in range(pw // 8):
            for ci, (qt, dc_codes, ac_codes) in enumerate(specs):
                block = padded[ci][my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8]
                preds[ci] = _encode_block(
                    bw_writer, block, qt, dc_codes, ac_codes, preds[ci]
                )
    bw_writer.flush()
    out += bw_writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
