"""Dependency-free PNG codec (stdlib zlib + numpy) — the real pixel path.

The task brief allowed stubbing pixel decode "because the image/audio libs
aren't in this container", but PNG needs no library: DEFLATE is stdlib
`zlib` and the rest of the format (chunk walk, CRC-32, scanline
unfiltering, bit unpacking, palette expansion) is byte math. This module
is standalone: nothing in the keep/drop pipeline calls it (reference
parity: DataQualityKit has no media ops at all).

Scope (documented, enforced with PngError — callers route undecodable
payloads to quarantine):
  - bit depths 1/2/4/8/16; color types 0 (gray), 2 (RGB), 3 (palette),
    4 (gray+alpha), 6 (RGBA); all five scanline filters.
  - palette rows expand to RGB (RGBA when a tRNS chunk is present).
  - Adam7 interlace is rejected (rare in web corpora; a cluster with PIL
    can swap the decoder behind the same function signature).
  - chunk CRCs are verified — torn/corrupt payloads fail loudly into the
    quarantine route instead of yielding garbage pixels.

Performance shape: runs inside Arrow-batched mapInPandas (bounded batch
memory, one python worker per core). Unfiltering is numpy-vectorized for
filters 0/None, 1/Sub (per-byte-lane cumsum) and 2/Up; Average and Paeth
carry an inherent along-row dependency and fall back to a bytearray loop
(our own encoder emits filter 0, so round-trips stay on the fast path).

Determinism: decode output is exact by spec; `resize_nearest` uses exact
integer center-sampling and `grid_mean` uses integer reduceat sums with
floor division — bit-identical across partitionings, platforms and batch
boundaries (the property every driver oracle in this repo leans on).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# samples per pixel by color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class PngError(ValueError):
    """Raised for anything this codec does not decode (bad magic, CRC
    mismatch, interlace, truncated stream). Callers treat it as the
    quarantine route, never as a crash."""


def _iter_chunks(payload: bytes):
    """Yield (type, data) for each chunk, verifying length and CRC-32."""
    pos, n = 8, len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        end = pos + 8 + length
        if end + 4 > n:
            raise PngError("truncated chunk")
        data = payload[pos + 8 : end]
        (crc,) = struct.unpack(">I", payload[end : end + 4])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise PngError(f"CRC mismatch in {ctype!r}")
        yield ctype, data
        pos = end + 4
        if ctype == b"IEND":
            return
    raise PngError("missing IEND")


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> bytes:
    """Reverse the per-scanline filters. Filters 0/1/2 are numpy
    (copy / per-lane cumsum / vectorized add); 3/4 loop a bytearray
    because the prediction chains along the row."""
    need = height * (stride + 1)
    if len(raw) < need:
        raise PngError("truncated pixel stream")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        base = y * (stride + 1)
        ftype = raw[base]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=base + 1)
        if ftype == 0:
            cur = line.copy()
        elif ftype == 1:  # Sub: cumsum mod 256 independently per byte lane
            cur = line.copy()
            for lane in range(bpp):
                cur[lane::bpp] = np.cumsum(
                    cur[lane::bpp], dtype=np.uint64
                ).astype(np.uint8)
        elif ftype == 2:  # Up
            cur = line + prev
        elif ftype in (3, 4):  # Average / Paeth: sequential along the row
            buf = bytearray(line.tobytes())
            pv = prev
            if ftype == 3:
                for i in range(stride):
                    a = buf[i - bpp] if i >= bpp else 0
                    buf[i] = (buf[i] + ((a + int(pv[i])) >> 1)) & 0xFF
            else:
                for i in range(stride):
                    a = buf[i - bpp] if i >= bpp else 0
                    b = int(pv[i])
                    c = int(pv[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    buf[i] = (buf[i] + pred) & 0xFF
            cur = np.frombuffer(bytes(buf), dtype=np.uint8)
        else:
            raise PngError(f"unknown filter {ftype}")
        out[y] = cur
        prev = out[y]
    return out.tobytes()


def _unpack_subbyte(row: bytes, depth: int, width: int) -> np.ndarray:
    """1/2/4-bit samples (gray or palette indexes) -> one uint8 per
    sample, most-significant bits first per the spec."""
    bits = np.unpackbits(np.frombuffer(row, dtype=np.uint8))
    per = bits[: (len(bits) // depth) * depth].reshape(-1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (per * weights).sum(axis=1).astype(np.uint8)[:width]


def decode_png(payload: bytes | None) -> np.ndarray:
    """PNG bytes -> numpy array of shape (h, w, channels); dtype uint8
    (bit depths <=8; sub-byte gray is rescaled to the full 0..255 range)
    or uint16 (bit depth 16). Palette images expand to RGB, or RGBA when
    tRNS palette alpha is present. Raises PngError on anything outside
    the documented scope."""
    if payload is None or len(payload) < 8 or payload[:8] != _PNG_SIG:
        raise PngError("not a PNG")
    width = height = depth = ctype = None
    plte: bytes | None = None
    trns: bytes | None = None
    idat: list[bytes] = []
    for name, data in _iter_chunks(payload):
        if name == b"IHDR":
            if len(data) != 13:
                raise PngError("bad IHDR")
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if comp != 0 or filt != 0:
                raise PngError("nonstandard compression/filter method")
            if interlace != 0:
                raise PngError("Adam7 interlace unsupported")
            if ctype not in _CHANNELS:
                raise PngError(f"color type {ctype} unsupported")
            allowed = {
                0: (1, 2, 4, 8, 16),
                2: (8, 16),
                3: (1, 2, 4, 8),
                4: (8, 16),
                6: (8, 16),
            }[ctype]
            if depth not in allowed:
                raise PngError(f"bit depth {depth} invalid for type {ctype}")
            if width == 0 or height == 0:
                raise PngError("zero dimension")
        elif name == b"PLTE":
            plte = data
        elif name == b"tRNS":
            trns = data
        elif name == b"IDAT":
            idat.append(data)
    if width is None:
        raise PngError("missing IHDR")
    if not idat:
        raise PngError("missing IDAT")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:  # corrupt DEFLATE stream
        raise PngError(f"zlib: {exc}") from exc

    ch = _CHANNELS[ctype]
    stride = (width * ch * depth + 7) // 8
    bpp = max(1, ch * depth // 8)
    flat = _unfilter(raw, height, stride, bpp)

    if depth == 16:
        arr = np.frombuffer(flat, dtype=">u2").reshape(height, width, ch)
        arr = arr.astype(np.uint16)
    elif depth == 8:
        arr = np.frombuffer(flat, dtype=np.uint8).reshape(height, width, ch)
    else:  # 1/2/4-bit gray or palette indexes, one sample per pixel
        rows = [
            _unpack_subbyte(flat[y * stride : (y + 1) * stride], depth, width)
            for y in range(height)
        ]
        arr = np.stack(rows).reshape(height, width, 1)
        if ctype == 0:  # rescale gray to full range (255 // (2^d - 1) exact)
            arr = (arr.astype(np.uint16) * (255 // ((1 << depth) - 1))).astype(
                np.uint8
            )

    if ctype == 3:  # palette -> RGB(A)
        if plte is None or len(plte) % 3:
            raise PngError("palette image without valid PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = arr[:, :, 0]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise PngError("palette index out of range")
        rgb = pal[idx]
        if trns is not None:
            alpha = np.full(pal.shape[0], 255, dtype=np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return np.dstack([rgb, alpha[idx]])
        return rgb
    return arr


def encode_png(arr: np.ndarray) -> bytes:
    """numpy (h, w[, channels]) uint8/uint16 -> PNG bytes. Channels map
    1->gray, 2->gray+alpha, 3->RGB, 4->RGBA; every scanline uses filter 0
    (keeps decode on the vectorized path). Output is deterministic:
    zlib.compress level 6, fixed chunk layout."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in (1, 2, 3, 4):
        raise PngError(f"unsupported array shape {arr.shape}")
    if arr.dtype == np.uint8:
        depth, body = 8, arr
    elif arr.dtype == np.uint16:
        depth, body = 16, arr.astype(">u2")
    else:
        raise PngError(f"unsupported dtype {arr.dtype}")
    h, w, ch = arr.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
    rows = body.reshape(h, -1).view(np.uint8) if depth == 16 else body.reshape(h, -1)
    filtered = b"".join(b"\x00" + rows[y].tobytes() for y in range(h))
    idat = zlib.compress(filtered, 6)

    def chunk(name: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + name
            + data
            + struct.pack(">I", zlib.crc32(name + data) & 0xFFFFFFFF)
        )

    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# Deterministic resampling primitives (shared by resize_images and dHash).
# ---------------------------------------------------------------------------


def resize_nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resample with exact integer CENTER sampling:
    source index for output i is floor(((2*i + 1) * in) / (2 * out)) —
    the pixel whose center is nearest to the output pixel's center.
    Pure integer math: bit-identical everywhere."""
    if out_w <= 0 or out_h <= 0:
        raise ValueError("target dimensions must be positive")
    h, w = arr.shape[:2]
    ys = ((2 * np.arange(out_h, dtype=np.int64) + 1) * h) // (2 * out_h)
    xs = ((2 * np.arange(out_w, dtype=np.int64) + 1) * w) // (2 * out_w)
    return arr[ys][:, xs]


def grid_mean(arr2d: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Area-style downscale of a 2-D plane: rows/cols are split into
    out_h/out_w contiguous bins with boundaries floor(i*in/out) and each
    cell becomes the FLOOR of the bin mean — integer reduceat sums over
    int64, so the result is exact and order-independent (the dHash
    pre-pool). Requires in >= out on both axes."""
    h, w = arr2d.shape
    if h < out_h or w < out_w:
        raise ValueError("grid_mean only downsamples")
    yb = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xb = (np.arange(out_w, dtype=np.int64) * w) // out_w
    ycnt = np.diff(np.append(yb, h))
    xcnt = np.diff(np.append(xb, w))
    sums = np.add.reduceat(
        np.add.reduceat(arr2d.astype(np.int64), yb, axis=0), xb, axis=1
    )
    return sums // (ycnt[:, None] * xcnt[None, :])


def luma(arr: np.ndarray) -> np.ndarray:
    """Integer Rec.601 luma plane from a decoded array: gray passes
    through, RGB(A) folds as (299R + 587G + 114B) // 1000; 16-bit input
    drops to 8-bit by >> 8. Exact integer math throughout."""
    if arr.dtype == np.uint16:
        arr = (arr >> 8).astype(np.uint8)
    ch = arr.shape[2]
    if ch in (1, 2):  # gray / gray+alpha
        return arr[:, :, 0]
    r = arr[:, :, 0].astype(np.int64)
    g = arr[:, :, 1].astype(np.int64)
    b = arr[:, :, 2].astype(np.int64)
    return ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8)
