"""Dependency-free GIF codec (pure-python LZW + numpy) — real pixels for
the second big web image format (PNG: operators/png_codec.py).

Decode scope: GIF87a/GIF89a, global or local color table, interlaced or
sequential rows, FIRST frame only (animation frames beyond the first are
ignored — the quality-pipeline use is perceptual hashing / thumbnailing,
where frame 1 is the convention). Transparency (GCE transparent index)
is surfaced as an alpha channel. Anything malformed raises GifError —
the quarantine route, mirroring PngError.

Encode scope (fixture/test support + thumbnail sink): single frame,
<=256-color palette built from the image's distinct colors, REAL LZW
compression (dictionary growth, code-width stepping, 4095-entry cap with
clear-code reset) — so decode round-trips exercise the multi-char
dictionary paths, not just literal codes.

LZW is an inherently sequential bit-stream (no vectorizing it);
per-payload cost is linear in pixels.
"""

from __future__ import annotations

import numpy as np


class GifError(ValueError):
    """Raised for anything this codec does not decode. Callers treat it
    as the quarantine route, never as a crash."""


_MAX_CODE = 4096  # 12-bit LZW ceiling per the GIF spec


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """GIF-flavor LZW: variable-width codes read LSB-first, clear/end
    codes, dictionary capped at 4096 entries."""
    if not 2 <= min_code_size <= 11:
        raise GifError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1

    def fresh():
        return [bytes([i]) for i in range(clear)] + [b"", b""]

    table = fresh()
    code_size = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos, total_bits = 0, len(data) * 8
    while bitpos + code_size <= total_bits and len(out) < n_pixels:
        byte_i = bitpos >> 3
        window = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (window >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            table = fresh()
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise GifError("LZW: first code not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < _MAX_CODE:
                table.append(prev + entry[:1])
        elif code == len(table):  # the cScSc self-reference case
            entry = prev + prev[:1]
            if len(table) < _MAX_CODE:
                table.append(entry)
        else:
            raise GifError("LZW: code past dictionary")
        out += entry
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
    if len(out) < n_pixels:
        raise GifError("LZW: pixel stream short")
    return bytes(out[:n_pixels])


def _deinterlace(idx: np.ndarray) -> np.ndarray:
    """GIF 4-pass interlace: rows 0,8,16.. then 4,12.. then 2,6.. then
    odd rows."""
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


def _walk_frames(payload: bytes):
    """Yield (left, top, idx, table, transparent, delay_ms, disposal)
    per image frame after parsing the header; `idx` is the deinterlaced
    (h, w) palette-index array. Shared by decode_gif (first frame) and
    decode_gif_frames (animation compositing)."""
    if payload is None or len(payload) < 13:
        raise GifError("not a GIF")
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise GifError("not a GIF")
    packed = payload[10]
    gct = None
    pos = 13
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(payload):
            raise GifError("truncated global color table")
        gct = np.frombuffer(payload[pos : pos + 3 * n], dtype=np.uint8).reshape(
            n, 3
        )
        pos += 3 * n
    transparent: int | None = None
    delay_ms = 0
    disposal = 0
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            return
        if block == 0x21:  # extension: label + sub-blocks
            if pos + 2 > len(payload):
                raise GifError("truncated extension")
            label = payload[pos + 1]
            pos += 2
            sub_start = pos
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            if pos >= len(payload):
                raise GifError("unterminated extension")
            if label == 0xF9 and payload[sub_start] >= 4:
                flags = payload[sub_start + 1]
                disposal = (flags >> 2) & 0x07
                delay_ms = (
                    int.from_bytes(
                        payload[sub_start + 2 : sub_start + 4], "little"
                    )
                    * 10
                )
                transparent = (
                    payload[sub_start + 4] if flags & 0x01 else None
                )
            pos += 1  # block terminator
            continue
        if block != 0x2C:
            raise GifError(f"unknown block 0x{block:02x}")
        # image descriptor
        if pos + 10 > len(payload):
            raise GifError("truncated image descriptor")
        left = int.from_bytes(payload[pos + 1 : pos + 3], "little")
        top = int.from_bytes(payload[pos + 3 : pos + 5], "little")
        w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
        h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
        ipacked = payload[pos + 9]
        pos += 10
        table = gct
        if ipacked & 0x80:  # local color table
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(payload):
                raise GifError("truncated local color table")
            table = np.frombuffer(
                payload[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        if table is None:
            raise GifError("no color table")
        if w == 0 or h == 0:
            raise GifError("zero dimension")
        if pos >= len(payload):
            raise GifError("missing LZW data")
        min_code = payload[pos]
        pos += 1
        chunks = []
        while pos < len(payload) and payload[pos] != 0:
            n = payload[pos]
            chunk = payload[pos + 1 : pos + 1 + n]
            if len(chunk) < n:
                raise GifError("truncated data sub-block")
            chunks.append(chunk)
            pos += 1 + n
        if pos >= len(payload):
            raise GifError("unterminated data sub-blocks")
        pos += 1  # data terminator
        stream = _lzw_decode(b"".join(chunks), min_code, w * h)
        idx = np.frombuffer(stream, dtype=np.uint8).reshape(h, w)
        if int(idx.max(initial=0)) >= table.shape[0]:
            raise GifError("palette index out of range")
        if ipacked & 0x40:
            idx = _deinterlace(idx)
        yield left, top, idx, table, transparent, delay_ms, disposal
        transparent, delay_ms, disposal = None, 0, 0  # GCE is per-frame


def decode_gif(payload: bytes | None) -> np.ndarray:
    """GIF bytes -> numpy uint8 array (h, w, 3) — or (h, w, 4) when the
    first frame's graphic-control extension marks a transparent index.
    First frame only (its rectangle, not the logical screen); use
    decode_gif_frames for animations."""
    for left, top, idx, table, transparent, _d, _disp in _walk_frames(payload):
        rgb = table[idx]
        if transparent is not None and transparent < table.shape[0]:
            alpha = np.where(idx == transparent, 0, 255).astype(np.uint8)
            return np.dstack([rgb, alpha])
        return rgb
    raise GifError("no image frame")


def decode_gif_frames(
    payload: bytes | None, max_frames: int | None = None
) -> list[tuple[np.ndarray, int]]:
    """Animated GIF -> [(canvas_rgb, timestamp_ms), ...]: each frame's
    rectangle composited onto the logical screen (transparent pixels
    leave the canvas untouched), timestamps from the cumulative GCE
    delays (timestamp of frame k = sum of delays BEFORE it, so frame 0
    is at 0 ms). Disposal methods: 0/1 leave the canvas, 2 restores
    background (transparent/black) over the frame rect, 3 (restore
    previous — vanishingly rare) is treated as 1. The canvas starts
    black: background-color fill varies across real decoders and black
    is the deterministic choice."""
    if payload is None or len(payload) < 13:
        raise GifError("not a GIF")
    screen_w = int.from_bytes(payload[6:8], "little")
    screen_h = int.from_bytes(payload[8:10], "little")
    if screen_w == 0 or screen_h == 0:
        raise GifError("zero logical screen")
    canvas = np.zeros((screen_h, screen_w, 3), dtype=np.uint8)
    frames: list[tuple[np.ndarray, int]] = []
    t = 0
    for left, top, idx, table, transparent, delay_ms, disposal in _walk_frames(
        payload
    ):
        h, w = idx.shape
        if top + h > screen_h or left + w > screen_w:
            raise GifError("frame rect outside logical screen")
        region = canvas[top : top + h, left : left + w]
        rgb = table[idx]
        if transparent is not None:
            mask = (idx != transparent)[:, :, None]
            region[:] = np.where(mask, rgb, region)
        else:
            region[:] = rgb
        frames.append((canvas.copy(), t))
        t += delay_ms
        if disposal == 2:  # restore background over the frame rect
            canvas[top : top + h, left : left + w] = 0
        if max_frames is not None and len(frames) >= max_frames:
            break
    if not frames:
        raise GifError("no image frame")
    return frames


def _lzw_encode(indexes: bytes, min_code_size: int) -> bytes:
    """Real GIF LZW: greedy longest-match dictionary, variable code
    width, clear-code reset at the 4096 ceiling."""
    clear = 1 << min_code_size
    end = clear + 1
    out_bits: list[tuple[int, int]] = []  # (code, width)

    def fresh():
        return {bytes([i]): i for i in range(clear)}

    table = fresh()
    next_code = end + 1
    code_size = min_code_size + 1
    out_bits.append((clear, code_size))
    run = b""
    for b in indexes:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        out_bits.append((table[run], code_size))
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << code_size) and code_size < 12:
            code_size += 1
        if next_code >= _MAX_CODE:
            out_bits.append((clear, code_size))
            table = fresh()
            next_code = end + 1
            code_size = min_code_size + 1
        run = bytes([b])
    if run:
        out_bits.append((table[run], code_size))
    out_bits.append((end, code_size))
    # pack LSB-first
    acc = bitlen = 0
    data = bytearray()
    for code, width in out_bits:
        acc |= code << bitlen
        bitlen += width
        while bitlen >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            bitlen -= 8
    if bitlen:
        data.append(acc & 0xFF)
    return bytes(data)


def _as_rgb(arr: np.ndarray) -> np.ndarray:
    if arr.dtype != np.uint8:
        raise GifError(f"unsupported dtype {arr.dtype}")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in (1, 3):
        raise GifError(f"unsupported shape {arr.shape}")
    return np.repeat(arr, 3, axis=2) if arr.shape[2] == 1 else arr


def _encode_frames(frames: list[np.ndarray], delays_ms: list[int] | None) -> bytes:
    """Shared single/multi-frame GIF89a writer: one GLOBAL palette from
    the union of all frames' distinct colors (<=256 — GifError
    otherwise; quantization is out of scope), real LZW per frame, a GCE
    with the frame's delay when animating."""
    rgbs = [_as_rgb(f) for f in frames]
    h, w = rgbs[0].shape[:2]
    if any(r.shape[:2] != (h, w) for r in rgbs):
        raise GifError("animation frames must share dimensions")
    flat = np.concatenate([r.reshape(-1, 3) for r in rgbs])
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if colors.shape[0] > 256:
        raise GifError(f"{colors.shape[0]} distinct colors (>256)")
    # palette size must be a power of two >= 2 per the size field
    size_pow = 1
    while (2 << size_pow - 1) < max(colors.shape[0], 2):
        size_pow += 1
    n_pal = 2 << size_pow - 1
    pal = np.zeros((n_pal, 3), dtype=np.uint8)
    pal[: colors.shape[0]] = colors
    min_code = max(2, size_pow)
    out = bytearray()
    out += b"GIF89a"
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | ((size_pow - 1) & 0x07), 0, 0])  # GCT flag + size
    out += pal.tobytes()
    inverse = inverse.reshape(len(rgbs), h * w)
    for k in range(len(rgbs)):
        if delays_ms is not None:
            delay_cs = max(0, delays_ms[k]) // 10
            out += bytes([0x21, 0xF9, 4, 0x04])  # GCE, disposal=1
            out += delay_cs.to_bytes(2, "little") + b"\x00\x00"
        out += b"\x2c" + b"\x00" * 4  # image descriptor at (0, 0)
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00"
        out += bytes([min_code])
        lzw = _lzw_encode(inverse[k].astype(np.uint8).tobytes(), min_code)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def encode_gif(arr: np.ndarray) -> bytes:
    """numpy uint8 (h, w), (h, w, 1) or (h, w, 3) -> single-frame GIF89a
    with a palette of the image's distinct colors (<=256 required —
    GifError otherwise). Gray input maps each level to a (v, v, v)
    palette entry. Deterministic output: palette sorted by color, real
    LZW."""
    return _encode_frames([arr], None)


def encode_gif_animation(
    frames: list[np.ndarray], delays_ms: list[int]
) -> bytes:
    """Full-screen animation frames (same dims, shared <=256-color
    global palette) -> animated GIF89a with per-frame GCE delays
    (centisecond granularity per the format — delays round DOWN to
    10 ms). Deterministic output."""
    if len(frames) != len(delays_ms) or not frames:
        raise GifError("frames/delays mismatch")
    return _encode_frames(frames, delays_ms)
