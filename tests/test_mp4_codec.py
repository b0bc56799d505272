"""MP4/MJPEG container math pinned against HAND-BUILT byte streams (the
png/gif/jpeg codec discipline: the demuxer is verified on boxes assembled
inline, so mux/demux can't self-consistently hide a layout bug), plus
mux->demux round-trips and the header a generic MP4 reader sees."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from dataqualitykit_spark.operators import jpeg_codec, mp4_codec
from dataqualitykit_spark.operators.mp4_codec import (
    Mp4Error,
    demux_mjpeg,
    mux_mjpeg,
)


def _b(name: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + name + body


def _f(name: bytes, body: bytes, ver=0, flags=0) -> bytes:
    return _b(name, bytes([ver]) + flags.to_bytes(3, "big") + body)


def _hand_built() -> tuple[bytes, list[tuple[bytes, int]]]:
    """Two chunks, two stsc runs, non-uniform stsz, timescale 500 (so
    start_ms = 2 * stts units), and a leading AUDIO trak that must be
    skipped. Samples are opaque bytes — the demuxer never decodes."""
    s = [b"AAA", b"BBBB", b"CC"]
    ftyp = _b(b"ftyp", b"isom" + b"\x00" * 4 + b"isom")
    mdat = _b(b"mdat", b"".join(s))
    base = len(ftyp) + 8

    def video_entry(fmt: bytes) -> bytes:
        return _b(
            fmt,
            b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
            + struct.pack(">HH", 64, 48) + b"\x00" * 50,
        )

    stsd = _f(b"stsd", struct.pack(">I", 1) + video_entry(b"jpeg"))
    stts = _f(b"stts", struct.pack(">IIIII", 2, 2, 100, 1, 200))
    stsc = _f(
        b"stsc", struct.pack(">I", 2) + struct.pack(">IIIIII", 1, 2, 1, 2, 1, 1)
    )
    stsz = _f(b"stsz", struct.pack(">IIIII", 0, 3, 3, 4, 2))
    stco = _f(b"stco", struct.pack(">III", 2, base, base + 7))
    stbl = _b(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _b(b"minf", stbl)
    mdhd = _f(b"mdhd", struct.pack(">IIIIHH", 0, 0, 500, 400, 0x55C4, 0))
    hdlr_v = _f(b"hdlr", struct.pack(">I", 0) + b"vide" + b"\x00" * 13)
    mdia_v = _b(b"mdia", mdhd + hdlr_v + minf)

    hdlr_a = _f(b"hdlr", struct.pack(">I", 0) + b"soun" + b"\x00" * 13)
    mdia_a = _b(b"mdia", mdhd + hdlr_a)
    trak_audio = _b(b"trak", mdia_a)
    trak_video = _b(b"trak", mdia_v)
    mvhd = _f(b"mvhd", struct.pack(">IIII", 0, 0, 500, 400) + b"\x00" * 80)
    moov = _b(b"moov", mvhd + trak_audio + trak_video)
    # expected start_ms: stts units 0, 100, 200 at timescale 500 -> x2
    return ftyp + mdat + moov, [(s[0], 0), (s[1], 200), (s[2], 400)]


def test_demux_hand_built_stream():
    blob, expected = _hand_built()
    w, h, samples = demux_mjpeg(blob)
    assert (w, h) == (64, 48)
    assert samples == expected


def test_demux_largesize_mdat():
    blob, expected = _hand_built()
    # rewrite mdat as a 64-bit largesize box; stco offsets shift by 8
    i = blob.index(b"mdat") - 4
    size = struct.unpack(">I", blob[i : i + 4])[0]
    body = blob[i + 8 : i + size]
    big = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(body)) + body
    blob2 = blob[:i] + big + blob[i + size :]
    old_base = i + 8
    stco_at = blob2.index(b"stco") + 12
    blob2 = bytearray(blob2)
    for k in (0, 7):
        off_at = stco_at + (0 if k == 0 else 4)
        struct.pack_into(">I", blob2, off_at, old_base + 8 + k)
    _, _, samples = demux_mjpeg(bytes(blob2))
    assert samples == expected


def test_demux_rejections():
    with pytest.raises(Mp4Error):
        demux_mjpeg(b"\x89PNG not an mp4 at all...")
    with pytest.raises(Mp4Error):
        demux_mjpeg(None)
    blob, _ = _hand_built()
    # flip the sample-entry format to avc1 -> "no MJPEG video track"
    avc = blob.replace(b"jpeg", b"avc1")
    with pytest.raises(Mp4Error, match="no MJPEG"):
        demux_mjpeg(avc)


def test_mux_demux_round_trip_real_jpegs():
    frames = []
    for k in range(3):
        tiles = ((np.arange(2)[:, None] * 13 + np.arange(3)[None, :] * 7 + k * 11) % 251).astype(np.uint8)
        img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
        frames.append(img)
    jpegs = [jpeg_codec.encode_jpeg(f, quality=75) for f in frames]
    blob = mux_mjpeg(jpegs, [500, 250, 250], width=24, height=16)

    w, h, samples = demux_mjpeg(blob)
    assert (w, h) == (24, 16)
    assert [s for s, _ in samples] == jpegs  # byte-exact slices
    assert [t for _, t in samples] == [0, 500, 750]
    # flat 8x8 blocks at q75 round-trip exactly (jpeg fixture invariant)
    for (jb, _), f in zip(samples, frames):
        got = jpeg_codec.decode_jpeg(jb)
        assert np.array_equal(got[:, :, 0], f)


def test_parse_mp4_header_interop():
    jpegs = [jpeg_codec.encode_jpeg(np.full((8, 8), 90, np.uint8), 75)] * 4
    blob = mux_mjpeg(jpegs, [500] * 4, 8, 8)
    # what any ISO-BMFF header reader takes: ftyp major brand, then the
    # moov/mvhd v0 timescale and duration (after version/flags + 2 times)
    assert blob[4:8] == b"ftyp" and blob[8:12] == b"isom"
    moov = mp4_codec._need(blob, (0, len(blob)), b"moov")
    mvhd = mp4_codec._need(blob, moov, b"mvhd")
    assert blob[mvhd[0]] == 0
    timescale, dur = struct.unpack(">II", blob[mvhd[0] + 12 : mvhd[0] + 20])
    assert (timescale, dur) == (1000, 2000)


def test_mux_validates():
    with pytest.raises(Mp4Error):
        mux_mjpeg([], [], 8, 8)
    with pytest.raises(Mp4Error):
        mux_mjpeg([b"x"], [100, 200], 8, 8)
