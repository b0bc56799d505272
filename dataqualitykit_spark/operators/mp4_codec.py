"""Minimal ISO-BMFF (MP4) Motion-JPEG demuxer + muxer, dependency-free.

Real crawls carry video as opaque ``binary``; the operators only need the
container math — which bytes are sample k and when does it start — and a
frame codec. AVC/HEVC entropy decoding is out of scope, but Motion-JPEG
stores each frame as a plain baseline JPEG, which
``operators/jpeg_codec.py`` already decodes. This module supplies the missing container layer:

- ``demux_mjpeg``: walk ``moov`` -> video ``trak`` -> ``stbl``, expand the
  four sample tables (stts durations, stsz sizes, stsc chunk runs,
  stco/co64 chunk offsets) into per-sample (bytes, start_ms) slices.
  Pure byte math over the buffer — samples are never copied until sliced.
- ``mux_mjpeg``: the fixture-side inverse (one video track, sample entry
  ``jpeg``, timescale 1000, single chunk) so tests are self-contained,
  mirroring png_codec/gif_codec's encoder-for-fixtures pattern.

Box layout follows ISO/IEC 14496-12 (public spec); 64-bit ``largesize``
and version-1 full boxes are handled on the read side. The reference has
no media handling at all (SURVEY.md §2); this module is standalone and
nothing in the keep/drop pipeline calls it.
"""

from __future__ import annotations

import struct

__all__ = ["Mp4Error", "demux_mjpeg", "mux_mjpeg"]

_MJPEG_FORMATS = (b"jpeg", b"mjpa", b"mjpb", b"MJPG", b"mjpg")


class Mp4Error(ValueError):
    """Raised for anything this demuxer does not understand."""


def _boxes(buf: bytes, start: int, end: int):
    """Yield (type, body_start, box_end) for each box in [start, end)."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack(">I", buf[pos : pos + 4])[0]
        btype = buf[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise Mp4Error("truncated largesize box")
            size = struct.unpack(">Q", buf[pos + 8 : pos + 16])[0]
            body = pos + 16
        elif size == 0:  # box extends to the end of the enclosing space
            size = end - pos
        if size < body - pos or pos + size > end:
            raise Mp4Error("bad box size")
        yield btype, body, pos + size
        pos += size


def _find(buf: bytes, span: tuple[int, int], name: bytes):
    for btype, body, box_end in _boxes(buf, span[0], span[1]):
        if btype == name:
            return body, box_end
    return None


def _need(buf: bytes, span: tuple[int, int], name: bytes) -> tuple[int, int]:
    got = _find(buf, span, name)
    if got is None:
        raise Mp4Error(f"missing {name.decode('ascii', 'replace')} box")
    return got


def demux_mjpeg(payload: bytes | None):
    """MP4 bytes -> (width, height, [(jpeg_bytes, start_ms), ...]) for the
    first video track whose sample entry is an MJPEG format. Raises
    Mp4Error when there is no such track (callers fall back to the stub
    route). start_ms = integer floor of the stts prefix sum rescaled by
    the track's mdhd timescale."""
    if payload is None or len(payload) < 12 or payload[4:8] != b"ftyp":
        raise Mp4Error("not an ISO-BMFF file")
    buf = bytes(payload)
    moov = _need(buf, (0, len(buf)), b"moov")
    for btype, body, box_end in _boxes(buf, moov[0], moov[1]):
        if btype != b"trak":
            continue
        mdia = _find(buf, (body, box_end), b"mdia")
        if mdia is None:
            continue
        hdlr = _find(buf, mdia, b"hdlr")
        if hdlr is None or buf[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        mdhd = _need(buf, mdia, b"mdhd")
        if mdhd[0] >= mdhd[1]:
            raise Mp4Error("empty mdhd box")
        version = buf[mdhd[0]]
        ts_off = mdhd[0] + (20 if version == 1 else 12)
        if ts_off + 4 > mdhd[1]:
            raise Mp4Error("truncated mdhd box")
        timescale = struct.unpack(">I", buf[ts_off : ts_off + 4])[0]
        if timescale == 0:
            raise Mp4Error("zero mdhd timescale")
        minf = _need(buf, mdia, b"minf")
        stbl = _need(buf, minf, b"stbl")

        stsd = _need(buf, stbl, b"stsd")
        entry = stsd[0] + 8  # full-box header (4) + entry_count (4)
        fmt = buf[entry + 4 : entry + 8]
        if fmt not in _MJPEG_FORMATS:
            continue  # a video track, but not one we can decode
        if entry + 36 > stsd[1]:
            raise Mp4Error("truncated stsd sample entry")
        width, height = struct.unpack(">HH", buf[entry + 32 : entry + 36])

        # stts -> per-sample start times (timescale units). Every table
        # read is BOUNDED by its box end (ADVICE r6: a run/sample count
        # larger than the box previously consumed sibling-box bytes or
        # died with struct.error instead of Mp4Error — one corrupt file
        # must take the stub fallback, not fail the job).
        stts = _need(buf, stbl, b"stts")
        if stts[0] + 8 > stts[1]:
            raise Mp4Error("truncated stts header")
        n_runs = struct.unpack(">I", buf[stts[0] + 4 : stts[0] + 8])[0]
        if stts[0] + 8 + 8 * n_runs > stts[1]:
            raise Mp4Error("truncated stts table")
        starts, t = [], 0
        p = stts[0] + 8
        for _ in range(n_runs):
            cnt, delta = struct.unpack(">II", buf[p : p + 8])
            p += 8
            for _ in range(cnt):
                starts.append(t)
                t += delta

        # stsz -> per-sample byte sizes
        stsz = _need(buf, stbl, b"stsz")
        if stsz[0] + 12 > stsz[1]:
            raise Mp4Error("truncated stsz header")
        uniform, n_samples = struct.unpack(
            ">II", buf[stsz[0] + 4 : stsz[0] + 12]
        )
        if n_samples == 0:
            # a zero-sample video track has nothing to decode — route to
            # the stub fallback rather than emit an empty frame list
            raise Mp4Error("MJPEG track with zero samples")
        if uniform:
            sizes = [uniform] * n_samples
        else:
            if stsz[0] + 12 + 4 * n_samples > stsz[1]:
                raise Mp4Error("truncated stsz table")
            sizes = list(
                struct.unpack(
                    f">{n_samples}I",
                    buf[stsz[0] + 12 : stsz[0] + 12 + 4 * n_samples],
                )
            )

        # stco/co64 chunk offsets + stsc chunk->sample runs -> offsets
        co = _find(buf, stbl, b"stco")
        width_bytes, fmt_ch = (4, "I") if co is not None else (8, "Q")
        if co is None:
            co = _need(buf, stbl, b"co64")
        if co[0] + 8 > co[1]:
            raise Mp4Error("truncated stco/co64 header")
        n_chunks = struct.unpack(">I", buf[co[0] + 4 : co[0] + 8])[0]
        if co[0] + 8 + width_bytes * n_chunks > co[1]:
            raise Mp4Error("truncated stco/co64 table")
        chunk_offs = struct.unpack(
            f">{n_chunks}{fmt_ch}",
            buf[co[0] + 8 : co[0] + 8 + width_bytes * n_chunks],
        )
        stsc = _need(buf, stbl, b"stsc")
        if stsc[0] + 8 > stsc[1]:
            raise Mp4Error("truncated stsc header")
        n_sc = struct.unpack(">I", buf[stsc[0] + 4 : stsc[0] + 8])[0]
        if stsc[0] + 8 + 12 * n_sc > stsc[1]:
            raise Mp4Error("truncated stsc table")
        runs = [
            struct.unpack(">III", buf[stsc[0] + 8 + 12 * j : stsc[0] + 20 + 12 * j])
            for j in range(n_sc)
        ]  # (first_chunk 1-based, samples_per_chunk, desc_idx)

        samples, si = [], 0
        for ci in range(1, n_chunks + 1):
            spc = 0
            for first, per, _desc in runs:
                if first <= ci:
                    spc = per
            off = chunk_offs[ci - 1]
            for _ in range(spc):
                if si >= n_samples:
                    break
                size = sizes[si]
                if off + size > len(buf):
                    raise Mp4Error("sample beyond file end")
                samples.append(
                    (buf[off : off + size], starts[si] * 1000 // timescale)
                )
                off += size
                si += 1
        if si != n_samples:
            raise Mp4Error("sample tables disagree on sample count")
        return int(width), int(height), samples
    raise Mp4Error("no MJPEG video track")


def _box(name: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + name + body


def _full(name: bytes, body: bytes, version: int = 0, flags: int = 0) -> bytes:
    return _box(name, bytes([version]) + flags.to_bytes(3, "big") + body)


_UNITY_MATRIX = struct.pack(
    ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def mux_mjpeg(
    jpegs: list[bytes], durations_ms: list[int], width: int, height: int
) -> bytes:
    """JPEG frames + per-frame durations -> a minimal MJPEG MP4
    (timescale 1000, one video track, sample entry 'jpeg', all samples in
    one chunk). Deterministic bytes: zeroed timestamps, fixed layout —
    fixture/oracle-grade like encode_png / encode_gif_animation."""
    if len(jpegs) != len(durations_ms) or not jpegs:
        raise Mp4Error("need one duration per frame")
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")
    mdat = _box(b"mdat", b"".join(jpegs))
    first_off = len(ftyp) + 8  # mdat body starts after its 8-byte header
    total = sum(durations_ms)

    entry = _box(
        b"jpeg",
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined / reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)  # depth, pre_defined
    )
    stsd = _full(b"stsd", struct.pack(">I", 1) + entry)

    # compress equal-duration runs for stts
    runs: list[list[int]] = []
    for d in durations_ms:
        if runs and runs[-1][1] == d:
            runs[-1][0] += 1
        else:
            runs.append([1, d])
    stts = _full(
        b"stts",
        struct.pack(">I", len(runs))
        + b"".join(struct.pack(">II", c, d) for c, d in runs),
    )
    stsc = _full(b"stsc", struct.pack(">IIII", 1, 1, len(jpegs), 1))
    stsz = _full(
        b"stsz",
        struct.pack(">II", 0, len(jpegs))
        + b"".join(struct.pack(">I", len(j)) for j in jpegs),
    )
    stco = _full(b"stco", struct.pack(">II", 1, first_off))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)

    url = _full(b"url ", b"", flags=1)  # self-contained
    dref = _full(b"dref", struct.pack(">I", 1) + url)
    dinf = _box(b"dinf", dref)
    vmhd = _full(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
    minf = _box(b"minf", vmhd + dinf + stbl)
    hdlr = _full(
        b"hdlr", struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"\x00"
    )
    mdhd = _full(
        b"mdhd", struct.pack(">IIIIHH", 0, 0, 1000, total, 0x55C4, 0)
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full(
        b"tkhd",
        struct.pack(">IIIII", 0, 0, 1, 0, total)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + _UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),
        flags=3,
    )
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(
        b"mvhd",
        struct.pack(">IIII", 0, 0, 1000, total)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + _UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 2),
        )
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
