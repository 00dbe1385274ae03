"""ISO base-media (MP4/MOV, ISO/IEC 14496-12) box-structure metadata
walk — pure stdlib, no codec libraries. Frame pixels need a video
decoder; the metadata a data pipeline actually uses (duration, display
dimensions, frame/sample count, timescale, brand) is all in the ``moov``
box tree, so ``parse_mp4_meta`` walks the box hierarchy: ``mvhd`` for
the presentation duration, the first visual ``trak``'s ``tkhd`` for
16.16-fixed display width/height, its ``mdhd`` for the media timescale,
and ``stsz``/``stz2`` for the sample (frame) count.

No engine path consumes it. ``encode_mp4`` builds deterministic valid
fixtures (a minimal ftyp+moov+mdat tree) for tests.
"""

from __future__ import annotations

import struct

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _boxes(b: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for the sibling boxes in
    b[start:end]; tolerates 64-bit largesize and stops on malformed
    sizes rather than looping."""
    p = start
    while p + 8 <= end:
        size = struct.unpack_from(">I", b, p)[0]
        typ = b[p + 4 : p + 8]
        payload = p + 8
        if size == 1:  # 64-bit largesize
            if p + 16 > end:
                return
            size = struct.unpack_from(">Q", b, p + 8)[0]
            payload = p + 16
        elif size == 0:  # box extends to the end of the enclosing space
            size = end - p
        if size < 8 or p + size > end:
            return
        yield typ, payload, p + size
        p += size


def _walk(b: bytes, start: int, end: int, out: dict, depth: int = 0) -> None:
    if depth > 16:  # real trees are ~5 deep; bound adversarial nesting
        return
    for typ, ps, pe in _boxes(b, start, end):
        if typ == b"ftyp" and pe - ps >= 4:
            out.setdefault("brand", b[ps : ps + 4].decode("ascii", "replace"))
        elif typ == b"mvhd" and pe - ps >= 4:
            ver = b[ps]
            if ver == 1 and pe - ps >= 28 + 8 + 4:
                ts, dur = struct.unpack_from(">IQ", b, ps + 4 + 16)
            elif pe - ps >= 4 + 8 + 8:
                ts, dur = struct.unpack_from(">II", b, ps + 4 + 8)
            else:
                continue
            if ts:
                out["duration_ms"] = int(round(dur * 1000 / ts))
                out["movie_timescale"] = ts
        elif typ == b"tkhd" and "width" not in out:
            ver = b[ps] if pe > ps else 0
            base = ps + 4 + (32 if ver == 1 else 20)  # through duration
            # reserved(8) layer(2) altgroup(2) volume(2) reserved(2)
            # matrix(36) → width/height as 16.16 fixed point
            wh = base + 8 + 2 + 2 + 2 + 2 + 36
            if wh + 8 <= pe:
                w, h = struct.unpack_from(">II", b, wh)
                if w and h:  # audio tracks carry 0x0
                    out["width"] = w >> 16
                    out["height"] = h >> 16
        elif typ == b"mdhd" and "media_timescale" not in out:
            ver = b[ps] if pe > ps else 0
            off = ps + 4 + (16 if ver == 1 else 8)
            if off + 4 <= pe:
                out["media_timescale"] = struct.unpack_from(">I", b, off)[0]
        elif typ in (b"stsz", b"stz2") and "n_samples" not in out:
            off = ps + 4 + (4 if typ == b"stsz" else 4)
            if off + 4 <= pe:
                out["n_samples"] = struct.unpack_from(">I", b, off)[0]
        if typ in _CONTAINERS:
            _walk(b, ps, pe, out, depth + 1)


def parse_mp4_meta(b: bytes) -> dict | None:
    """MP4/MOV bytes → {brand, duration_ms, width, height, n_samples,
    fps} from the box tree, or None if the payload isn't ISO-BMFF (no
    leading ftyp/moov/mdat box)."""
    try:
        first = next(_boxes(b, 0, len(b)), None)
    except struct.error:
        return None
    if first is None or first[0] not in (b"ftyp", b"moov", b"mdat",
                                         b"free", b"styp", b"wide"):
        return None
    out: dict = {}
    try:
        _walk(b, 0, len(b), out)
    except (struct.error, IndexError):
        pass
    if "duration_ms" not in out:
        return None
    dur = out["duration_ms"]
    if out.get("n_samples") and dur:
        out["fps"] = round(out["n_samples"] * 1000 / dur, 2)
    return out


def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _full(typ: bytes, version: int, body: bytes) -> bytes:
    return _box(typ, bytes([version, 0, 0, 0]) + body)


def encode_mp4(
    duration_ms: int = 2000, width: int = 64, height: int = 48,
    n_samples: int = 48, timescale: int = 1000, brand: bytes = b"isom",
) -> bytes:
    """Deterministic minimal ISO-BMFF fixture: ftyp + moov(mvhd +
    trak(tkhd + mdia(mdhd + minf(stbl(stsz))))) + an empty mdat. The
    sample payloads are absent (metadata-only, like a moov-first probe
    of a streaming upload)."""
    dur = duration_ms * timescale // 1000
    mvhd = _full(b"mvhd", 0, struct.pack(
        ">IIII", 0, 0, timescale, dur) + struct.pack(">I", 0x00010000)
        + struct.pack(">H", 0x0100) + bytes(10)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + bytes(24) + struct.pack(">I", 2))
    tkhd = _full(b"tkhd", 0, struct.pack(">IIIII", 0, 0, 1, 0, dur)
                 + bytes(8) + struct.pack(">HHHH", 0, 0, 0, 0)
                 + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                               0x40000000)
                 + struct.pack(">II", width << 16, height << 16))
    mdhd = _full(b"mdhd", 0, struct.pack(
        ">IIII", 0, 0, timescale, dur) + struct.pack(">HH", 0x55C4, 0))
    stsz = _full(b"stsz", 0, struct.pack(">II", 0, n_samples)
                 + b"".join(struct.pack(">I", 0) for _ in range(n_samples)))
    stbl = _box(b"stbl", stsz)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", mdhd + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0) + brand)
    return ftyp + moov + _box(b"mdat", b"")
