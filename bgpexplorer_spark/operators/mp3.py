"""MPEG audio (MP3) frame-header metadata walk — pure stdlib, no codec
libraries. Full audio decode needs a synthesis filterbank; the metadata
a data pipeline actually uses (sample rate, channel count, duration,
bitrate) is all in the 4-byte frame headers (ISO/IEC 11172-3 §2.4.1.3
and 13818-3), so ``parse_mp3_meta`` walks the frame sequence and sums
per-frame durations exactly — VBR streams need no special case, and a
Xing/Info VBR tag in the first frame is cross-checked when present.

No engine path consumes it (the reference repo has no media path; this
is part of the LLM-pipeline extension surface). ``encode_mp3`` builds
deterministic valid fixtures (headers + silent payloads) for tests.
"""

from __future__ import annotations

import struct

# bitrate tables, kbit/s, indexed by the 4-bit bitrate_index
# (ISO 11172-3 Table 3-B.2 / 13818-3 Table B.1); index 0 = "free", 15 = bad
_BITRATES = {
    # (mpeg1?, layer): [kbps…]
    (True, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    (True, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    (True, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    (False, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    (False, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (False, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}

# sample-rate tables indexed by the 2-bit sampling_frequency field
_RATES = {
    3: [44100, 48000, 32000],   # version bits 3 = MPEG1
    2: [22050, 24000, 16000],   # version bits 2 = MPEG2
    0: [11025, 12000, 8000],    # version bits 0 = MPEG2.5
}


def _parse_header(hdr: int):
    """4-byte big-endian frame header int → (frame_len, samples, rate,
    channels, bitrate_kbps) or None if not a valid MPEG audio header."""
    if hdr >> 21 != 0x7FF:  # 11-bit frame sync
        return None
    ver = (hdr >> 19) & 3
    layer_bits = (hdr >> 17) & 3
    if ver == 1 or layer_bits == 0:  # reserved version / layer
        return None
    layer = 4 - layer_bits  # bits 3/2/1 → Layer I/II/III
    bidx = (hdr >> 12) & 15
    ridx = (hdr >> 10) & 3
    if bidx in (0, 15) or ridx == 3:  # free-format / bad
        return None
    mpeg1 = ver == 3
    bitrate = _BITRATES[(mpeg1, layer)][bidx] * 1000
    rate = _RATES[ver][ridx]
    pad = (hdr >> 9) & 1
    mode = (hdr >> 6) & 3
    channels = 1 if mode == 3 else 2
    if layer == 1:
        samples = 384
        frame_len = (12 * bitrate // rate + pad) * 4
    else:
        # Layer II always 1152; Layer III is 1152 (MPEG1) / 576 (MPEG2/2.5)
        samples = 1152 if (layer == 2 or mpeg1) else 576
        frame_len = samples // 8 * bitrate // rate + pad
    return frame_len, samples, rate, channels, bitrate // 1000


def _skip_id3v2(b: bytes) -> int:
    """Offset past an ID3v2 tag (syncsafe 28-bit size), or 0."""
    if len(b) >= 10 and b[:3] == b"ID3":
        size = (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]
        return 10 + size
    return 0


def parse_mp3_meta(b: bytes) -> dict | None:
    """MPEG audio bytes → {channels, sample_rate, duration_ms,
    bitrate_kbps, n_frames, vbr} by walking every frame header, or None
    if the payload doesn't start (after any ID3v2 tag) with a valid
    frame sequence. Duration is the exact sum of per-frame durations, so
    VBR needs no estimate; a Xing/Info frame-count tag, when present and
    plausible, covers a truncated tail."""
    p = _skip_id3v2(b)
    n = len(b)
    n_frames = 0
    dur_num = 0.0  # seconds
    rate = channels = None
    bitrates: set[int] = set()
    xing_frames = None
    while p + 4 <= n:
        h = _parse_header(struct.unpack(">I", b[p : p + 4])[0])
        if h is None:
            if n_frames == 0:
                return None  # junk before the first frame → not MP3
            break  # trailing junk (ID3v1 tag etc.) ends the walk
        frame_len, samples, r, ch, kbps = h
        if n_frames == 0:
            rate, channels = r, ch
            # Xing (VBR) / Info (CBR) tag: lives in the first frame's
            # side-info region; flags bit 0 = frames field present
            # side-info lengths: MPEG1 stereo 32 / mono 17; MPEG2 9
            for off in (p + 13, p + 21, p + 36):
                if b[off : off + 4] in (b"Xing", b"Info") and off + 12 <= n:
                    flags = struct.unpack(">I", b[off + 4 : off + 8])[0]
                    if flags & 1:
                        xing_frames = struct.unpack(">I", b[off + 8 : off + 12])[0]
                    break
        bitrates.add(kbps)
        dur_num += samples / r
        n_frames += 1
        if frame_len <= 4:
            break  # defensive: never loop in place
        p += frame_len
    if n_frames == 0 or rate is None:
        return None
    if xing_frames and xing_frames > n_frames:
        # truncated walk (or metadata-only probe): trust the VBR tag
        dur_num = dur_num / n_frames * xing_frames
        n_frames = xing_frames
    return {
        "channels": channels,
        "sample_rate": rate,
        "duration_ms": int(round(dur_num * 1000)),
        "bitrate_kbps": (
            next(iter(bitrates)) if len(bitrates) == 1
            else int(round(sum(bitrates) / len(bitrates)))
        ),
        "n_frames": n_frames,
        "vbr": len(bitrates) > 1,
    }


def encode_mp3(
    n_frames: int = 10, rate_idx: int = 0, bitrate_idx: int = 9,
    mpeg1: bool = True, mono: bool = False, layer: int = 3,
    bitrate_seq: "list[int] | None" = None, id3: bytes | None = None,
) -> bytes:
    """Deterministic valid MPEG frame sequence (silent payloads) for
    fixtures: CBR by default, VBR when ``bitrate_seq`` gives a per-frame
    bitrate-index list, optional ID3v2 prefix."""
    ver_bits = 3 if mpeg1 else 2
    layer_bits = 4 - layer
    out = bytearray()
    if id3 is not None:
        size = len(id3)
        out += b"ID3\x04\x00\x00" + bytes([
            (size >> 21) & 0x7F, (size >> 14) & 0x7F,
            (size >> 7) & 0x7F, size & 0x7F,
        ]) + id3
    seq = bitrate_seq or [bitrate_idx] * n_frames
    for bidx in seq:
        hdr = (
            (0x7FF << 21) | (ver_bits << 19) | (layer_bits << 17) | (1 << 16)
            | (bidx << 12) | (rate_idx << 10) | ((3 if mono else 0) << 6)
        )
        frame_len, *_ = _parse_header(hdr)
        out += struct.pack(">I", hdr) + bytes(frame_len - 4)
    return bytes(out)
