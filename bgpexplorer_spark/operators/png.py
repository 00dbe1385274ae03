"""PNG decoder in pure stdlib ``zlib`` + numpy — no codec libraries.

Covers the full still-image bit-depth matrix: greyscale (color type 0)
at 1/2/4/8/16 bits, truecolor RGB (2) at 8/16, palette (3) at 1/2/4/8,
greyscale+alpha (4) and RGBA (6) at 8/16 — with all five scanline
filters (None/Sub/Up/Average/Paeth, RFC 2083 §6), multi-chunk IDAT
streams, Adam7 interlacing (each of the seven passes is an
independently-filtered sub-image scattered back onto the
(y0 + i·dy, x0 + j·dx) grid), 16-bit downconverted to 8-bit via the
high byte, and sub-8-bit samples unpacked MSB-first from byte-padded
scanlines (filters still operate on bytes with bpp=1, RFC 2083 §6.2;
greyscale is rescaled 0..255, palette indexes directly). The inverse
``encode_png`` (filter 0, optionally Adam7, sub-8-bit and palette
profiles included) builds deterministic real-PNG fixtures for tests;
PNG is lossless so round-trips are exact, and libpng's ``pngfix`` is
used in tests as an independent validator of the emitted streams.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

# channels per color type (8-bit depth only)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 pass grid: (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def decode_png(b: bytes) -> np.ndarray | None:
    """PNG bytes → (h, w, channels) uint8 (palette expanded to RGB,
    alpha preserved as a 2nd/4th channel, 16-bit downconverted via the
    high byte), or None if not a decodable 8/16-bit PNG."""
    try:
        return _decode_strict(b)
    except (zlib.error, struct.error, IndexError, ValueError):
        return None


def _unfilter(raw: bytes, off: int, height: int, stride: int, bpp: int):
    """Unfilter ``height`` scanlines of ``stride`` bytes each for a
    (sub-)image starting at byte ``off`` of the inflated stream.
    ``bpp`` = bytes per pixel, min 1 (filters reference the pixel
    ``bpp`` bytes to the left, RFC 2083 §6; sub-8-bit depths pack
    several pixels per byte and filter with bpp=1). Returns (unfiltered
    bytes (h, stride) uint8, next offset) or None on a bad filter byte /
    short stream."""
    need = height * (stride + 1)
    if len(raw) < off + need:
        return None
    lines = np.frombuffer(raw, np.uint8, count=need, offset=off).reshape(
        height, stride + 1
    )
    filters = lines[:, 0]
    out = np.zeros((height, stride), np.uint16)
    zero = np.zeros(stride, np.uint16)
    for y in range(height):
        f = filters[y]
        cur = lines[y, 1:].astype(np.uint16)
        up = out[y - 1] if y else zero
        if f == 0:
            out[y] = cur
        elif f == 1:  # Sub — a per-byte-lane prefix sum mod 256
            out[y] = (
                cur.reshape(stride // bpp, bpp).astype(np.int64).cumsum(axis=0)
                & 0xFF
            ).reshape(stride)
        elif f == 2:  # Up
            out[y] = (cur + up) & 0xFF
        elif f == 3:  # Average
            row = cur.copy()
            for x in range(stride):
                left = row[x - bpp] if x >= bpp else 0
                row[x] = (row[x] + ((int(left) + int(up[x])) >> 1)) & 0xFF
            out[y] = row
        elif f == 4:  # Paeth
            row = cur.copy()
            for x in range(stride):
                left = row[x - bpp] if x >= bpp else 0
                ul = up[x - bpp] if x >= bpp else 0
                p = int(left) + int(up[x]) - int(ul)
                pa, pb, pc = abs(p - int(left)), abs(p - int(up[x])), abs(p - int(ul))
                pred = left if pa <= pb and pa <= pc else (up[x] if pb <= pc else ul)
                row[x] = (row[x] + int(pred)) & 0xFF
            out[y] = row
        else:
            return None
    return out.astype(np.uint8), off + need


def _decode_strict(b: bytes) -> np.ndarray | None:
    if len(b) < 8 + 25 or b[:8] != _SIG:
        return None
    pos, n = 8, len(b)
    width = height = None
    ctype = None
    interlace = 0
    palette: np.ndarray | None = None
    idat = bytearray()
    while pos + 8 <= n:
        clen, tag = struct.unpack(">I4s", b[pos : pos + 8])
        data = b[pos + 8 : pos + 8 + clen]
        if len(data) < clen:
            return None
        pos += 12 + clen  # skip CRC; archives are checked elsewhere
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data[:13]
            )
            if depth not in (1, 2, 4, 8, 16) or comp != 0 or filt != 0 \
                    or interlace > 1:
                return None
            if depth < 8 and ctype not in (0, 3):
                return None  # sub-8-bit is greyscale/palette only (§6.1)
            if depth == 16 and ctype == 3:
                return None  # 16-bit palette is not a legal profile
            if ctype not in _CHANNELS or not width or not height:
                return None
        elif tag == b"PLTE":
            palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if width is None or not idat:
        return None
    ch = _CHANNELS[ctype]
    nb = max(1, depth // 8)  # bytes per sample (packed depths: 1)
    bpp = ch * nb if depth >= 8 else 1  # filter distance, min 1 byte
    raw = zlib.decompress(bytes(idat))

    def to8(flat: np.ndarray, ph: int, pw: int) -> np.ndarray:
        if depth >= 8:
            # 16-bit big-endian → high byte (the standard 8-bit downscale)
            px = flat.reshape(ph, pw, ch * nb)
            return px[:, :, ::nb] if nb == 2 else px
        # sub-8-bit: unpack MSB-first samples from byte-padded scanlines
        bits = np.unpackbits(flat, axis=1).reshape(ph, -1, depth)
        weights = 1 << np.arange(depth - 1, -1, -1)
        samples = (bits * weights).sum(axis=2)[:, :pw].astype(np.uint8)
        if ctype == 0:  # grey: 0..2^d-1 → full 8-bit range (§2.3)
            samples = samples * np.uint8(255 // ((1 << depth) - 1))
        return samples[:, :, None]

    def pstride(pw: int) -> int:
        return -(-pw * ch * depth // 8)  # bytes per scanline, padded

    if interlace:
        img8 = np.zeros((height, width, ch), np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = -(-(width - x0) // dx) if width > x0 else 0
            ph = -(-(height - y0) // dy) if height > y0 else 0
            if pw == 0 or ph == 0:
                continue  # empty pass contributes no scanlines
            r = _unfilter(raw, off, ph, pstride(pw), bpp)
            if r is None:
                return None
            sub, off = r
            img8[y0::dy, x0::dx] = to8(sub, ph, pw)
    else:
        r = _unfilter(raw, 0, height, pstride(width), bpp)
        if r is None:
            return None
        img8 = np.ascontiguousarray(to8(r[0], height, width))
    if ctype == 3:
        if palette is None:
            return None
        img8 = palette[img8[:, :, 0]]
    return np.ascontiguousarray(img8)


def encode_png(arr: np.ndarray, interlace: bool = False,
               depth: int = 8, palette: np.ndarray | None = None) -> bytes:
    """uint8 array → PNG bytes (filter 0, single IDAT;
    ``interlace=True`` emits Adam7 passes). Profiles:

    - default: (h, w) / (h, w, 1|2|3|4) 8-bit grey/GA/RGB/RGBA;
    - ``depth`` in (1, 2, 4): (h, w[, 1]) sample values packed MSB-first
      into byte-padded scanlines — greyscale when ``palette`` is None
      (values are the RAW 0..2^d-1 codes; the decoder rescales to
      0..255), palette indices (color type 3, PLTE emitted) otherwise.

    Lossless, so decode_png(encode_png(x)) round-trips (greyscale sub-8
    up to the decoder's 8-bit rescale; palette to the expanded RGB)."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if depth not in (1, 2, 4, 8) or (depth < 8 and ch != 1):
        raise ValueError("sub-8-bit profiles are single-channel")
    if palette is not None:
        ctype = 3
    elif depth < 8:
        ctype = 0
    else:
        ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0,
                       1 if interlace else 0)

    def pack_rows(sub: np.ndarray) -> "list[bytes]":
        if depth == 8:
            return [b"\x00" + sub[y].tobytes() for y in range(sub.shape[0])]
        # MSB-first sample packing, scanlines padded to a whole byte
        bits = (
            (sub[:, :, 0:1] >> np.arange(depth - 1, -1, -1)) & 1
        ).reshape(sub.shape[0], -1).astype(np.uint8)
        return [
            b"\x00" + np.packbits(bits[y]).tobytes()
            for y in range(sub.shape[0])
        ]

    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.extend(pack_rows(sub))
        raw = b"".join(parts)
    else:
        raw = b"".join(pack_rows(arr))

    def chunk(tag: bytes, data: bytes) -> bytes:
        body = tag + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    out = _SIG + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", np.asarray(palette, np.uint8).tobytes())
    return out + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b"")
