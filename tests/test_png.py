"""Stdlib-zlib PNG decoder (operators/png.py): round-trips, all five
scanline filters against an independent forward-filter model, palette
expansion and rejection of out-of-scope profiles."""

from __future__ import annotations

import struct
import zlib

import numpy as np

from bgpexplorer_spark.operators.png import decode_png, encode_png


def _chunk(tag: bytes, data: bytes) -> bytes:
    body = tag + data
    return struct.pack(">I", len(data)) + body + struct.pack(
        ">I", zlib.crc32(body) & 0xFFFFFFFF
    )


def _png(w, h, ctype, raw, extra=b""):
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr) + extra
        + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")
    )


def _forward_filter(img: np.ndarray, ftype: int) -> bytes:
    """Independent model of RFC 2083 §6 forward filtering (references are
    the ORIGINAL bytes of current/prior scanlines)."""
    h, w, ch = img.shape
    flat = img.reshape(h, w * ch).astype(int)
    out = b""
    for y in range(h):
        row = flat[y]
        up = flat[y - 1] if y else np.zeros_like(row)
        filt = []
        for x in range(w * ch):
            left = row[x - ch] if x >= ch else 0
            ul = up[x - ch] if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up[x]
            elif ftype == 3:
                pred = (left + up[x]) // 2
            else:  # Paeth
                p = left + up[x] - ul
                pa, pb, pc = abs(p - left), abs(p - up[x]), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up[x] if pb <= pc else ul)
            filt.append((row[x] - pred) % 256)
        out += bytes([ftype]) + bytes(filt)
    return out


def _pattern(h, w, ch, seed=0):
    k = np.arange(h * w * ch)
    return ((seed * 31 + k * 7) % 256).astype(np.uint8).reshape(h, w, ch)


def test_roundtrip_all_color_types():
    for ch in (1, 2, 3, 4):
        img = _pattern(9, 13, ch, seed=ch)
        out = decode_png(encode_png(img))
        assert out is not None and np.array_equal(out, img), ch


def test_all_filters_against_independent_model():
    for ftype in range(5):
        for ch in (1, 3, 4):
            img = _pattern(6, 7, ch, seed=ftype + 10 * ch)
            raw = _forward_filter(img, ftype)
            out = decode_png(_png(7, 6, {1: 0, 3: 2, 4: 6}[ch], raw))
            assert out is not None, (ftype, ch)
            assert np.array_equal(out, img), (ftype, ch)


def test_mixed_filters_per_row():
    # row y uses filter y — each row's filtered bytes taken from a
    # full-image forward pass so Up/Avg/Paeth see the true prior scanline
    img = _pattern(5, 4, 3, seed=3)
    raw = b""
    for y, f in enumerate([0, 1, 2, 3, 4]):
        full = _forward_filter(img, f)
        raw += full[y * 13 : (y + 1) * 13]
    out = decode_png(_png(4, 5, 2, raw))
    assert np.array_equal(out, img)


def test_palette_expansion():
    pal = _pattern(1, 5, 3, seed=9).reshape(5, 3)
    idx = np.array([[0, 1, 2], [3, 4, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    b = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + _chunk(b"PLTE", pal.tobytes())
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    out = decode_png(b)
    assert out.shape == (2, 3, 3)
    assert np.array_equal(out, pal[idx])


def test_rejects_out_of_scope():
    img = _pattern(4, 4, 3)
    good = encode_png(img)
    assert decode_png(b"garbage") is None
    # depth flipped to 16 on an 8-bit stream: byte counts no longer
    # line up -> declined (real 16-bit streams DO decode, see below)
    bad = bytearray(good)
    ihdr_off = bad.find(b"IHDR") + 4
    bad[ihdr_off + 8] = 16
    assert decode_png(bytes(bad)) is None
    # sub-8-bit depth
    bad = bytearray(good)
    bad[ihdr_off + 8] = 4
    assert decode_png(bytes(bad)) is None
    # interlace flag lying about a sequential stream: never crashes
    bad = bytearray(good)
    bad[ihdr_off + 12] = 1
    r = decode_png(bytes(bad))
    assert r is None or isinstance(r, np.ndarray)
    # truncated IDAT
    assert decode_png(good[:40]) is None


def test_adam7_interlace_roundtrip():
    # odd dims, dims < 8 (several empty passes), and square cases
    for h, w in [(1, 1), (3, 5), (7, 7), (8, 8), (9, 13), (16, 4), (2, 31)]:
        for ch in (1, 3, 4):
            img = _pattern(h, w, ch, seed=h * 31 + w + ch)
            out = decode_png(encode_png(img, interlace=True))
            assert out is not None and np.array_equal(out, img), (h, w, ch)


def test_multichunk_idat():
    img = _pattern(8, 8, 3, seed=5)
    raw = zlib.compress(
        b"".join(b"\x00" + img[y].tobytes() for y in range(8))
    )
    half = len(raw) // 2
    b = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", raw[:half]) + _chunk(b"IDAT", raw[half:])
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(b), img)


def test_encode_png_validates_with_libpng():
    """Cross-validation against an independent implementation: libpng's
    pngfix (present in this container) must accept every color type we
    emit — catches CRC/IHDR/IDAT framing bugs our own round-trip can't."""
    import shutil
    import subprocess
    import tempfile

    import pytest

    if shutil.which("pngfix") is None:
        pytest.skip("pngfix not available")
    rng = np.random.default_rng(3)
    for interlace in (False, True):
        for ch in (1, 2, 3, 4):
            img = rng.integers(0, 256, (13, 17, ch), dtype=np.uint8)
            with tempfile.NamedTemporaryFile(suffix=".png") as f:
                f.write(encode_png(img, interlace=interlace))
                f.flush()
                r = subprocess.run(["pngfix", f.name], capture_output=True, text=True)
                assert r.returncode == 0 and "OK" in r.stdout, (
                    interlace, ch, r.stdout, r.stderr,
                )


def test_16bit_depth_downconverts_to_high_byte():
    for ch, ctype in [(1, 0), (3, 2), (4, 6)]:
        img16 = (_pattern(5, 6, ch, seed=ch).astype(np.uint16) << 8) | 0x7F
        raw = b"".join(
            b"\x00" + img16[y].astype(">u2").tobytes() for y in range(5)
        )
        ihdr = struct.pack(">IIBBBBB", 6, 5, 16, ctype, 0, 0, 0)
        b = (
            b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")
        )
        out = decode_png(b)
        assert out is not None and out.shape == (5, 6, ch), (ch,)
        assert np.array_equal(out, (img16 >> 8).astype(np.uint8)), (ch,)
    # 16-bit + Sub filter: left reference is bpp = 2*ch bytes back
    img16 = (_pattern(3, 4, 3, seed=9).astype(np.uint16) << 8)
    flat = img16.astype(">u2").tobytes()
    rows = [flat[i * 24 : (i + 1) * 24] for i in range(3)]
    raw = b""
    for r in rows:
        a = np.frombuffer(r, np.uint8).astype(int)
        filt = a.copy()
        filt[6:] = (a[6:] - a[:-6]) % 256  # Sub with bpp=6
        raw += b"\x01" + bytes(filt.tolist())
    ihdr = struct.pack(">IIBBBBB", 4, 3, 16, 2, 0, 0, 0)
    b = (
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")
    )
    out = decode_png(b)
    assert np.array_equal(out, (img16 >> 8).astype(np.uint8))


def test_sub8bit_grey_and_palette_roundtrip():
    """1/2/4-bit profiles (RFC 2083 §6.1): MSB-first packed samples in
    byte-padded scanlines, greyscale rescaled to 0..255, palette indexed
    directly — plain and Adam7."""
    rng = np.random.default_rng(21)
    for d in (1, 2, 4):
        maxv = (1 << d) - 1
        for interlace in (False, True):
            grey = rng.integers(0, maxv + 1, (7, 11), dtype=np.uint8)
            out = decode_png(encode_png(grey, depth=d, interlace=interlace))
            assert np.array_equal(out, (grey * (255 // maxv))[:, :, None])
            pal = rng.integers(0, 256, (maxv + 1, 3), dtype=np.uint8)
            idx = rng.integers(0, maxv + 1, (9, 6), dtype=np.uint8)
            out = decode_png(
                encode_png(idx, depth=d, palette=pal, interlace=interlace))
            assert np.array_equal(out, pal[idx])


def test_sub8bit_validates_with_libpng():
    import shutil
    import subprocess
    import tempfile

    import pytest

    if shutil.which("pngfix") is None:
        pytest.skip("pngfix not available")
    rng = np.random.default_rng(22)
    for d in (1, 2, 4):
        maxv = (1 << d) - 1
        pal = rng.integers(0, 256, (maxv + 1, 3), dtype=np.uint8)
        for payload in (
            encode_png(rng.integers(0, maxv + 1, (13, 17), np.uint8), depth=d),
            encode_png(rng.integers(0, maxv + 1, (13, 17), np.uint8), depth=d,
                       palette=pal, interlace=True),
        ):
            with tempfile.NamedTemporaryFile(suffix=".png") as f:
                f.write(payload)
                f.flush()
                r = subprocess.run(["pngfix", f.name],
                                   capture_output=True, text=True)
                assert r.returncode == 0 and "OK" in r.stdout, (
                    d, r.stdout, r.stderr)
