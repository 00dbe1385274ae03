"""ISO-BMFF metadata walk (operators/mp4.py): box-tree parse incl.
64-bit sizes and version-1 headers, rejection and never-raise fuzz."""

from __future__ import annotations

import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from bgpexplorer_spark.operators.mp4 import encode_mp4, parse_mp4_meta


def test_parse_roundtrip():
    m = parse_mp4_meta(encode_mp4(
        duration_ms=3000, width=128, height=96, n_samples=72))
    assert m["duration_ms"] == 3000
    assert (m["width"], m["height"]) == (128, 96)
    assert (m["n_samples"], m["fps"], m["brand"]) == (72, 24.0, "isom")


def test_non_1000_timescale():
    m = parse_mp4_meta(encode_mp4(duration_ms=1500, timescale=90000))
    assert m["duration_ms"] == 1500
    assert m["movie_timescale"] == 90000


def test_rejects_non_bmff():
    assert parse_mp4_meta(b"") is None
    assert parse_mp4_meta(b"RIFF....WAVE....") is None
    assert parse_mp4_meta(b"\xff\xd8\xff\xe0" + bytes(40)) is None
    # a valid-looking tree with no mvhd → no duration → None
    assert parse_mp4_meta(
        struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0)) is None


def test_largesize_box():
    """A 64-bit largesize moov parses identically."""
    b = bytearray(encode_mp4(duration_ms=2500))
    # find moov and rewrite as size==1 + largesize
    i = b.find(b"moov") - 4
    size = struct.unpack_from(">I", b, i)[0]
    rewritten = (
        bytes(b[:i]) + struct.pack(">I", 1) + b"moov"
        + struct.pack(">Q", size + 8) + bytes(b[i + 8 : i + size])
    )
    m = parse_mp4_meta(rewritten)
    assert m is not None and m["duration_ms"] == 2500


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=400))
def test_never_raises_on_garbage(data):
    parse_mp4_meta(data)
    for prefix in (struct.pack(">I", 24) + b"ftypisom",
                   struct.pack(">I", 16) + b"moov"):
        parse_mp4_meta(prefix + data)


@settings(max_examples=100, deadline=None)
@given(seed=st.integers(0, 2**32 - 1),
       flips=st.lists(st.integers(0, 10**9), min_size=1, max_size=8))
def test_never_raises_on_bitflipped_valid(seed, flips):
    import random

    rnd = random.Random(seed)
    b = bytearray(encode_mp4(duration_ms=1000 + rnd.randrange(5000)))
    for f in flips:
        b[f % len(b)] ^= 1 << (f % 8)
    parse_mp4_meta(bytes(b))

