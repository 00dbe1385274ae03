"""Property-based invariants: the pure-Python PNG codec (operators/png)
round-trips arbitrary content exactly and never raises on arbitrary or
corrupted bytes, and every derived hash family stays distinct and
full-period over the range the engine uses."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import pytest

from bgpexplorer_spark.operators.png import decode_png, encode_png

_dims = st.tuples(
    st.integers(min_value=1, max_value=24), st.integers(min_value=1, max_value=24)
)


def _arr(h, w, ch, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, ch), dtype=np.uint8)


@settings(max_examples=30, deadline=None)
@given(dims=_dims, ch=st.sampled_from([1, 2, 3, 4]), seed=st.integers(0, 2**32 - 1),
       interlace=st.booleans())
def test_png_roundtrip_exact_any_content(dims, ch, seed, interlace):
    h, w = dims
    img = _arr(h, w, ch, seed)
    out = decode_png(encode_png(img, interlace=interlace))
    assert out is not None and np.array_equal(out, img)


@settings(max_examples=80, deadline=None)
@given(data=st.binary(min_size=0, max_size=400))
def test_decoders_never_raise_on_garbage(data):
    r = decode_png(data)
    assert r is None or isinstance(r, np.ndarray)
    # with a plausible magic prefix too
    r = decode_png(b"\x89PNG\r\n\x1a\n" + data)
    assert r is None or isinstance(r, np.ndarray)


def _fuzz_corrupted_valid_files(seed, flips):
    img = _arr(9, 11, 3, seed)

    for enc in (
        lambda: encode_png(img),
        lambda: encode_png(img[:, :, 0] % 16, depth=4,
                           palette=np.arange(48, dtype=np.uint8).reshape(16, 3)),
    ):
        b = bytearray(enc())
        for f in flips:
            b[f % len(b)] ^= 1 << (f % 8)
        r = decode_png(bytes(b))
        assert r is None or isinstance(r, np.ndarray)


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**32 - 1),
       flips=st.lists(st.integers(0, 10**9), min_size=1, max_size=8))
def test_decoders_never_raise_on_corrupted_valid_files(seed, flips):
    _fuzz_corrupted_valid_files(seed, flips)


@pytest.mark.skipif(
    not __import__("os").environ.get("SLOW_FUZZ"),
    reason="deep fuzz: set SLOW_FUZZ=1 (weekly/slow lane)",
)
@settings(max_examples=600, deadline=None)
@given(seed=st.integers(0, 2**32 - 1),
       flips=st.lists(st.integers(0, 10**9), min_size=1, max_size=16))
def test_decoders_never_raise_on_corrupted_valid_files_deep(seed, flips):
    """Deep variant of the corrupted-file fuzz: 15x the examples, deeper
    flip lists. Opt-in via SLOW_FUZZ=1 so the default suite stays
    bounded."""
    _fuzz_corrupted_valid_files(seed, flips)


# ---------------------------------------------------------------------------
# Hash-family distinctness / periodicity guards (r10 verdict ask #4).
# The hyperplane family's first construction had period 7 in the plane
# index — plane j+7 was BIT-IDENTICAL to plane j, silently capping the
# bucket space at 2^7, and neither verification layer could see it (the
# oracle replays whatever formula is written). The same class could
# degrade every other derived hash family; each gets a distinctness /
# full-period property over the parameter range the engine actually
# uses, replaying the ENGINE's own constants/functions wherever they
# are importable without a SparkSession.
# ---------------------------------------------------------------------------


def test_minhash_permutation_family_distinct_bijections():
    """(h*a + b) mod P family (dedup._minhash_params, P = 2^31−1 prime):
    every map must be a BIJECTION of Z_P (a ≢ 0 mod P — P prime makes
    any nonzero a invertible) and pairwise DISTINCT as functions
    ((a, b) pairs distinct mod P) over 16× the engine's default k=16,
    so growing k can't silently alias two permutations (which would
    make two signature rows always agree — inflated Jaccard estimates,
    invisible to the oracle)."""
    from bgpexplorer_spark.operators.dedup import MINHASH_P, _minhash_params

    params = _minhash_params(256)
    assert len({(a % MINHASH_P, b % MINHASH_P) for a, b in params}) == len(params)
    for a, _b in params:
        assert a % MINHASH_P != 0
    # distinct as FUNCTIONS on a probe set, not just as parameter pairs
    probe = [0, 1, 2, 7919, 2**20, MINHASH_P - 1]
    images = [tuple((h * a + b) % MINHASH_P for h in probe) for a, b in params]
    assert len(set(images)) == len(images)


@settings(max_examples=60, deadline=None)
@given(
    sig=st.integers(min_value=0, max_value=2**60 - 1),
    flips=st.lists(st.integers(min_value=0, max_value=59), max_size=3, unique=True),
)
def test_simhash60_subband_split_partitions_and_covers(sig, flips):
    """The AND-OR banding arithmetic (dedup._banded_hamming_pairs,
    sub_bits=10, n_sub=6): the 6 extracted sub-bands must PARTITION the
    60-bit signature (re-concatenation reconstructs it exactly — an
    off-by-one in shift/mask would silently drop or double-count bits),
    and any signature within hamming ≤ 3 must share at least one intact
    C(6,3) combination key (the exact-coverage guarantee the join keys
    on)."""
    import itertools

    sub_bits, n_sub, max_h = 10, 6, 3
    mask = (1 << sub_bits) - 1

    def subs(s):
        return [(s >> (sub_bits * i)) & mask for i in range(n_sub)]

    def keys(s):
        out = set()
        for ci, combo in enumerate(itertools.combinations(range(n_sub), n_sub - max_h)):
            key = ci
            for i in combo:
                key = (key << sub_bits) + subs(s)[i]
            out.add(key)
        return out

    assert sum(v << (sub_bits * i) for i, v in enumerate(subs(sig))) == sig
    other = sig
    for f in flips:
        other ^= 1 << f
    assert keys(sig) & keys(other), "hamming<=3 pair lost every combo key"


def test_portable_hash_prefix_widths_and_independence():
    """portable_hash32/60 (text.py): the md5-hex-prefix construction
    must stay inside its declared width (60 bits SIGNED-safe in both
    engines), be deterministic, and the two widths must not be related
    by a fixed shift/scale (a family where hash60 = hash32·2^28 would
    make every 60-bit band split depend on 32 bits of entropy only).
    Replays the exact recipe (first 8 / 15 md5 hex chars)."""
    import hashlib

    def h(s, chars):
        return int(hashlib.md5(s.encode()).hexdigest()[:chars], 16)

    strs = [f"tok{i}" for i in range(2000)]
    h32 = [h(s, 8) for s in strs]
    h60 = [h(s, 15) for s in strs]
    assert all(0 <= v < 2**32 for v in h32)
    assert all(0 <= v < 2**60 for v in h60)
    # hash32 IS hash60's top 32 bits by construction (same md5 prefix) —
    # the INDEPENDENT entropy the wider family adds is the low 28 bits,
    # which must not be constant or low-period
    low = [v & ((1 << 28) - 1) for v in h60]
    assert len(set(low)) > 1900  # ~uniform: near-zero collisions on 2k draws
    assert all(v >> 28 == w for v, w in zip(h60, h32))


def test_ivf_and_cluster_seed_sets_distinct():
    """Deterministic 'seed' sets (ivf_centroids / pq_codebooks /
    cluster_sample draw ids from vec_id < k): the construction is
    injective by definition, but the DRAW hash used by cluster_sample
    (portable_hash32 of the DECIMAL id string) must be collision-free
    over the id ranges the engine samples at — a colliding pair would
    tie two rows' uniform draws forever (rank flaps across engines
    resolve by vec_id, so correctness holds, but the sample would be
    systematically correlated)."""
    import hashlib

    draws = [
        int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) for i in range(50000)
    ]
    assert len(set(draws)) == len(draws), "hash32 collision inside 50k id range"
