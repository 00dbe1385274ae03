"""LLM-data-pipeline operators: dedup, text."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bgpexplorer_spark.operators import dedup, text

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
    (3, "completely different content about spark engines"),
    (4, "dog lazy the over jumps fox brown quick the"),   # shuffled 0
]

@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()

def test_exact_dedup(docs):
    out = {r.doc_id: r for r in dedup.exact_dedup(docs, "doc_id").collect()}
    assert out[0].canonical_id == 0 and out[2].canonical_id == 0
    assert out[0].group_size == 2
    assert out[1].canonical_id == 1
    assert out[4].canonical_id == 4  # shuffled text is NOT an exact dup

def test_fingerprint_catches_shuffle(docs):
    fp = docs.select("doc_id", text.fingerprint(F.col("text")).alias("fp")).collect()
    m = {r.doc_id: r.fp for r in fp}
    assert m[0] == m[2] == m[4]  # token-set invariant
    assert m[0] != m[3]

def test_ngram_jaccard(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.5).collect()
    }
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0
    assert not any(3 in p for p in pairs)

def test_minhash_lsh(docs):
    sig = dedup.minhash_signatures(docs, "doc_id", k=16)
    rows = {r.doc_id: r.minhash for r in sig.collect()}
    assert rows[0] == rows[2]  # identical docs → identical signatures
    agree = sum(1 for a, b in zip(rows[0], rows[1]) if a == b) / 16
    assert agree > 0.3  # near-dups agree on a chunk of the signature
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_candidate_pairs(docs, "doc_id", k=16, bands=8).collect()
    }
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0

def test_lsh_max_bucket_sheds_mega_buckets(spark):
    """max_bucket drops over-occupied band buckets before the self-join:
    a 6-copy boilerplate cluster stops producing its quadratic pairs,
    pairs outside the shed buckets survive, and the capped result is a
    strict subset of the uncapped one. Default (None) is unchanged."""
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    distinct_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, boiler) for i in range(6)]
    rows += [(10, distinct_a), (11, distinct_a)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(**kw):
        return {
            (r.id_a, r.id_b)
            for r in dedup.neardup_pairs(
                df, "doc_id", n=2, threshold=0.5, **kw
            ).collect()
        }

    unc = pairs()
    assert (10, 11) in unc and (0, 1) in unc and len(unc) == 15 + 1
    capped = pairs(max_bucket=5)  # boilerplate occupies 6 > 5 per bucket
    assert (10, 11) in capped     # 2-doc buckets survive the cap
    assert not any(a < 6 and b < 6 for a, b in capped)  # cluster shed
    assert capped < unc


def test_ngram_jaccard_size_shed_is_exact(spark):
    """The size-ratio shed (min >= t*max shingles) drops only candidates
    that could NEVER reach the threshold: results with candidates equal
    the unsheddable brute-force form on a corpus engineered so some
    candidate pairs fail the ratio test."""
    rows = [
        (1, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
        (2, "a b c d"),                      # tiny subset of 1
        (3, "a b c d e f g h i j k l m n o p q r s t u v w x y QQ"),
        (4, "unrelated words entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # all-pairs candidates: the shed is the only thing between the
    # candidate set and the exact intersection
    ids = [r[0] for r in rows]
    cand = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", n=2, threshold=0.5, candidates=cand
        ).collect()
    }
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, "doc_id", n=2, threshold=0.5)
        .collect()
    }
    assert got == want
    assert (1, 3) in got          # survives: 24/26 shared bigrams
    assert not any(2 in p for p in got)  # the subset doc can't reach 0.5


def test_simhash(docs):
    out = {r.doc_id: r.simhash for r in dedup.simhash32(docs, "doc_id").collect()}
    assert out[0] == out[2]
    # hamming distance between near-dups small, vs unrelated large
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(out[0], out[1]) <= 8
    assert ham(out[0], out[3]) > ham(out[0], out[1])

def test_text_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [(1, "The cat is on the mat."), (2, "xx!!??")], "id long, text string"
    )
    q = {r.id: r for r in text.quality_features(df).collect()}
    assert q[1].q_tokens == 6
    assert q[1].q_stopword_ratio > 0
    assert q[2].q_punct_ratio > 0.5
    t = df.select("id", text.token_count_bpe(F.col("text")).alias("n")).collect()
    m = {r.id: r.n for r in t}
    assert m[1] == 7  # The cat is on the mat .
    assert m[2] == 5  # 'xx' + '!' + '!' + '?' + '?'

def test_langid(spark):
    df = spark.createDataFrame(
        [
            (1, "the house of the rising sun and the moon is bright"),
            (2, "der hund und die katze das ist gut"),
            (3, "le chat et la maison est grande les arbres"),
            (4, "zzz qqq www"),
        ],
        "id long, text string",
    )
    out = {r.id: r.lang for r in df.select("id", text.langid(F.col("text")).alias("lang")).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr" and out[4] == "und"


def test_connected_components(spark):
    # chain 1-2-3 (diameter 2, forces >1 propagation round), pair 10-11,
    # and 7 appears only as the greater end of 5-7
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11), (5, 7)], ["id_a", "id_b"]
    )
    got = {
        (r["node"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (5, 5), (7, 5)}

def test_connected_components_property(spark):
    """Random graphs vs a pure-Python union-find model (8 seeds; kept
    small — every propagation round is a Spark job)."""
    import random

    def model(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # component = min node of the set
        comp = {}
        for n in parent:
            r = find(n)
            comp.setdefault(r, []).append(n)
        return {n: min(ns) for r, ns in comp.items() for n in ns}

    for seed in range(8):
        rng = random.Random(seed)
        n_nodes = rng.randint(2, 12)
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n_nodes), 2)))
                for _ in range(rng.randint(1, 14))
            }
        )
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {
            r["node"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == model(edges), f"seed={seed} edges={edges}"

def test_connected_components_star_matches_minlabel(spark):
    """large-star/small-star (Kiveris et al.) must produce the same
    components as min-label propagation, including on a deep chain
    (where star contraction's O(log² n) rounds matter)."""
    import random

    # deep chain 0-1-2-...-9: diameter 9
    chain = [(i, i + 1) for i in range(9)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components_star(pairs).collect()
    }
    assert got == {i: 0 for i in range(10)}

    for seed in range(6):
        rng = random.Random(100 + seed)
        n_nodes = rng.randint(2, 14)
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n_nodes), 2)))
                for _ in range(rng.randint(1, 16))
            }
        )
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        star = {
            r["node"]: r["component"]
            for r in dedup.connected_components_star(pairs).collect()
        }
        minlabel = {
            r["node"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert star == minlabel, f"seed={seed} edges={edges}"

def test_connected_components_star_keeps_self_pair_only_nodes(spark):
    """A node whose only appearance is a self-pair (id_a == id_b) — e.g.
    an exact-dup group of size 1 fed straight into clustering — must
    survive into the output as its own singleton component, even though
    orient() drops self-loops from the working edge list."""
    pairs = spark.createDataFrame(
        [(1, 2), (42, 42), (7, 7), (7, 8)], ["id_a", "id_b"]
    )
    for fn in (dedup.connected_components_star, dedup.connected_components):
        got = {(r["node"], r["component"]) for r in fn(pairs).collect()}
        assert got == {(1, 1), (2, 1), (42, 42), (7, 7), (8, 7)}, fn.__name__


def test_simhash_candidate_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_candidate_pairs(
            docs, "doc_id", max_hamming=3, bits=32
        ).collect()
    }
    assert pairs[(0, 2)] == 0          # identical docs: distance 0
    assert (0, 4) in pairs and pairs[(0, 4)] == 0  # token-multiset invariant
    assert all(h <= 3 for h in pairs.values())
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_simhash_candidate_pairs_defaults_to_60_bit(docs):
    """The default `bits` routes to the at-scale 60-bit signature
    (identical pairs to calling simhash60_candidate_pairs directly)."""
    import pytest

    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_candidate_pairs(docs, "doc_id").collect()
    )
    want = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash60_candidate_pairs(docs, "doc_id").collect()
    )
    assert got == want
    with pytest.raises(ValueError, match="bits"):
        dedup.simhash_candidate_pairs(docs, "doc_id", bits=48)

def test_simhash_banding_rejects_overflowing_bands(docs):
    """A max_hamming that leaves NO fully-intact sub-band combination to
    key on (n_sub - max_hamming < 1) would degrade the bucket-join to
    all-pairs (silently quadratic) — such configs raise. The AND-OR
    construction gives the 60-bit form (6 sub-bands) capacity up to
    hamming ≤ 5 and the 32-bit form (4 sub-bands) up to ≤ 3."""
    import pytest

    with pytest.raises(ValueError, match="all-pairs"):
        dedup.simhash_candidate_pairs(docs, "doc_id", max_hamming=6, bits=60)
    with pytest.raises(ValueError, match="all-pairs"):
        dedup.simhash_candidate_pairs(docs, "doc_id", max_hamming=4, bits=32)
    with pytest.raises(ValueError, match="all-pairs"):
        dedup.simhash60_candidate_pairs(docs, "doc_id", max_hamming=7)
    # boundary configs (exactly one intact combination class) still run
    assert dedup.simhash60_candidate_pairs(
        docs, "doc_id", max_hamming=5
    ).count() >= 0
    assert dedup.simhash_candidate_pairs(
        docs, "doc_id", max_hamming=3, bits=32
    ).count() >= 0


def test_banded_hamming_pairs_complete_property(spark):
    """Property check of the AND-OR banding core: over random signature
    tables and every legal max_hamming, _banded_hamming_pairs equals
    brute-force hamming ≤ max_hamming exactly — the completeness
    guarantee the candidate-join construction rests on, checked beyond
    the tokenizer-derived fixtures (including adversarial clustered
    signatures that differ in few bits)."""
    import random

    from hypothesis import given, settings, strategies as st

    from bgpexplorer_spark.operators.dedup import _banded_hamming_pairs

    @settings(max_examples=6, deadline=None)
    @given(seed=st.integers(0, 2**32 - 1), max_h=st.integers(1, 5))
    def check(seed, max_h):
        rnd = random.Random(seed)
        base = [rnd.getrandbits(60) for _ in range(6)]
        sigs = {}
        for i in range(40):
            # half the table clusters around the base signatures with a
            # few flipped bits — the regime banding exists to catch
            s = rnd.choice(base) if rnd.random() < 0.5 else rnd.getrandbits(60)
            for _ in range(rnd.randrange(0, max_h + 2)):
                s ^= 1 << rnd.randrange(60)
            sigs[i] = s
        df = spark.createDataFrame(
            list(sigs.items()), "doc_id long, simhash long"
        )
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in _banded_hamming_pairs(
                df, "doc_id", sub_bits=10, n_sub=6,
                max_hamming=max_h, sig_bits=60,
            ).collect()
        }
        brute = {
            (a, b): bin(sigs[a] ^ sigs[b]).count("1")
            for a in sigs for b in sigs
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= max_h
        }
        assert got == brute, (seed, max_h)

    check()


def test_simhash60_candidate_pairs(docs):
    """The at-scale 60-bit variant keeps the hamming <= 3 completeness
    guarantee (identical docs pair at 0; unrelated docs never pair) with
    15-bit bands; it must also agree with a brute-force check over the
    actual 60-bit signatures."""
    sigs = {r.doc_id: r.simhash
            for r in dedup.simhash60(docs, "doc_id").collect()}
    assert all(0 <= v < 2 ** 60 for v in sigs.values())
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs for b in sigs if a < b
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash60_candidate_pairs(
            docs, "doc_id", max_hamming=3
        ).collect()
    }
    assert got == brute                 # banding is COMPLETE for <= 3
    assert got[(0, 2)] == 0             # identical docs
    assert (0, 4) in got and got[(0, 4)] == 0  # token-multiset invariant


def test_rolling_fingerprint_order_sensitive(docs):
    fp = {
        r.doc_id: r.rfp
        for r in docs.select(
            "doc_id", text.rolling_fingerprint(F.col("text")).alias("rfp")
        ).collect()
    }
    assert fp[0] == fp[2]      # identical docs
    assert fp[0] != fp[4]      # shuffled tokens: rolling hash differs...
    # ...while the set fingerprint is shuffle-invariant (they complement)
    assert fp[0] != fp[3]


def test_ngram_containment_asymmetric(spark):
    # doc 1 is a strict prefix of doc 0: containment 1.0, jaccard well below
    long = "a b c d e f g h i j k l m n o p"
    docs = spark.createDataFrame(
        [(0, long), (1, "a b c d e f"), (2, "z y x w v u t s")],
        "doc_id long, text string",
    )
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.ngram_containment_pairs(
            docs, "doc_id", n=3, threshold=0.5
        ).collect()
    }
    assert cont[(0, 1)] == 1.0  # fully contained
    assert not any(2 in p for p in cont)
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.0).collect()
    }
    assert jac[(0, 1)] < 0.5  # symmetric jaccard misses the embedding


def test_repetition_features_hand_computed(spark):
    from bgpexplorer_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [(1, "a b\na b\nc d"), (2, "x y\nz w")], ["doc_id", "text"]
    )
    r = {x.doc_id: x for x in repetition_features(df).collect()}
    # doc 1: lines [a b, a b, c d] -> 2 distinct; dup chars 3+3 of 9;
    # 2-grams [a b, b a, a b, b c, c d] -> top mass 2*3=6 of 11 chars;
    # 3-grams all distinct
    assert r[1].r_lines == 3
    assert r[1].r_dup_line_frac == round(1 - 2 / 3, 4)
    assert r[1].r_dup_line_char_frac == round(6 / 9, 4)
    assert r[1].r_top2gram_char_frac == round(6 / 11, 4)
    assert r[1].r_dup3gram_char_frac == 0.0
    # doc 2: nothing repeats; top 2-gram mass = 1*3 of 7 chars
    assert r[2].r_dup_line_frac == 0.0
    assert r[2].r_dup_line_char_frac == 0.0
    assert r[2].r_top2gram_char_frac == round(3 / 7, 4)


def test_tfidf_topk_hand_computed(spark):
    import math

    from bgpexplorer_spark.operators.text import tfidf_topk

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry"),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.term): (r.tf, r.df, r.score, r.rank)
           for r in tfidf_topk(df, k=2).collect()}
    # N=3; idf(term) = ln(4 / (df+1))
    idf1 = math.log(4 / 2)   # df=1 (apple)
    idf2 = math.log(4 / 3)   # df=2 (banana, cherry)
    assert out[(1, "apple")] == (2, 1, round(2 * idf1, 4), 1)
    assert out[(1, "banana")] == (1, 2, round(1 * idf2, 4), 2)
    assert out[(3, "cherry")][0] == 3 and out[(3, "cherry")][3] == 1
    # doc 2: banana and cherry tie on score -> term asc breaks the tie
    assert out[(2, "banana")][3] == 1 and out[(2, "cherry")][3] == 2


def test_charlm_nll_model_equivalence(spark):
    """Spark charlm_nll vs an independent pure-Python trigram model, and
    cross-corpus scoring: a doc full of unseen trigrams scores worse."""
    import collections
    import math

    from bgpexplorer_spark.operators.text import charlm_nll

    rows = [(1, "the cat sat on the mat"), (2, "the cat ate"), (3, "zzqqxx")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tris, r.nll) for r in charlm_nll(df).collect()}

    cnt = collections.Counter()

    def tris(s):
        s = s.lower()
        return [s[i : i + 3] for i in range(len(s) - 2)]

    for _, t in rows:
        cnt.update(tris(t))
    total, vocab = sum(cnt.values()), len(cnt)
    for d, t in rows:
        ts = tris(t)
        nll = -sum(math.log((cnt[x] + 1) / (total + vocab)) for x in ts) / len(ts)
        assert got[d] == (len(ts), round(nll, 4)), d
    # the junk doc is least typical of this corpus
    assert got[3][1] > got[1][1]

    # train on docs 1-2 only, score doc 3: all-unseen trigrams -> the
    # worst possible smoothed score ln(1/(total+V)) at every position
    train = df.filter("doc_id < 3")
    scored = {r.doc_id: r.nll for r in charlm_nll(df, train=train).collect()}
    cnt2 = collections.Counter()
    for _, t in rows[:2]:
        cnt2.update(tris(t))
    worst = -math.log(1 / (sum(cnt2.values()) + len(cnt2)))
    assert scored[3] == round(worst, 4)


def test_duplicate_span_stats(spark):
    """ExactSubstr signal: an 8-token window shared by two docs marks one
    window duplicated in each; an exactly-8-token unique doc has one
    clean window; sub-k docs report zero windows."""
    from bgpexplorer_spark.operators.text import duplicate_span_stats

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j"),   # windows: abc..h, b..i, c..j
            (1, "a b c d e f g h x y"),   # shares window a..h with doc 0
            (2, "p q r s t u v w"),       # exactly 8 tokens, unique
            (3, "short doc"),             # < k tokens
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_frac)
        for r in duplicate_span_stats(docs).collect()
    }
    assert out == {
        0: (3, 1, 0.3333), 1: (3, 1, 0.3333), 2: (1, 0, 0.0), 3: (0, 0, 0.0),
    }

def test_c4_clean_rules(spark):
    df = spark.createDataFrame(
        [
            (0, "Good line with five words here.\n"
                "too short.\n"
                "no terminal punctuation at all\n"
                "this one has javascript inside it.\n"
                "A brace { breaks this perfectly fine line.\n"
                "Lorem Ipsum dolor sit amet consectetur.\n"
                "Another proper sentence with enough words!\n"
                'Quoted line also counts as terminal words."'),
            (1, "one good line is not enough words."),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.c4_clean(df).collect()}
    assert out[0].c4_lines == 8
    # kept: line 1, 7, 8 — short/unterminated/javascript/brace/lorem drop
    assert out[0].c4_kept == 3
    assert out[0].c4_keep is True
    assert out[0].c4_text.splitlines() == [
        "Good line with five words here.",
        "Another proper sentence with enough words!",
        'Quoted line also counts as terminal words."',
    ]
    assert out[1].c4_kept == 1 and out[1].c4_keep is False


def test_gopher_rules_gates(spark):
    long_ok = " ".join(["the", "of", "and", "word"] * 20)  # 80 words
    short = "tiny doc the of"
    symbols = " ".join(["the", "of", "and"] * 20) + " " + "# " * 30
    df = spark.createDataFrame(
        [(0, long_ok), (1, short), (2, symbols)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.gopher_rules(df).collect()}
    assert out[0].gopher_keep is True and out[0].g_words == 80
    assert out[1].g_ok_words is False and out[1].gopher_keep is False
    assert out[2].g_ok_symbols is False  # 30 hashes / 90 words > 0.1


def test_pii_scrub_and_counts(spark):
    s = ("mail a@b.co and c.d+e@f.org, host 192.168.0.1, "
         "call 555-0134-7788 now")
    df = spark.createDataFrame([(0, s)], "doc_id long, text string")
    r = df.select(
        text.pii_scrub(F.col("text")).alias("t"),
        text.pii_counts(F.col("text")).alias("c"),
    ).collect()[0]
    assert "<EMAIL>" in r.t and "<IP>" in r.t and "<PHONE>" in r.t
    assert "a@b.co" not in r.t and "192.168" not in r.t and "555-0134" not in r.t
    assert (r.c.email, r.c.ip, r.c.phone) == (2, 1, 1)


def test_paragraph_dedup_keep_first(spark):
    boiler = "subscribe to our newsletter today"
    df = spark.createDataFrame(
        [
            (0, f"unique intro zero\n\n{boiler}\n\nunique body zero"),
            (1, f"{boiler}\n\nunique body one"),
            (2, f"unique body two\n\n{boiler}"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.paragraph_dedup(df).collect()}
    assert out[0].n_paras == 3 and out[0].n_kept == 3  # first owner keeps it
    assert out[1].n_paras == 2 and out[1].n_kept == 1
    assert out[2].n_paras == 2 and out[2].n_kept == 1
    assert out[2].kept_chars == len("unique body two")


def test_remove_duplicate_spans_keep_first(spark):
    df = spark.createDataFrame(
        [
            (0, "a b c d e f g h tail zero"),
            (1, "intro one a b c d e f g h tail one"),  # later copy cut
            (2, "short doc"),                            # < k tokens: kept
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.remove_duplicate_spans(df, k=8).collect()}
    assert out[0].clean_text == "a b c d e f g h tail zero"  # first copy survives
    assert out[0].n_removed == 0
    # the shared span is 9 tokens (two overlapping dup windows cover
    # 'a..h' and 'b..tail')
    assert out[1].clean_text == "intro one one" and out[1].n_removed == 9
    assert out[2].clean_text == "short doc" and out[2].n_removed == 0


def test_keep_best_prefers_high_score(spark):
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)], "node long, component long"
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (7, 0.1)], "doc_id long, score double"
    )
    out = {r.doc_id: r for r in dedup.keep_best(comps, scores).collect()}
    # 2 and 3 tie at 0.9 -> lowest id (2) wins
    assert out[2].keep is True and out[3].keep is False and out[1].keep is False
    assert out[1].keeper_id == 2
    assert out[7].keep is True  # singleton keeps itself


def test_incremental_dedup_flags(spark):
    """Cross-run dedup against a persisted index: exact copy flagged
    exact+near, a one-word edit flagged near only, novel text kept, and
    an intra-batch duplicate pair deliberately NOT flagged."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely different corpus text about spark partitioning"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again and again"),
            (11, "the quick brown fox jumps over the lazy cat again and again"),
            (12, "totally novel text that shares nothing with yesterday corpus"),
            (13, "intra batch twin text never seen before in the old corpus"),
            (14, "intra batch twin text never seen before in the old corpus"),
        ],
        "doc_id long, text string",
    )
    idx = dedup.dedup_index(corpus, "doc_id", k=16, n=3, bands=4)
    out = {r.doc_id: r for r in
           dedup.incremental_dedup(batch, idx, "doc_id", k=16, n=3, bands=4)
           .collect()}
    assert out[10].exact_dup and out[10].near_dup and not out[10].keep
    assert not out[11].exact_dup and out[11].near_dup and not out[11].keep
    assert not out[12].exact_dup and not out[12].near_dup and out[12].keep
    # cross-run operator ignores intra-batch twins by design
    assert out[13].keep and out[14].keep


def test_dedup_index_merge_is_union_distinct(spark):
    """Two daily indexes merge with union().distinct() and flag the
    same batch as the index built over the union of the corpora."""
    day1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    day2 = spark.createDataFrame(
        [(2, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    merged = dedup.dedup_index(day1, "doc_id").unionByName(
        dedup.dedup_index(day2, "doc_id")
    ).distinct()
    full = dedup.dedup_index(day1.unionByName(day2), "doc_id")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_bm25_topk_matches_python_model(spark):
    import math

    rows = [
        (1, "spark join spark window"),
        (2, "merge sort filter table"),
        (3, "spark spark spark spark spark"),
        (4, "window hash window data line"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.score
           for r in text.bm25_topk(df, ["spark", "window"], k=4).collect()}

    docs = {i: t.split() for i, t in rows}
    n = len(docs)
    avgdl = sum(map(len, docs.values())) / n
    dft = {t: sum(1 for d in docs.values() if t in d) for t in ("spark", "window")}
    exp = {}
    for i, d in docs.items():
        s = 0.0
        for t in ("spark", "window"):
            tf = d.count(t)
            if not tf:
                continue
            idf = math.log(1 + (n - dft[t] + 0.5) / (dft[t] + 0.5))
            s += round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(d) / avgdl)), 6)
        if s:
            exp[i] = round(s, 4)
    assert out == exp
    assert 2 not in out  # no query term -> not retrieved


def test_bm25_plan_is_takeordered(spark):
    df = spark.createDataFrame(
        [(1, "spark window"), (2, "hash join")], "doc_id long, text string"
    )
    plan = text.bm25_topk(df, ["spark"], k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # never a global sort
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_normalize_text_rules(spark):
    """Each rule: control chars stripped (tab/newline survive as
    whitespace), space/tab runs collapse, 3+ newlines squeeze to a
    paragraph break, spaces around newlines drop, ends trimmed."""
    from bgpexplorer_spark.operators.text import normalize_text

    raw = "  a\x00b\x07c\t\td  \n\n\n\n e\x7f \nf  "
    df = spark.createDataFrame([(raw,)], "t string")
    got = df.select(normalize_text(F.col("t")).alias("c")).first()["c"]
    assert got == "abc d\n\ne\nf"
    # newline runs INTERLEAVED with spaces must still squeeze to one
    # paragraph break (regression: rule order used to leave "\n\n\n\n")
    df2 = spark.createDataFrame([("a\n \n \n \nb",)], "t string")
    got2 = df2.select(normalize_text(F.col("t")).alias("c")).first()["c"]
    assert got2 == "a\n\nb"


def test_minhash_nonportable_hash_equivalent_dedup(spark):
    """portable=False (JVM xxhash64) is the production hash path: exact
    duplicates still get identical signatures and land in the same LSH
    buckets; distinct texts keep distinct-signature behavior. (The
    portable md5 hash exists only so DuckDB oracles can replay the
    signatures — any uniform hash gives valid MinHash estimates.)"""
    from bgpexplorer_spark.operators.dedup import (
        lsh_buckets, minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # exact dup of 1
            (3, "totally different words entirely here"),
        ],
        "doc_id long, text string",
    )
    for portable in (True, False):
        sig = {r.doc_id: list(r.minhash) for r in
               minhash_signatures(docs, "doc_id", portable=portable).collect()}
        assert sig[1] == sig[2] != sig[3], portable
        b = lsh_buckets(
            minhash_signatures(docs, "doc_id", portable=portable),
            "doc_id", bands=4, k=16,
        )
        buckets = {}
        for r in b.collect():
            buckets.setdefault((r.band, r.bucket), set()).add(r.doc_id)
        assert any({1, 2} <= s for s in buckets.values())
    # the two hash paths intentionally differ in VALUES (different hash)
    a = minhash_signatures(docs, "doc_id", portable=True).collect()
    c = minhash_signatures(docs, "doc_id", portable=False).collect()
    assert {r.doc_id for r in a} == {r.doc_id for r in c}


def test_hashed_classifier_margin_hand_computed(spark):
    """Margin replayed in plain Python over the same md5 bucket hash;
    empty text scores exactly the bias."""
    import hashlib

    w = text.classifier_weights(16)
    df = spark.createDataFrame(
        [(1, "Spark rows FAST"), (2, "")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: r.margin
        for r in df.select(
            "doc_id",
            text.hashed_classifier_margin(F.col("text"), w, bias=0.25).alias(
                "margin"
            ),
        ).collect()
    }

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 16

    toks = ["spark", "rows", "fast"]
    want = 0.25 + sum(w[bucket(t)] for t in toks) / len(toks)
    assert abs(out[1] - want) < 1e-12
    assert out[2] == 0.25


def test_bpe_pair_counts_hand_computed(spark):
    """'aab aab ab' → word table {aab:2, ab:1}; pairs: (a,a)×2,
    (a,b)×3; single-char words contribute nothing."""
    df = spark.createDataFrame(
        [(1, "aab aab x"), (2, "ab")], ["doc_id", "text"]
    )
    got = {(r.sym_a, r.sym_b): r.n
           for r in text.bpe_pair_counts(df).collect()}
    assert got == {("a", "a"): 2, ("a", "b"): 3}


def test_classifier_paths_agree_and_no_literal_blowup(spark):
    """The literal and broadcast weight-table paths compute identical
    margins, and the broadcast path's plan stays constant-size (no
    million-literal array) — the ivf_assign codebook discipline."""
    w = text.classifier_weights(64)
    df = spark.createDataFrame(
        [(1, "spark rows fast"), (2, "the the the"), (3, "")],
        ["doc_id", "text"],
    )
    lit_rows = sorted(
        (r.doc_id, r.margin)
        for r in text.classify_quality(df, w, bias=0.1).collect()
    )
    bc = text.classify_quality(df, w, bias=0.1, inline_max=0)
    bc_rows = sorted((r.doc_id, r.margin) for r in bc.collect())
    assert lit_rows == bc_rows
    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_char_entropy_hand_computed(spark):
    """'aaab' → H = -(3/4 ln 3/4 + 1/4 ln 1/4); uniform 'abcd' → ln 4;
    single-char filler → 0.0; empty text emits no row."""
    import math

    df = spark.createDataFrame(
        [(1, "aaab"), (2, "abcd"), (3, "zzzz"), (4, "")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in text.char_entropy(df).collect()}
    want1 = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert got[1].entropy == round(want1, 4)
    assert (got[1].n_chars, got[1].n_distinct) == (4, 2)
    assert got[2].entropy == round(math.log(4), 4)
    assert got[3].entropy == 0.0
    assert 4 not in got


def test_dedup_sweep_hand_computed(spark):
    """Three pairs at j=0.9/0.5/0.3 over four docs: each threshold keeps
    the expected pair/doc counts, and an unreachable threshold reports
    zeros instead of vanishing."""
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.5), (3, 4, 0.3)],
        "id_a long, id_b long, jaccard double",
    )
    got = {r.threshold: (r.n_pairs, r.n_docs)
           for r in dedup.dedup_sweep(pairs, [0.3, 0.6, 0.95]).collect()}
    assert got == {0.3: (3, 4), 0.6: (1, 2), 0.95: (0, 0)}


def test_cluster_size_histogram_hand_computed(spark):
    """Components {1,1,1},{4,4},{6} → histogram 3:1, 2:1, 1:1 with doc
    totals 3/2/1."""
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)],
        "doc_id long, component long",
    )
    got = {r.cluster_size: (r.n_clusters, r.n_docs)
           for r in dedup.cluster_size_histogram(comps).collect()}
    assert got == {3: (1, 3), 2: (1, 2), 1: (1, 1)}


# --- MIPS + Gram/PCA (r8) ----------------------------------------------------


def test_paragraph_dedup_null_id_and_empty_doc(spark):
    """A NULL doc id is still one document's stats (struct-wrapped join
    keys are null-safe), and a zero-paragraph doc reports (0, 0, 0)."""
    df = spark.createDataFrame(
        [(None, "a b\n\nc d"), (7, "\n\n"), (8, "a b")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_paras, r.n_kept, r.kept_chars)
           for r in dedup.paragraph_dedup(df).collect()}
    assert out[None] == (2, 2, 6)   # NULL id keeps its true stats
    assert out[7] == (0, 0, 0)      # empty doc present, not dropped
    assert out[8] == (1, 0, 0)      # 'a b' already kept by the NULL doc


def test_paragraph_dedup_null_text(spark):
    """A NULL-text document gets a row with n_paras 0 (ANSI size(NULL)
    is NULL — the operator coalesces it per row, honoring the
    every-document-gets-a-row contract)."""
    df = spark.createDataFrame(
        [(1, None), (2, "x y")], "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_paras, r.n_kept, r.kept_chars)
           for r in dedup.paragraph_dedup(df).collect()}
    assert out[1] == (0, 0, 0)
    assert out[2] == (1, 1, 3)


def _bpe_py(word: str, merges: list[str]) -> list[str]:
    """Pure-Python reference: merge the LEFTMOST occurrence of the
    lowest-rank adjacent pair until no pair is rankable."""
    ranks = {m: i + 1 for i, m in enumerate(merges)}
    syms = list(word)
    while len(syms) >= 2:
        pr = [ranks.get(syms[i] + " " + syms[i + 1], 0)
              for i in range(len(syms) - 1)]
        pos = [r for r in pr if r > 0]
        if not pos:
            break
        p = pr.index(min(pos))
        syms = syms[:p] + [syms[p] + syms[p + 1]] + syms[p + 2:]
    return syms


_BPE_TEST_MERGES = ["a b", "ab ab", "c d", "b a", "ba cd"]


def test_bpe_encode_matches_python_model(spark):
    """The JVM fold encodes every word exactly like the pure-Python BPE
    loop, across randomized words exercising overlaps, rank priority and
    multi-step merges; doc order is preserved in the token stream."""
    import random

    random.seed(11)
    words = ["".join(random.choices("abcd", k=random.randint(1, 14)))
             for _ in range(120)]
    docs_rows = []
    for i in range(30):
        picked = random.choices(words, k=random.randint(0, 8))
        docs_rows.append((i, " ".join(picked)))
    df = spark.createDataFrame(docs_rows, "doc_id long, text string")
    out = {r.doc_id: (r.tokens, r.n_tokens)
           for r in text.bpe_encode(df, _BPE_TEST_MERGES).collect()}
    assert len(out) == 30                     # every doc keeps a row
    for i, txt in docs_rows:
        want = [t for w in txt.split() for t in _bpe_py(w, _BPE_TEST_MERGES)]
        assert out[i] == (want, len(want)), (i, txt)


def test_bpe_encode_edge_docs(spark):
    """Zero-word / NULL-text documents keep a row with ([], 0); text is
    lowercased before encoding; duplicate merge rules raise."""
    df = spark.createDataFrame(
        [(1, None), (2, "   "), (3, "ABAB ab")], "doc_id long, text string"
    )
    out = {r.doc_id: (r.tokens, r.n_tokens)
           for r in text.bpe_encode(df, _BPE_TEST_MERGES).collect()}
    assert out[1] == ([], 0)
    assert out[2] == ([], 0)
    assert out[3] == (["abab", "ab"], 2)
    with pytest.raises(ValueError, match="duplicate"):
        text.bpe_encode(df, ["a b", "a b"])


def test_bpe_encode_broadcast_rank_table(spark):
    """Above inline_max the rank table ships as ONE broadcast row — the
    plan stays constant-size — and the results are identical to the
    literal-map path."""
    df = spark.createDataFrame(
        [(1, "abab cd xyz"), (2, "bacd bacd a")], "doc_id long, text string"
    )
    lit = sorted(text.bpe_encode(df, _BPE_TEST_MERGES).collect())
    bc = sorted(
        text.bpe_encode(df, _BPE_TEST_MERGES, inline_max=0).collect()
    )
    assert lit == bc


def test_bpe_train_encode_composition(spark):
    """END-TO-END BPE (r9 verdict ask #7): drive the trainer loop —
    bpe_pair_counts on the current segmentation → take the top pair →
    append to the table — for N rounds, feed the LEARNED table to
    bpe_encode, and check the round-trip properties:

    - per merge added, the corpus token count decreases by EXACTLY that
      pair's trainer count (each counted occurrence collapses two
      symbols into one — the Sennrich trainer invariant), so the count
      is strictly monotonically decreasing;
    - re-joining each word's tokens reproduces the word, and the
      doc-order token stream detokenizes to the whitespace-normalized
      lowercased input;
    - the trainer's per-round segmentation agrees with what bpe_encode
      produces for the same table prefix (trainer and encoder share the
      fold by construction).
    """
    rows = [
        (0, "low lower lowest low low"),
        (1, "new newer newest new"),
        (2, "wide wider widest lower"),
        (3, None),
        (4, "low new wide widest"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def corpus_tokens(merges):
        return {r.doc_id: r.tokens
                for r in text.bpe_encode(df, merges).collect()} if merges else {
            i: [c for w in (t or "").lower().split() for c in w]
            for i, t in rows}

    def nonoverlap_count(tok_lists, pair):
        # greedy left-to-right non-overlapping occurrences — what ONE
        # merge application actually removes. For a self-overlapping
        # pair (sym_a == sym_b, e.g. 'a a' in 'aaa') the trainer's gap
        # count exceeds this (2 gaps, 1 merge), so the expectation must
        # use THIS count, not the trainer's n (r10 ADVICE: the fixture
        # happening to avoid overlapping top pairs made n coincide)
        cnt = 0
        for toks in tok_lists:
            i = 0
            while i < len(toks) - 1:
                if (toks[i], toks[i + 1]) == pair:
                    cnt += 1
                    i += 2
                else:
                    i += 1
        return cnt

    merges: list[str] = []
    prev_toks = corpus_tokens(merges)
    n_total = sum(len(t) for t in prev_toks.values())
    for _ in range(6):
        top = text.bpe_pair_counts(df, k=1, merges=merges or None).collect()
        assert top, "trainer ran out of pairs early"
        pair = (top[0]["sym_a"], top[0]["sym_b"])
        pair_n = top[0]["n"]
        removed = nonoverlap_count(prev_toks.values(), pair)
        if pair[0] != pair[1]:
            # a non-self-overlapping pair removes exactly its gap count
            assert removed == pair_n
        merges.append(f"{pair[0]} {pair[1]}")
        toks = corpus_tokens(merges)
        new_total = sum(len(t) for t in toks.values())
        # each APPLIED occurrence of the merged pair collapses 2→1 token
        assert new_total == n_total - removed
        assert new_total < n_total
        n_total, prev_toks = new_total, toks

    # round-trip: token streams re-join to the normalized input text
    out = {r.doc_id: r.tokens for r in text.bpe_encode(df, merges).collect()}
    for i, t in rows:
        want = " ".join((t or "").lower().split())
        # tokens concatenate back into words in order; word boundaries
        # are recoverable because merges never cross whitespace — check
        # the concatenation of all tokens equals the input minus spaces
        assert "".join(out[i]) == want.replace(" ", ""), (i, out[i])


def test_novelty_scores_hand_computed(spark):
    """novelty = fraction of a doc's distinct trigrams first seen in it:
    originals score 1, exact dups 0, partial overlap in between;
    zero-shingle docs keep a row with 0/0/0.0."""
    df = spark.createDataFrame(
        [
            (0, "a b c d"),          # trigrams {a b c, b c d} — both new
            (1, "a b c d"),          # exact dup — nothing new
            (2, "b c d e f"),        # {b c d, c d e, d e f}: 2 of 3 new
            (3, "x"),                # too short for trigrams
            (4, None),               # null text
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_shingles, r.n_novel, r.novelty)
           for r in dedup.novelty_scores(df, "doc_id", n=3).collect()}
    assert out[0] == (2, 2, 1.0)
    assert out[1] == (2, 0, 0.0)
    assert out[2] == (3, 2, 0.6667)
    assert out[3] == (0, 0, 0.0)
    assert out[4] == (0, 0, 0.0)


def test_bpe_fertility_matches_python_model(spark):
    """Fertility per group equals Σ tokens / Σ words computed by the
    pure-Python BPE reference over the same lowercased whitespace
    words, half-up on the 1e-4 grid."""
    rows = [
        (0, "en", "ab abab cd"),
        (1, "en", "ba cd cd"),
        (2, "xx", "dcba abcd"),
        (3, "xx", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r.lang: (r.n_docs, r.n_words, r.n_tokens, r.fertility)
           for r in text.bpe_fertility(
               df, _BPE_TEST_MERGES, group_col="lang").collect()}
    for lang in ("en", "xx"):
        docs_l = [(t or "") for i, lg, t in rows if lg == lang]
        words = [w for t in docs_l for w in t.lower().split()]
        toks = sum(len(_bpe_py(w, _BPE_TEST_MERGES)) for w in words)
        fert = math.floor((10.0 * toks * 10000 / max(len(words), 1) + 5.0) / 10.0) / 10000.0
        assert out[lang] == (len(docs_l), len(words), toks, fert), lang


def test_novelty_conservation_property(spark):
    """Conservation: every distinct shingle in the corpus is first-seen
    exactly once, so Σ n_novel over docs == |distinct shingles in
    corpus|, and a doc-id permutation changes WHO is novel but never
    the total. Randomized corpus."""
    import random

    random.seed(23)
    vocab = [f"w{i}" for i in range(12)]
    rows = [(i, " ".join(random.choices(vocab, k=random.randint(0, 15))))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.novelty_scores(df, "doc_id", n=3).collect()
    total_novel = sum(r.n_novel for r in out)
    corpus_shingles = {
        " ".join(t.split()[i:i + 3])
        for _, t in rows for i in range(max(len(t.split()) - 2, 0))
    }
    assert total_novel == len(corpus_shingles)
    # permute ids: totals conserved
    perm = {i: (i * 7 + 3) % 40 for i in range(40)}
    df2 = spark.createDataFrame(
        [(perm[i], t) for i, t in rows], "doc_id long, text string")
    out2 = dedup.novelty_scores(df2, "doc_id", n=3).collect()
    assert sum(r.n_novel for r in out2) == len(corpus_shingles)
    assert sum(r.n_shingles for r in out2) == sum(r.n_shingles for r in out)


def test_bpe_handles_apostrophe_symbols(spark):
    """Corpus words keep apostrophes (whitespace tokenization), so the
    trainer can learn rules containing ' — the literal rank map must
    quote-escape them (unescaped, F.expr raises ParseException)."""
    df = spark.createDataFrame(
        [(0, "don't don't won't")], "doc_id long, text string"
    )
    top = text.bpe_pair_counts(df, k=1).collect()[0]
    assert "'" in top.sym_a + top.sym_b  # the hot pair involves a quote
    merges = [f"{top.sym_a} {top.sym_b}"]
    nxt = text.bpe_pair_counts(df, k=1, merges=merges).collect()
    assert nxt  # trainer recount parses and runs with the quoted rule
    out = {r.doc_id: r.n_tokens for r in text.bpe_encode(df, merges).collect()}
    assert out[0] == sum(len(_bpe_py(w, merges)) for w in "don't don't won't".split())


def test_hyperplane_family_has_no_aliased_planes():
    """Hash-family periodicity guard (r10: the first coefficient
    formula had period 7 in the plane index, so plane j+7 was
    bit-identical to plane j and the bucket space silently capped at
    2^7 — invisible to the result-equivalence oracle, which replays
    whatever formula is written). Every pair of planes up to 32 must
    differ in at least one coefficient, and each plane must take both
    signs (a constant-sign plane never splits anything)."""
    planes = [
        tuple(((i + 64 * j) * 2654435761 % 97) - 48 for i in range(64))
        for j in range(32)
    ]
    assert len(set(planes)) == len(planes), "aliased hyperplanes"
    for j, pl in enumerate(planes):
        assert any(c > 0 for c in pl) and any(c < 0 for c in pl), j


def test_lexical_diversity_hand_computed(spark):
    """'a b a c' → 4 tokens, 3 types, 2 hapax (b, c), ttr 0.75,
    hapax_frac 0.6667; null/empty text scores zeros."""
    df = spark.createDataFrame(
        [(0, "a b a c"), (1, ""), (2, None), (3, "x x x")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_tokens, r.n_types, r.n_hapax, r.ttr, r.hapax_frac)
           for r in text.lexical_diversity(df).collect()}
    assert out[0] == (4, 3, 2, 0.75, 0.6667)
    assert out[1] == (0, 0, 0, 0.0, 0.0)
    assert out[2] == (0, 0, 0, 0.0, 0.0)
    assert out[3] == (3, 1, 0, round(1 / 3 + 1e-9, 4), 0.0)


def test_canonical_by_quality_hand_computed(spark):
    """Component {1,2,3} with scores 5/9/9 keeps 2 (best score, lowest
    id on the tie); singleton 7 keeps itself."""
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)], "node long, component long"
    )
    scores = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (7, 1)], "doc_id long, n_chars long"
    )
    out = {r.doc_id: (r.component, r.keeper_id, r.kept)
           for r in dedup.canonical_by_quality(comp, scores).collect()}
    assert out == {
        1: (1, 2, False), 2: (1, 2, True), 3: (1, 2, False), 7: (7, 7, True),
    }


def test_span_corruption_matches_python_model(spark):
    """span_corruption equals a pure-Python replay of the tiling, hash
    mask, sentinel numbering, and both concatenations; null text emits
    0 blocks and empty strings."""
    import hashlib

    rows = [(0, "a b c d e f g h i j"), (1, "x y"), (2, None), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.span_corruption(df).collect()}

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    for did, t in rows:
        toks = (t or "").split()
        nb = -(-len(toks) // 3)
        mb = [b for b in range(nb) if h32(f"{did}:{b}") % 5 == 0]
        pieces, tgt = [], []
        for b in range(nb):
            if b in mb:
                k = mb.index(b)
                pieces.append(f"<extra_id_{k}>")
                tgt.append(f"<extra_id_{k}> " + " ".join(toks[b*3:b*3+3]))
            else:
                pieces.append(" ".join(toks[b*3:b*3+3]))
        r = out[did]
        assert (r.n_blocks, r.n_masked) == (nb, len(mb)), did
        assert r.input_text == " ".join(pieces), did
        assert r.target_text == " ".join(tgt), did
    # the fixture must actually exercise a mask
    assert any(out[d].n_masked > 0 for d, _ in rows)


def test_fim_split_roundtrip_and_python_replay(spark):
    """fim_split: split docs re-concatenate exactly (both cut sides
    non-empty), boundaries match the pure-Python hash replay, short and
    null docs pass through unsplit."""
    import hashlib

    rows = [(i, " ".join(f"w{j}" for j in range(4 + i % 9))) for i in range(30)]
    rows += [(100, "a b c"), (101, None), (102, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.fim_split(df).collect()}

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    n_fim = 0
    for did, t in rows:
        toks = (t or "").split()
        n = len(toks)
        r = out[did]
        want_fim = n >= 4 and h32(f"{did}:fim") % 3 == 0
        assert r.fim == want_fim, did
        if not want_fim:
            assert (r.prefix, r.middle, r.suffix) == (" ".join(toks), "", "")
            continue
        n_fim += 1
        a = 1 + h32(f"{did}:a") % (n - 2)
        b = a + 1 + h32(f"{did}:b") % (n - a - 1)
        assert r.prefix == " ".join(toks[:a]), did
        assert r.middle == " ".join(toks[a:b]), did
        assert r.suffix == " ".join(toks[b:]), did
        assert r.prefix and r.middle and r.suffix
        assert f"{r.prefix} {r.middle} {r.suffix}" == " ".join(toks)
    assert n_fim > 0


def test_cross_source_report_hand_computed(spark):
    """cross_source_report: canonicalized source pairs, exact counts,
    and the integer-arithmetic mean jaccard."""
    from bgpexplorer_spark.operators.dedup import cross_source_report

    docs = spark.createDataFrame(
        [(1, "cc"), (2, "c4"), (3, "cc"), (4, "wiki"), (5, "c4")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.5), (2, 3, 0.7), (1, 3, 0.9), (4, 5, 0.4)],
        "id_a long, id_b long, jaccard double",
    )
    out = {
        (r.source_a, r.source_b): (r.n_pairs, r.avg_jaccard)
        for r in cross_source_report(pairs, docs, "doc_id", "source").collect()
    }
    assert out == {
        ("c4", "cc"): (2, 0.6),     # (1,2)=0.5 and (2,3)=0.7
        ("cc", "cc"): (1, 0.9),
        ("c4", "wiki"): (1, 0.4),
    }


def test_bigram_nll_hand_computed(spark):
    """bigram_nll on a 3-doc corpus: hand-computed add-one bigram
    probabilities, context counts, vocabulary, and the exact
    integer-grid mean; <2-token and null docs emit nothing."""
    docs = spark.createDataFrame(
        [
            (0, "the cat sat"),
            (1, "the cat ran"),
            (2, "THE cat"),
            (3, "lonely"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_bigrams, r.nll)
           for r in text.bigram_nll(docs).collect()}
    assert set(out) == {0, 1, 2}

    # corpus bigrams: (the,cat)x3, (cat,sat), (cat,ran)
    # context counts: the=3, cat=2 ; vocab = {the,cat,sat,ran,lonely} = 5
    import math as m

    def lp6(c12, c1):
        return round(m.log((c12 + 1) / (c1 + 5.0)) * 1e6)

    def nll(terms):
        s = sum(lp6(*t) for t in terms)
        return round(-s / (len(terms) * 1e6), 4)

    assert out[0] == (2, nll([(3, 3), (1, 2)]))   # the-cat, cat-sat
    assert out[1] == (2, nll([(3, 3), (1, 2)]))   # the-cat, cat-ran
    assert out[2] == (1, nll([(3, 3)]))           # lowercased THE-cat
    # a doc full of corpus-typical bigrams scores LOWER than a rare one
    assert out[0] > (1,) or out[2][1] < out[0][1]


def test_bigram_nll_cross_corpus_unseen(spark):
    """Scoring against a SEPARATE train corpus: unseen bigrams/contexts
    take the (0+1)/(0+V) floor — the decontamination-style use (score
    new data against a trusted reference LM)."""
    import math as m

    train = spark.createDataFrame(
        [(0, "a b a b")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(10, "a b"), (11, "z q")], "doc_id long, text string"
    )
    out = {r.doc_id: (r.n_bigrams, r.nll)
           for r in text.bigram_nll(score, train=train).collect()}
    # train: bigrams (a,b)x2, (b,a); contexts a=2, b=1; vocab={a,b}=2
    ab = round(m.log((2 + 1) / (2 + 2.0)) * 1e6)
    zq = round(m.log((0 + 1) / (0 + 2.0)) * 1e6)
    assert out[10] == (1, round(-ab / 1e6, 4))
    assert out[11] == (1, round(-zq / 1e6, 4))
    assert out[11][1] > out[10][1]


def test_vocab_coverage_hand_computed(spark):
    """vocab_coverage with a tie exactly at the cutoff boundary: the
    lexicographically smaller term wins the last slot in both the
    operator and the model."""
    # counts: a=4, b=3, c=3, d=1  (tie b/c at rank 2/3; cutoff 2 takes b)
    docs = spark.createDataFrame(
        [(0, "a a b c"), (1, "a b c d"), (2, "a b c")],
        "doc_id long, text string",
    )
    out = {r.top_n: (r.covered_tokens, r.total_tokens, r.coverage)
           for r in text.vocab_coverage(docs, cutoffs=[1, 2, 3, 100]).collect()}
    assert out[1] == (4, 11, round(4 / 11, 6))
    assert out[2] == (7, 11, round(7 / 11, 6))      # a + b (tie-break)
    assert out[3] == (10, 11, round(10 / 11, 6))    # a + b + c
    assert out[100] == (11, 11, 1.0)                # cutoff past vocab


def test_minhash_calibration_hand_computed(spark):
    """minhash_calibration on controlled pairs: identical docs agree on
    all 16 mins with zero error; unrelated docs sit at low agreement;
    the report's integer-grid means match a Python recomputation."""
    from bgpexplorer_spark.operators.dedup import (
        minhash_calibration, minhash_signatures, ngram_jaccard_pairs,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
        (2, "alpha beta gamma delta epsilon zeta eta DIFFERENT"),
        (3, "totally unrelated words nothing in common here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.01)
    out = {r.agree: r for r in
           minhash_calibration(docs, pairs, "doc_id", k=16, n=3).collect()}
    sigs = {r.doc_id: list(r.minhash) for r in
            minhash_signatures(docs, "doc_id", k=16, n=3).collect()}
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    model: dict[int, list] = {}
    for (a, b), j in jac.items():
        ag = sum(x == y for x, y in zip(sigs[a], sigs[b]))
        model.setdefault(ag, []).append(j)
    assert set(out) == set(model)
    assert (0, 1) in jac and jac[(0, 1)] == 1.0
    assert out[16].mean_abs_err == 0.0 and out[16].mean_jaccard == 1.0
    for ag, js in model.items():
        r = out[ag]
        sj = sum(round(j * 10000) for j in js)
        se = sum(abs(ag * 625 - round(j * 10000)) for j in js)
        assert r.n_pairs == len(js)
        assert r.mean_jaccard == round(sj / (len(js) * 10000.0), 4)
        assert r.mean_abs_err == round(se / (len(js) * 10000.0), 4)
        assert r.est_jaccard == round(ag / 16.0, 4)


