"""Property-based invariants for the text and dedup
operators against independent pure-Python models: random corpora, any
divergence is an operator bug."""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from bgpexplorer_spark.operators import text

_structured_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),
        st.lists(  # paragraphs / lines built from a tiny vocabulary so
            st.lists(  # cross-doc repeats actually happen
                st.sampled_from(["alpha", "beta", "gamma", "x", "{", "Lorem",
                                 "Ipsum", "javascript"]),
                min_size=0, max_size=7,
            ).map(" ".join),
            min_size=0, max_size=5,
        ),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_structured_docs)
def test_paragraph_dedup_matches_model(spark, docs):
    from bgpexplorer_spark.operators.dedup import paragraph_dedup

    rows = [(i, "\n\n".join(paras)) for i, paras in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_paras, r.n_kept, r.kept_chars)
           for r in paragraph_dedup(df).collect()}

    seen: set[str] = set()
    want: dict[int, list] = {}
    for i, paras in sorted(docs):  # keep-first order = (doc_id, idx)
        kept = n = chars = 0
        for p in paras:
            if p.strip() == "":
                continue
            n += 1
            key = p.strip()
            if key not in seen:
                seen.add(key)
                kept += 1
                chars += len(p)
        # zero-paragraph docs still report (0, 0, 0): every input
        # document gets retention stats (the old window formulation
        # dropped them with the explode)
        want[i] = [n, kept, chars]
    assert got == {i: tuple(v) for i, v in want.items()}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_structured_docs)
def test_c4_clean_matches_model(spark, docs):
    import re

    from bgpexplorer_spark.operators.text import c4_clean

    # give some lines terminal punctuation so the rule has both outcomes
    rows = [
        (i, "\n".join(l + "." if (i + j) % 2 == 0 else l
                      for j, l in enumerate(lines)))
        for i, lines in docs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.c4_lines, r.c4_kept, r.c4_keep, r.c4_text)
           for r in c4_clean(df).collect()}

    def keep(line: str) -> bool:
        low = line.lower()
        return (
            re.search(r"""[.!?"']\s*$""", line) is not None
            and len([w for w in re.split(r"\s+", line.strip()) if w]) >= 5
            and "javascript" not in low
            and "lorem ipsum" not in low
            and "{" not in low
        )

    for i, text in rows:
        lines = text.split("\n")
        kept = [l for l in lines if keep(l)]
        assert got[i] == (len(lines), len(kept), len(kept) >= 3,
                          "\n".join(kept))


@settings(max_examples=15, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="abc XYZ", min_size=0, max_size=24),
        min_size=1, max_size=6,
    ),
)
def test_classifier_margin_matches_python_replay(spark, texts):
    """hashed_classifier_margin over arbitrary text equals an in-order
    Python replay of the same md5-bucket fold."""
    from bgpexplorer_spark.operators.text import classifier_weights

    w = classifier_weights(32)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r.doc_id: r.m
        for r in df.select(
            "doc_id",
            text.hashed_classifier_margin(F.col("text"), w, bias=0.5).alias("m"),
        ).collect()
    }

    def replay(t):
        toks = [x for x in t.lower().split() if x]
        acc = 0.0
        for tok in toks:
            acc += w[int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 32]
        return 0.5 + acc / max(len(toks), 1)

    for i, t in enumerate(texts):
        assert got[i] == replay(t)


_bigram_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=999),
        st.text(alphabet=st.sampled_from("abc "), min_size=0, max_size=24),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_bigram_docs)
def test_bigram_nll_matches_model(spark, docs):
    """bigram_nll vs a pure-Python bigram model on random corpora — the
    integer-grid mean makes the comparison exact."""
    import math

    df = spark.createDataFrame(docs, "doc_id long, text string")
    toks = {i: (t or "").lower().split() for i, t in docs}
    bi: dict[tuple, int] = {}
    uni: dict[str, int] = {}
    vocab = set()
    for ts in toks.values():
        vocab.update(ts)
        for a, b in zip(ts, ts[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
            uni[a] = uni.get(a, 0) + 1
    want = {}
    for i, ts in toks.items():
        if len(ts) < 2:
            continue
        lp6s = [
            round(
                math.log((bi[(a, b)] + 1) / (uni[a] + float(len(vocab)))) * 1e6
            )
            for a, b in zip(ts, ts[1:])
        ]
        want[i] = (len(lp6s), round(-sum(lp6s) / (len(lp6s) * 1e6), 4))
    got = {
        r.doc_id: (r.n_bigrams, r.nll) for r in text.bigram_nll(df).collect()
    }
    assert got == want


