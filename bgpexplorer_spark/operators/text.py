"""Text-analysis operators for large-scale training-data pipelines
(BASELINE.json north star: language-ID, quality scoring, token counting,
document fingerprinting). All pure Column algebra — no Python UDFs — so the
whole pipeline stays in whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# A "BPE-ish" pre-tokenizer: letter runs, digit runs, single punctuation.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# tiny per-language marker-word profiles for the n-gram/stopword heuristic
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
}

STOPWORDS = LANG_PROFILES["en"]

def tokens(col: Column) -> Column:
    """Whitespace tokenization (empty-string safe)."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")

def token_count_ws(col: Column) -> Column:
    return F.size(tokens(col))

def token_count_bpe(col: Column) -> Column:
    """Regex pre-tokenizer count — the cheap proxy for BPE token budgeting."""
    return F.regexp_count(col, F.lit(BPE_RE))

def _marker_hits(col: Column, words: tuple[str, ...]) -> Column:
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    out = F.lit(0)
    for w in words:
        # non-regex count of ' w ' occurrences; adjacent matches can share a
        # space so also count with double padding folded in
        out = out + F.size(F.split(padded, f" {w} ")) - 1
    return out

def langid(col: Column) -> Column:
    """Marker-word profile language ID: argmax hit-count over profiles,
    'und' when nothing hits."""
    scores = [(lang, _marker_hits(col, ws)) for lang, ws in LANG_PROFILES.items()]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reversed so that earlier profiles win ties
    for lang, s in reversed(scores):
        out = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(out)
    return out

def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality scoring."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    stop_hits = _marker_hits(t, STOPWORDS)
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        n_tok.alias("q_tokens"),
        F.round(n_chars / F.greatest(n_tok, F.lit(1)), 4).alias("q_avg_token_len"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 4).alias("q_punct_ratio"),
        F.round(stop_hits / F.greatest(n_tok, F.lit(1)), 4).alias("q_stopword_ratio"),
    )

def fingerprint(col: Column) -> Column:
    """Canonical document fingerprint: md5 over the sorted distinct
    lowercase token set (word-order/duplication invariant — catches
    shuffled near-dups that exact hashing misses)."""
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(F.lower(col)))))
    return F.md5(canon)

ROLLING_P = 2_147_483_647

def rolling_fingerprint(col: Column) -> Column:
    """Order-SENSITIVE rolling-hash fingerprint (Rabin-Karp style over
    tokens): h = fold(tokens, h*31 + hash32(token) mod p). Complements
    :func:`fingerprint` — the set fingerprint is invariant to shuffling,
    this one changes with any reordering/edit. Pure fold, no shuffle;
    the affine step keeps every intermediate under 2^37 so BIGINT
    arithmetic is exact on both engines."""
    return F.aggregate(
        tokens(col),
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * 31 + portable_hash32(t)) % F.lit(ROLLING_P),
    )

def shingles_of_tokens(toks: Column, n: int = 2) -> Column:
    """Word n-gram shingles from a token-array column (the MinHash/Jaccard
    unit). Docs with fewer than n tokens yield an empty array.

    Hot paths must materialize the token array in a Project first
    (``.withColumn("_toks", tokens(col))``) and pass that column here: a
    lambda-captured ``tokens(text)`` expression tree is re-evaluated per
    shingle inside ``transform`` (O(tokens²) — measured 7× slower at sf0.1).

    Per-shingle construction is ``concat`` of ``element_at`` references,
    NOT ``concat_ws(slice(...))`` (r11 optimization): ``slice`` allocates
    a fresh n-element array copy per shingle inside the interpreted
    ``transform`` lambda, and that allocation dominated the whole dedup
    family's CPU — measured at sf1 on the fanned-out shingle explode:
    22.8 → 3.4 s executor CPU per run (−85%), exact row-set equality.
    ``concat`` == ``concat_ws`` here because ``tokens()`` output can
    contain no NULL elements (split+filter never yields one)."""
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: window_concat(toks, i, n))


def window_concat(arr: Column, i: Column, k: int, sep: str = " ") -> Column:
    """``arr[i..i+k-1]`` joined by ``sep`` as a single string, built from
    ``k`` ``element_at`` references and one plain ``concat`` — NOT
    ``concat_ws(sep, slice(arr, i, k))``: ``slice`` allocates a fresh
    k-element array copy per window, and inside an interpreted
    ``transform`` lambda (or a per-window exploded projection) that
    allocation dominates the stage's CPU — see the r11 shingle measure
    in :func:`shingles_of_tokens`. Equal to the ``concat_ws`` form only
    when the array holds no NULL elements and the window lies fully
    inside the array — both guaranteed by every caller here
    (``split``/``tokens`` output; index ranges built to fit)."""
    parts: list[Column] = []
    for j in range(k):
        if j and sep:
            parts.append(F.lit(sep))
        parts.append(F.element_at(arr, i + F.lit(j)))
    return parts[0] if len(parts) == 1 else F.concat(*parts)

def shingles(col: Column, n: int = 2) -> Column:
    """Word n-gram shingles straight from text — convenience form; prefer
    ``tokens()`` materialized into a column + ``shingles_of_tokens`` when the
    document is exploded many times."""
    return shingles_of_tokens(tokens(col), n)

def portable_hash32(col: Column) -> Column:
    """Deterministic 32-bit hash both Spark and DuckDB can compute
    identically: first 8 hex chars of md5 as an integer."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def portable_hash60(col: Column) -> Column:
    """Deterministic 60-bit hash (first 15 md5 hex chars): the widest
    md5 prefix that stays inside a SIGNED 64-bit integer in BOTH engines
    (16^15 = 2^60 < 2^63), so the cross-engine-verifiable recipe needs
    no unsigned arithmetic. Used by the at-scale SimHash variant."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")

def repetition_features(
    df: DataFrame, text_col: str = "text", line_sep: str = "\n"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1 —
    the public repetition filters every large-scale text pipeline runs):

    - ``r_lines``: line count
    - ``r_dup_line_frac``: fraction of lines that are repeats of an
      earlier-seen line (1 - distinct/total)
    - ``r_dup_line_char_frac``: fraction of line characters sitting in
      any line that occurs more than once
    - ``r_top2gram_char_frac``: character mass of the heaviest word
      2-gram (count x gram length) over document characters
    - ``r_dup3gram_char_frac``: fraction of characters in word 3-grams
      that occur more than once

    Pure Column algebra: per-document array lambdas stay inside
    whole-stage codegen, zero shuffles — the 100 TB form is a map-only
    projection. The distinct-vs-occurrences counting is O(L**2) in the
    per-document line/gram count, which is the right trade until
    documents have many thousands of lines (then: explode + per-doc
    groupBy). Intermediate arrays are materialized as real columns so
    the generated code stays within janino's method-size budget."""
    t = F.col(text_col)
    staged = (
        df.withColumn("_lines", F.split(t, line_sep))
        .withColumn("_toks", tokens(t))
        .withColumn("_g2", shingles_of_tokens(F.col("_toks"), 2))
        .withColumn("_g3", shingles_of_tokens(F.col("_toks"), 3))
    )
    lines, g2, g3 = F.col("_lines"), F.col("_g2"), F.col("_g3")
    n_lines = F.size(lines)
    line_chars = F.aggregate(lines, F.lit(0), lambda a, l: a + F.length(l))
    dup_lines = F.filter(
        lines, lambda l: F.size(F.filter(lines, lambda x: x == l)) > 1
    )
    dup_line_chars = F.aggregate(dup_lines, F.lit(0), lambda a, l: a + F.length(l))
    n_chars = F.greatest(F.length(t), F.lit(1))
    top2_mass = F.coalesce(
        F.array_max(
            F.transform(
                F.array_distinct(g2),
                lambda g: F.size(F.filter(g2, lambda x: x == g)) * F.length(g),
            )
        ),
        F.lit(0),
    )
    dup3_chars = F.aggregate(
        F.filter(g3, lambda g: F.size(F.filter(g3, lambda x: x == g)) > 1),
        F.lit(0),
        lambda a, g: a + F.length(g),
    )
    return staged.select(
        *df.columns,
        n_lines.alias("r_lines"),
        F.round(1 - F.size(F.array_distinct(lines)) / n_lines, 4).alias(
            "r_dup_line_frac"
        ),
        F.round(dup_line_chars / F.greatest(line_chars, F.lit(1)), 4).alias(
            "r_dup_line_char_frac"
        ),
        F.round(top2_mass / n_chars, 4).alias("r_top2gram_char_frac"),
        F.round(dup3_chars / n_chars, 4).alias("r_dup3gram_char_frac"),
    )

def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_docs: int | None = None,
) -> DataFrame:
    """Per-document top-k keywords by smoothed tf-idf — the classic
    corpus-level topic/quality signal. tf = term count in the doc,
    idf = ln((N + 1) / (df + 1)) with df = number of docs containing the
    term. Output: (id, term, tf, df, score) with ties broken by term for
    determinism.

    Scale shape: one explode + per-(doc, term) count (map-side
    combinable), ONE aggregate for document frequencies (a dimension
    ~vocabulary-sized, broadcast back), and a per-doc top-k window
    partitioned by the document key — no global sort; the only driver
    value is the corpus size N (pass ``n_docs`` to avoid the count job).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    if n_docs is None:
        n_docs = df.count()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "_id", "term", "tf", "df",
        F.round(
            F.col("tf") * F.log((F.lit(n_docs) + 1) / (F.col("df") + 1)), 4
        ).alias("score"),
    )
    w = Window.partitionBy("_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("_id").alias(id_col), "term", "tf", "df", "score",
            F.col("_rn").alias("rank"),
        )
    )

def char_trigrams_of_chars(chars: Column) -> Column:
    """Character trigrams from a MATERIALIZED char-array column (the
    CCNet-style LM unit); arrays shorter than 3 yield an empty array.

    Hot paths must project ``F.split(F.lower(col), "")`` into a column
    first and pass that column here — the shingles_of_tokens discipline:
    a lambda-captured split tree is re-evaluated per ``element_at``
    reference inside the interpreted ``transform``. Measured at sf1 on
    the trigram explode (noop-sunk, interleaved): captured expression
    284-314 s CPU, materialized + slice 100 s, materialized +
    element_at windows 10 s per run."""
    n = F.size(chars)
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    # element_at windows, not concat_ws(slice(...)) — see window_concat
    return F.transform(idx, lambda i: window_concat(chars, i, 3, sep=""))


def char_trigrams(col: Column) -> Column:
    """Character trigrams straight from text — convenience form; prefer
    a materialized char-array column + :func:`char_trigrams_of_chars`
    on any per-corpus path (see that function's measure)."""
    return char_trigrams_of_chars(F.split(F.lower(col), ""))

def charlm_nll(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train: DataFrame | None = None,
) -> DataFrame:
    """Language-model quality scoring, the CCNet recipe shape (Wenzek et
    al. 2020 score documents with a small LM and keep the head of the
    distribution): train add-one-smoothed character-trigram statistics on
    ``train`` (default: the corpus itself), then score every document by
    its per-trigram negative log-likelihood
    ``nll = -avg(ln((count(tri)+1) / (total+V)))`` — lower = more typical
    of the corpus. Output: (id, n_tris, nll).

    Scale shape: one trigram-count aggregate over the train corpus (a
    vocabulary-sized dimension, broadcast back), a map-side left join for
    unseen trigrams, one per-doc aggregate. The only driver values are
    the two model scalars (total occurrences, vocabulary size).
    """
    train = train if train is not None else df
    # chars materialized into their own Project before the trigram
    # transform — see char_trigrams_of_chars for the measured reason
    chars = F.split(F.lower(F.col(text_col)), "").alias("_chars")
    tri = F.explode(char_trigrams_of_chars(F.col("_chars")))
    counts = (
        train.select(chars).select(tri.alias("tri")).groupBy("tri").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    tot = counts.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("vocab")
    ).first()
    denom = float(tot["total"] + tot["vocab"])
    doc_tris = df.select(F.col(id_col).alias("_id"), chars).select(
        "_id", tri.alias("tri")
    )
    logp = F.log((F.coalesce(F.col("cnt"), F.lit(0)) + 1) / F.lit(denom))
    return (
        doc_tris.join(F.broadcast(counts), "tri", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_tris"),
            F.round(-F.avg(logp), 4).alias("nll"),
        )
        .select(F.col("_id").alias(id_col), "n_tris", "nll")
    )


def duplicate_span_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Exact-substring duplication signal (Lee et al. 2021,
    arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
    Better" — the ExactSubstr criterion, token-windowed): hash every
    k-token window of every document; a window is DUPLICATED when the
    same window occurs in at least one other document. Per document:
    total windows, duplicated windows, and the duplicated fraction —
    the "how much of this doc is copied from elsewhere" filter signal.

    Scale shape: one explode (size ≈ tokens per doc), one count-distinct
    aggregate keyed by the window hash (map-side combinable), one
    shuffle join back on the hash, one per-doc aggregate — the same
    cost class as the shingle pipeline; nothing quadratic, no UDFs.
    Documents shorter than ``k`` tokens report 0 windows / 0.0 fraction.
    """
    # materialize the token array in its own Project FIRST (the
    # shingles_of_tokens discipline): a lambda-captured tokens(text)
    # tree is re-evaluated per element_at reference inside the
    # interpreted transform — measured at sf1 on this window explode:
    # captured-expression 228-297 s CPU vs materialized 3.8-4.1 s
    toks = F.col("_toks")
    n_win = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    wins = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        F.explode(
            F.transform(
                # sequence(1, 0) would count DOWN ([1, 0]); short docs
                # must produce no windows at all
                F.when(n_win >= 1, F.sequence(F.lit(1), n_win)).otherwise(
                    F.array().cast("array<int>")
                ),
                # element_at windows, not slice copies — see window_concat
                lambda i: window_concat(toks, i, k),
            )
        ).alias("_w"),
    ).select(F.col(id_col), portable_hash32(F.col("_w")).alias("_wh"))
    counts = wins.groupBy("_wh").agg(
        F.count_distinct(F.col(id_col)).alias("_docs")
    )
    per_doc = (
        wins.join(counts, "_wh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("_docs") >= 2, 1).otherwise(0)).alias(
                "n_dup_windows"
            ),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.coalesce(
                    F.col("n_dup_windows") / F.col("n_windows"), F.lit(0.0)
                ),
                4,
            ).alias("dup_frac"),
        )
    )


def vocab_stats(
    df: DataFrame, text_col: str = "text", k: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary statistics: per-token total count and document
    frequency, top-``k`` by count — the tokenizer-training / vocab-audit
    primitive (what BPE merges and frequency-cutoff vocabularies start
    from). One explode + one map-side-combinable aggregate + one top-k;
    ties break lexicographically so the cut is deterministic."""
    tok = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("_doc").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Corpus-cleaning rule sets (C4 / Gopher) and PII scrubbing — the standard
# pre-training filters, all pure Column algebra (zero UDFs, zero shuffles:
# every rule is a per-row projection, so the 100 TB plan is a single
# codegen'd scan).

# C4 (Raffel et al. 2020 §2.2) line-keep rule: terminal punctuation,
# at least five words, no curly brace / lorem ipsum / javascript marker.
_C4_MIN_WORDS = 5


def _c4_keep_line(line: Column) -> Column:
    low = F.lower(line)
    return (
        line.rlike(r"""[.!?"']\s*$""")
        & (F.size(F.filter(F.split(F.trim(line), r"\s+"),
                           lambda t: t != "")) >= _C4_MIN_WORDS)
        & ~low.contains("javascript")
        & ~low.contains("lorem ipsum")
        & ~low.contains("{")
    )


def c4_clean(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4-style line filtering: split the document into lines, keep lines
    that end in terminal punctuation, have ≥5 words, and carry no
    javascript / lorem-ipsum / curly-brace marker; a document survives
    only if ≥3 lines remain (C4's three-sentence floor). Adds
    ``c4_text`` (the retained lines rejoined), ``c4_lines``/``c4_kept``
    counts, and the ``c4_keep`` document verdict."""
    lines = F.split(F.col(text_col), r"\n")
    kept = F.filter(lines, _c4_keep_line)
    return df.select(
        "*",
        F.concat_ws("\n", kept).alias("c4_text"),
        F.size(lines).alias("c4_lines"),
        F.size(kept).alias("c4_kept"),
        (F.size(kept) >= 3).alias("c4_keep"),
    )


# Gopher quality rules (Rae et al. 2021, table A1): the repetition class
# is covered by repetition_features(); these are the document-shape
# gates.
def gopher_rules(
    df: DataFrame, text_col: str = "text",
    min_words: int = 50, max_words: int = 100_000,
) -> DataFrame:
    """Gopher document-shape filters: word count in [min_words,
    max_words], mean word length in [3, 10], ≤10% symbol-word ratio
    (# and …), ≥80% of words contain an alphabetic character, ≥2 stop
    words. Emits the measured ratios plus per-rule booleans and the
    conjunction ``gopher_keep`` — keep the ratios in the output so a
    filter sweep can re-threshold without rescanning."""
    t = F.col(text_col)
    toks = tokens(t)
    n = F.size(toks)
    n1 = F.greatest(n, F.lit(1))
    mean_len = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
    ) / n1
    n_sym = F.regexp_count(t, F.lit(r"#|\.\.\.|…"))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    n_stop = _marker_hits(t, STOPWORDS)
    r_words = (n >= min_words) & (n <= max_words)
    r_mean = (mean_len >= 3) & (mean_len <= 10)
    r_sym = (n_sym / n1) <= 0.1
    r_alpha = (n_alpha / n1) >= 0.8
    r_stop = n_stop >= 2
    return df.select(
        "*",
        n.alias("g_words"),
        F.round(mean_len, 4).alias("g_mean_word_len"),
        F.round(n_sym / n1, 4).alias("g_symbol_ratio"),
        F.round(n_alpha / n1, 4).alias("g_alpha_ratio"),
        n_stop.alias("g_stop_words"),
        r_words.alias("g_ok_words"),
        r_mean.alias("g_ok_mean_len"),
        r_sym.alias("g_ok_symbols"),
        r_alpha.alias("g_ok_alpha"),
        r_stop.alias("g_ok_stop"),
        (r_words & r_mean & r_sym & r_alpha & r_stop).alias("gopher_keep"),
    )


# PII scrub patterns — kept to the regex subset Java (Spark) and RE2
# (DuckDB oracle) treat identically: no backrefs, no lookaround.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b(\+?\d[\d -]{7,}\d)\b", "<PHONE>"),
)


def pii_scrub(col: Column) -> Column:
    """Replace emails, dotted-quad IPs, and phone-shaped digit runs with
    typed placeholder tokens (applied in that order, so an IP inside an
    email never half-matches). Pure regexp_replace chain."""
    out = col
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(col: Column) -> Column:
    """Struct of per-class PII hit counts (email, ip, phone) — the audit
    side of :func:`pii_scrub`, same order-sensitive masking sequence."""
    email = F.regexp_count(col, F.lit(PII_PATTERNS[0][0]))
    after_email = F.regexp_replace(col, PII_PATTERNS[0][0], PII_PATTERNS[0][1])
    ip = F.regexp_count(after_email, F.lit(PII_PATTERNS[1][0]))
    after_ip = F.regexp_replace(after_email, PII_PATTERNS[1][0], PII_PATTERNS[1][1])
    phone = F.regexp_count(after_ip, F.lit(PII_PATTERNS[2][0]))
    return F.struct(
        email.alias("email"), ip.alias("ip"), phone.alias("phone")
    )


def remove_duplicate_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """ExactSubstr span REMOVAL (the action Lee et al. 2021 take on the
    signal :func:`duplicate_span_stats` computes): every occurrence of a
    duplicated k-token window EXCEPT the globally first one (ordered by
    (doc_id, window start)) is cut out of its document — the first copy
    survives, later copies lose the span, approximating the paper's
    keep-one-occurrence suffix-array semantics at window granularity.
    Returns (id, clean_text, n_tokens, n_removed).

    Scale shape: one window explode carrying only (id, start, hash) —
    never the token array — one row_number window on the hash (the same
    shuffle key class as the stats pass), a per-doc start-list aggregate
    bounded by the document's own window count, and one join back. No
    UDFs; the rebuild is array algebra on the already-materialized token
    column.
    """
    base = df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks")
    )
    n_win = F.greatest(F.size("_toks") - (k - 1), F.lit(0))
    wins = base.select(
        "_id",
        F.explode(
            F.when(n_win >= 1, F.sequence(F.lit(1), n_win)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("_i"),
        "_toks",
    ).select(
        "_id", "_i",
        # element_at windows, not slice copies — see window_concat
        portable_hash32(
            window_concat(F.col("_toks"), F.col("_i"), k)
        ).alias("_wh"),
    )
    w = Window.partitionBy("_wh").orderBy("_id", "_i")
    dup_starts = (
        wins.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .groupBy("_id")
        .agg(F.collect_list("_i").alias("_starts"))
    )
    joined = base.join(dup_starts, "_id", "left").withColumn(
        "_starts", F.coalesce("_starts", F.array().cast("array<int>"))
    )
    starts = F.col("_starts")
    kept = F.filter(
        F.col("_toks"),
        lambda x, i0: ~F.exists(
            starts, lambda s: (s <= i0 + 1) & (i0 + 1 < s + F.lit(k))
        ),
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("_toks").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).alias("n_removed"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson–Spärck Jones weighting) for a
    bag of query terms — the search primitive over the corpus the
    TF-IDF top-k operator doesn't give (that one ranks terms within a
    doc; this ranks docs for a query).

    Cost shape at 100 TB: tokens are filtered to the query terms INSIDE
    the token array, map-side, before the explode — docs without a hit
    never leave their input partition, and the doc length rides the
    surviving rows, so the ONLY corpus-keyed shuffle is the tf aggregate
    over matching (doc, term) rows. (The first formulation joined the
    corpus-sized per-doc-length frame onto tf — a full-corpus shuffle
    for a k-row answer; measured 4.1× at the sf0.1→sf1 decade, this
    shape removes it.) The per-term document frequencies aggregate OFF
    the tf rows (map-side combinable to |terms| rows — NOT a window
    partitioned by term: with a handful of query terms that shape
    funnels every tf row into |terms| sort partitions, a measured
    skew hotspot) and broadcast back; the (N, avgdl) singleton rides a
    broadcast off a second tokenize pass — a map-side partial
    aggregate, scan-bound, no shuffle. The token array is projected
    ONCE below the explode (a generator's expression and a sibling
    projection do not share subexpressions — inlining tokens() into
    both doubles the tokenize CPU, also measured). Per-term
    contributions are pre-rounded (6 dp) so the final sum is
    engine-order-insensitive, then the doc score rounds to 4 dp; top-k
    is a TakeOrdered, never a global sort."""
    qlist = list(query_terms)
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    hits = base.select(
        F.col(id_col),
        F.size("_toks").alias("dl"),
        F.explode(F.filter("_toks", lambda t: t.isin(qlist))).alias("term"),
    )
    corpus = df.select(F.size(tokens(F.col(text_col))).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = hits.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    j = tf.join(F.broadcast(dft), "term").crossJoin(F.broadcast(corpus))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + F.lit(0.5)) / (F.col("df_t") + F.lit(0.5))
    )
    contrib = F.round(
        idf
        * F.col("tf") * (F.lit(k1) + 1)
        / (F.col("tf") + F.lit(k1) * (1 - b + F.lit(b) * F.col("dl") / F.col("avgdl"))),
        6,
    )
    return (
        j.select(F.col(id_col), contrib.alias("_c"))
        .groupBy(id_col)
        .agg(F.round(F.sum("_c"), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def normalize_text(col: Column) -> Column:
    """Standard pre-tokenization text normalization (the cleanup stage
    every corpus pipeline runs before dedup/quality so byte-level noise
    doesn't defeat exact hashes): strip C0/C1 control characters (tab
    and newline survive), collapse runs of spaces/tabs to one space,
    collapse 3+ newlines to a paragraph break, trim. Pure
    regexp_replace chain — whole-stage codegen, no UDF, identical RE2
    semantics engine-side and in the DuckDB oracle."""
    c = F.regexp_replace(col, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    c = F.regexp_replace(c, "[ \\t]+", " ")
    # strip spaces around newlines BEFORE squeezing newline runs, or a
    # run interleaved with spaces ("\n \n \n") survives un-collapsed
    c = F.regexp_replace(c, " ?\\n ?", "\n")
    c = F.regexp_replace(c, "\\n{3,}", "\n\n")
    return F.trim(c)


def hashed_classifier_margin(
    col: Column, weights: list[float], bias: float = 0.0
) -> Column:
    """Linear text-classifier margin over hashed bag-of-words — the
    fasttext/CCNet-style model-based quality filter, scored entirely
    JVM-side: margin = bias + mean over tokens of
    ``weights[hash32(lower(token)) % len(weights)]``. Positive margin =
    keep. Training happens offline; this is the scale path that applies
    a trained linear model to 100 TB of text with ONE literal lookup
    table (same ≤-few-k-buckets bound as the IVF codebooks — above that,
    broadcast-join a (bucket, weight) dim instead).

    Pure fold over the token array (no shuffle, no UDF); the fold order
    is the token order, so the float sum is bit-reproducible and an
    oracle that replays the same fold matches exactly. Corpus-level
    application (and the above-the-bound broadcast fallback) lives in
    :func:`classify_quality`.
    """
    toks = tokens(F.lower(col))
    n = len(weights)
    lut = F.lit([float(w) for w in weights])
    s = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.element_at(lut, (portable_hash32(t) % n).cast("int") + 1),
    )
    return F.lit(float(bias)) + s / F.greatest(F.size(toks), F.lit(1))


def classifier_weights(n_buckets: int = 256, salt: int = 1) -> list[float]:
    """Deterministic stand-in weight table for tests/oracles (a real
    deployment loads trained weights): w[b] centered on 0 via a Knuth
    multiplicative scramble — exactly recomputable in plain SQL."""
    return [
        ((b * 2654435761 * salt) % 1000003) / 1000003 - 0.5
        for b in range(n_buckets)
    ]


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", k: int = 50,
    merges: list[str] | None = None,
) -> DataFrame:
    """The BPE merge statistic at corpus scale (Sennrich et al. 2016
    §3.2): adjacent-symbol pair frequencies over the word-frequency
    table — the count a tokenizer trainer recomputes every merge round.
    With ``merges`` (the rules learned so far, ranked) the words are
    first re-segmented by the current table (the same data-driven fold
    :func:`bpe_encode` applies, so trainer and encoder agree on
    segmentation by construction); without it this is the first round
    (symbols = characters). Output: the k most frequent
    (sym_a, sym_b, n) pairs, ties broken lexicographically — a trainer
    loop takes row 1, appends ``"sym_a sym_b"`` to its table, and
    recounts (the composition test in tests/test_llm_ops.py drives
    exactly that loop into :func:`bpe_encode`).

    Scale shape: the corpus is touched ONCE for a map-side-combinable
    word-frequency aggregate; everything after runs on the VOCABULARY
    (per-round re-segmentation fold, pair explode weighted by word
    count, one aggregate, TakeOrdered top-k) — the same
    corpus-vs-vocabulary split tfidf/charlm/bpe_encode use.
    """
    words = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    if merges:
        mdf, ranks_sql = _bpe_ranks_source(
            df.sparkSession, merges, BPE_INLINE_MAX
        )
        if mdf is not None:
            words = words.join(F.broadcast(mdf))  # 1-row: no amplification
        syms = F.expr(_bpe_fold_expr("w", ranks_sql))
    else:
        syms = F.split("w", "")
    words = words.select("wc", syms.alias("_syms"))
    n = F.size("_syms")
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = words.select(
        "wc",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("_syms", i).alias("sym_a"),
                    F.element_at("_syms", i + 1).alias("sym_b"),
                ),
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy(F.col("p.sym_a").alias("sym_a"), F.col("p.sym_b").alias("sym_b"))
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.col("n").desc(), "sym_a", "sym_b")
        .limit(k)
    )


# Above this many merge rules, a literal rank map bloats the serialized
# plan (GPT-2-class tables run 50k rules); switch to ONE broadcast row
# carrying the map instead — the column is read per row, not rebuilt.
BPE_INLINE_MAX = 4096


def _bpe_ranks_source(
    spark, merges: list[str], inline_max: int
):
    """Shared rank-table delivery for the BPE trainer and encoder:
    below ``inline_max`` rules, a literal SQL map (rule keys
    QUOTE-ESCAPED — corpus-derived symbols keep apostrophes, e.g. the
    trainer learning ``"' t"`` from \"don't\", and an unescaped literal
    would be unparseable SQL); above it, ONE broadcast row carrying the
    map, keeping the plan constant-size for GPT-2-class tables. Returns
    (one_row_map_frame_or_None, ranks_sql). Raises on duplicate rules."""
    if len(merges) != len(set(merges)):
        raise ValueError("duplicate rules in merges")
    ranks = {m: i + 1 for i, m in enumerate(merges)}
    if len(merges) <= inline_max:
        lit = ", ".join(
            "'{}', {}".format(k.replace("'", "''"), v) for k, v in ranks.items()
        )
        return None, f"map({lit})"
    mdf = spark.createDataFrame([(ranks,)], "_mranks map<string,int>")
    return mdf, "_mranks"


def _bpe_fold_expr(word_sql: str, ranks_sql: str) -> str:
    """The BPE application loop as ONE data-driven SQL fold (no unrolled
    steps, so the expression tree stays constant-size regardless of word
    length): start from the word's characters, and for up to len-1
    rounds merge the LEFTMOST occurrence of the lowest-rank adjacent
    pair; a round with no rankable pair is a no-op, so the fold
    terminates at the fixpoint.

    Leftmost-single-merge is equivalent to the textbook merge-ALL-
    occurrences step for any TRAINED merges table: a pair involving a
    merged token can only have been learned after that token existed, so
    its rank is strictly higher and never preempts the remaining
    occurrences of the current best pair.

    Nested single-element ``transform`` calls are let-bindings: ``pr``
    (the per-gap rank vector, 0 = unmergeable) and ``p`` (the 1-based
    leftmost position of the best rank, 0 = done) are each computed once
    per round."""
    step = f"""CASE WHEN size(acc) < 2 THEN acc ELSE
      element_at(transform(array(transform(sequence(1, size(acc) - 1),
          i -> coalesce(element_at({ranks_sql},
                   concat(element_at(acc, i), ' ', element_at(acc, i + 1))),
               0))), pr ->
        element_at(transform(array(coalesce(
            array_position(pr, array_min(filter(pr, x -> x > 0))),
            CAST(0 AS BIGINT))), p ->
          CASE WHEN p = 0 THEN acc ELSE
            concat(slice(acc, 1, CAST(p AS INT) - 1),
                   array(concat(element_at(acc, CAST(p AS INT)),
                                element_at(acc, CAST(p AS INT) + 1))),
                   slice(acc, CAST(p AS INT) + 2, size(acc))) END), 1)), 1)
      END"""
    return (
        f"aggregate(sequence(1, greatest(length({word_sql}) - 1, 1)), "
        f"split({word_sql}, ''), (acc, _s) -> {step})"
    )


def bpe_encode(
    df: DataFrame,
    merges: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    inline_max: int = BPE_INLINE_MAX,
    broadcast_vocab: bool = True,
    counts_only: bool = False,
    word_counts: bool = False,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Apply a TRAINED BPE merges table to encode a corpus (Sennrich et
    al. 2016 §3.2 application pass; :func:`bpe_pair_counts` delivers the
    statistic a trainer ranks the table from). ``merges`` is the ranked
    rule list, each ``"left right"``; earlier = higher priority. Output:
    (id, tokens array<string> in document order, n_tokens), one row per
    input document (zero-word documents keep a row with [] / 0).
    ``counts_only=True`` returns just (id, n_tokens) and skips the
    sorted-collect reassembly of every token — the cheap form for
    consumers that never read the token stream (fertility, token-budget
    accounting). With ``counts_only``, ``word_counts=True`` adds
    ``n_words`` (the whitespace word count — ``count(_w)`` in the SAME
    per-doc aggregate, exactly ``size(tokens(lower(text)))`` since the
    explode rows are those words) and ``keep_cols`` carries per-doc
    constant columns (e.g. a language tag) through the aggregate via
    ``max()`` — both let consumers like :func:`bpe_fertility` skip a
    second corpus tokenize and a corpus-keyed join (r12).

    Scale shape — the corpus is never re-tokenized per occurrence:

    - ONE corpus pass explodes whitespace words (position-tagged);
    - the O(L²) merge fold (:func:`_bpe_fold_expr`) runs once per
      DISTINCT word — vocabulary-sized work (Heaps' law: ~corpus^0.5),
      not corpus-sized;
    - encoded words join back to the corpus explode as a BROADCAST of
      the vocabulary-sized frame (Heaps' law keeps |vocab| ~ corpus^0.5,
      far below the corpus), so the corpus side never shuffles on the
      word key — which is Zipf-skewed in natural language ("the" would
      land one partition hot in a hash join). ONE doc-keyed aggregate
      then reassembles order with the sorted-collect_list idiom; the
      doc id is the only corpus-sized shuffle key. Pass
      ``broadcast_vocab=False`` for pathological corpora whose distinct
      "words" don't dedupe (random strings break Heaps' law) — that
      falls back to a shuffled hash join and accepts the skew.

    The rank table inlines as a literal map below ``inline_max`` rules;
    above it (GPT-2-class tables are ~50k) it ships as ONE broadcast row
    holding a map column — constant plan size, same lookups.

    Tokenization is lowercased whitespace words (symbols never contain
    spaces, so the ``"a b"`` rule keys are unambiguous). Everything is
    JVM Column algebra — no UDFs, no driver loop.
    """
    extra = [F.col(c) for c in (keep_cols or [])]
    ex = df.select(
        F.col(id_col).alias("_id"),
        *extra,
        F.posexplode_outer(tokens(F.lower(F.col(text_col)))).alias("_pos", "_w"),
    )
    vocab = ex.select("_w").where(F.col("_w").isNotNull()).distinct()
    mdf, ranks_sql = _bpe_ranks_source(df.sparkSession, merges, inline_max)
    vocab_src = vocab if mdf is None else vocab.join(F.broadcast(mdf))
    enc = vocab_src.select(
        "_w", F.expr(_bpe_fold_expr("_w", ranks_sql)).alias("_toks")
    )
    if broadcast_vocab:
        enc = F.broadcast(enc)
    joined = ex.join(enc, "_w", "left")  # left: zero-word docs keep their row
    if counts_only:
        # consumers that only need token COUNTS (fertility, budget
        # accounting) skip the sorted-collect reassembly of every token
        # — one map-side-combinable sum(size) per doc instead
        aggs = [F.sum(F.size("_toks")).alias("n_tokens")]
        if word_counts:  # count() skips the NULL _w of zero-word docs
            aggs.append(F.count("_w").alias("n_words"))
        # keep_cols are per-doc constants; max() re-emits the value
        aggs.extend(F.max(c).alias(c) for c in (keep_cols or []))
        return (
            joined.groupBy("_id")
            .agg(*aggs)
            .select(
                F.col("_id").alias(id_col),
                F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                *([F.col("n_words")] if word_counts else []),
                *[F.col(c) for c in (keep_cols or [])],
            )
        )
    per_doc = (
        joined.groupBy("_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_toks"))
                    ),
                    lambda s: s["_toks"],
                )
            ).alias("tokens"),
        )
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        F.coalesce("tokens", F.array().cast("array<string>")).alias("tokens"),
        F.coalesce(F.size("tokens"), F.lit(0)).alias("n_tokens"),
    )


# Above this many buckets, a literal weight table bloats the serialized
# plan (~0.5 MB of plan); switch to ONE broadcast row instead.
CLASSIFIER_INLINE_MAX = 65536


def classify_quality(
    df: DataFrame, weights: list[float], bias: float = 0.0,
    text_col: str = "text", out_col: str = "margin",
    inline_max: int = CLASSIFIER_INLINE_MAX,
) -> DataFrame:
    """Apply the hashed linear quality classifier to a corpus: adds
    ``out_col`` (the margin) via :func:`hashed_classifier_margin`'s
    literal lookup table when the weight table is small, or — above
    ``inline_max`` buckets (real fasttext-style tables run 2^20) — ships
    the table as ONE broadcast row and folds against the column instead,
    keeping the plan constant-size (the same fallback shape as
    ivf_assign's codebooks). Both paths compute the identical margin.
    """
    if len(weights) <= inline_max:
        return df.withColumn(
            out_col, hashed_classifier_margin(F.col(text_col), weights, bias)
        )
    wdf = df.sparkSession.createDataFrame(
        [([float(w) for w in weights],)], "_w array<double>"
    )
    toks = tokens(F.lower(F.col(text_col)))
    n = len(weights)
    s = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.element_at(F.col("_w"), (portable_hash32(t) % n).cast("int") + 1),
    )
    margin = F.lit(float(bias)) + s / F.greatest(F.size(toks), F.lit(1))
    return (
        df.join(F.broadcast(wdf))  # 1-row broadcast: no amplification
        .withColumn(out_col, margin)
        .drop("_w")
    )


def char_entropy(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document character-level Shannon entropy (nats) — the classic
    gibberish/boilerplate signal (near-zero for repeated filler, ~3+ for
    natural language): H = -Σ (n_c/N) ln(n_c/N) over the character
    histogram. Output: (id, n_chars, n_distinct, entropy round 4).

    Determinism: the per-character terms are folded in SORTED character
    order (array_sort before the fold), so the float sum is
    bit-reproducible and an oracle replaying the same ordered fold
    matches exactly — an unordered SUM() of logs would flap in the last
    ulp. Scale shape: one char explode + two map-side-combinable
    aggregates keyed by the document id (the tf-idf shape, minus the
    vocabulary join).
    """
    chars = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = counts.groupBy("_id").agg(
        F.sum("cnt").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.array_sort(
            F.collect_list(F.struct(F.col("ch"), F.col("cnt")))
        ).alias("_hist"),
    )
    n = F.col("n_chars").cast("double")
    ent = -F.aggregate(
        F.col("_hist"),
        F.lit(0.0),
        lambda acc, s: acc
        + (s["cnt"].cast("double") / n) * F.log(s["cnt"].cast("double") / n),
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_chars",
        "n_distinct",
        F.round(ent, 4).alias("entropy"),
    )
def bpe_fertility(
    df: DataFrame, merges: list[str],
    id_col: str = "doc_id", text_col: str = "text", group_col: str = "lang",
    inline_max: int = BPE_INLINE_MAX, broadcast_vocab: bool = True,
) -> DataFrame:
    """Tokenizer FERTILITY by group — tokens emitted per whitespace
    word, the standard tokenizer-quality metric (a table trained on
    English typically shows fertility ~1.2 on English and 2-4+ on
    underrepresented languages; mixture builders weight token budgets
    with exactly this number). Applies the trained ``merges`` table via
    :func:`bpe_encode` and aggregates per ``group_col``. Output:
    (group, n_docs, n_words, n_tokens, fertility round-half-up 4).

    Scale shape (r12, guide §2.3/§2.4 — don't compute what a shared
    aggregate already holds): bpe_encode's corpus-once/vocab-fold shape
    with the word count and group riding ITS per-doc aggregate
    (``counts_only`` + ``word_counts`` + ``keep_cols``) — the encoder's
    explode rows ARE the lowercased whitespace words, so
    ``count(_w)`` per doc equals ``size(tokens(lower(text)))`` exactly
    and the previous shape's second full corpus tokenize plus its
    merge-pinned corpus-keyed join (two exchanges + sorts) are removed
    outright; one tiny group-keyed aggregate remains. Determinism:
    exact integer arithmetic floored half-up onto the 1e-4 grid (the
    knn_density construction). Row-set equality with the joined shape
    proven both directions at sf0.1 and sf1 (r12)."""
    enc = bpe_encode(
        df, merges, id_col=id_col, text_col=text_col,
        inline_max=inline_max, broadcast_vocab=broadcast_vocab,
        counts_only=True,  # skips the per-doc token-stream reassembly
        word_counts=True, keep_cols=[group_col],
    )
    agg = (
        enc.groupBy(F.col(group_col).alias("_grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    fert_e4 = F.floor(
        (F.col("n_tokens") * 100000.0
         / F.greatest(F.col("n_words"), F.lit(1)) + 5.0) / 10.0
    )
    return agg.select(
        F.col("_grp").alias(group_col),
        "n_docs", "n_words", "n_tokens",
        (fert_e4 / 10000.0).alias("fertility"),
    )


def lexical_diversity(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document lexical-diversity quality signals — type/token ratio
    and hapax fraction, the classic statistics curation filters
    threshold on (low TTR = repetitive/boilerplate; high hapax share =
    OCR noise / gibberish): (id, n_tokens, n_types, n_hapax, ttr,
    hapax_frac), ratios as exact integer half-up on the 1e-4 grid.
    Null/empty text scores 0 across the board.

    Scale shape: pure per-row higher-order functions — ZERO shuffles,
    one codegen'd scan over the corpus. The hapax count is
    O(types·tokens) per row, fine for web-document lengths (the fixture
    caps at ~100 words); for book-length documents the explode+groupBy
    form of :func:`vocab_stats` is the alternative."""
    # token/type arrays materialized into their own Projects first: the
    # hapax filter's inner lambda captures the token array, and a
    # lambda-captured tokens(...) tree re-tokenizes once per TYPE inside
    # the interpreted filter (the window_concat lesson)
    toks = F.col("_toks")
    types = F.col("_types")
    n_tok = F.size(toks).cast("bigint")
    n_typ = F.size(types).cast("bigint")
    n_hap = F.size(
        F.filter(
            types,
            lambda t: F.size(F.filter(toks, lambda x: x == t)) == 1,
        )
    ).cast("bigint")

    def grid(num, den):
        return F.when(den > 0, F.floor((num * 100000.0 / den + 5.0) / 10.0) / 10000.0).otherwise(0.0)

    return (
        df.select(
            F.col(id_col),
            tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
        )
        .withColumn("_types", F.array_distinct(toks))
        .select(
            F.col(id_col),
            n_tok.alias("n_tokens"),
            n_typ.alias("n_types"),
            n_hap.alias("n_hapax"),
            grid(n_typ, n_tok).alias("ttr"),
            grid(n_hap, n_typ).alias("hapax_frac"),
        )
    )


def span_corruption(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    block: int = 3, rate: int = 5,
) -> DataFrame:
    """T5-style span-corruption pair generation (Raffel et al. 2020
    §3.1.4) — the input/target splitter an infilling pretraining
    pipeline runs over every document: tokens are tiled into blocks of
    ``block``; block b is masked iff portable_hash32("<id>:<b>") %
    ``rate`` == 0 (deterministic, engine-replayable, ~1/rate mask
    ratio; tiling makes spans non-overlapping by construction). The
    input keeps unmasked blocks and replaces each masked block with an
    ordinal sentinel ``<extra_id_K>``; the target is the sentinel-keyed
    concatenation of the masked contents. Output: (id, n_blocks,
    n_masked, input_text, target_text).

    Scale shape: pure per-row higher-order functions over the token
    array — ZERO shuffles, one codegen'd corpus scan; the mask draw is
    the portable md5 hash, so the DuckDB oracle replays the exact pair
    set."""
    # the token array AND the masked-block list are materialized into
    # their own Projects: both are captured inside the per-block
    # transform lambdas, and a lambda-captured expression re-evaluates
    # per reference — the filter's md5 mask draw would otherwise re-run
    # O(blocks) times per block (the window_concat lesson)
    toks = F.col("_toks")
    n_blocks = F.ceil(F.size(toks) / F.lit(block)).cast("int")
    bseq = F.when(n_blocks > 0, F.sequence(F.lit(0), n_blocks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    idstr = F.col(id_col).cast("string")

    def masked(b):
        return (
            portable_hash32(F.concat_ws(":", idstr, b.cast("string"))) % rate == 0
        )

    masked_ids = F.col("_mids")

    def block_txt(b):
        # slice, not k element_at refs: the LAST block may be short and
        # ANSI element_at past the end would raise where slice clamps
        return F.array_join(F.slice(toks, b * block + 1, block), " ")

    def sentinel(b):
        return F.concat(
            F.lit("<extra_id_"),
            (F.array_position(masked_ids, b) - 1).cast("string"),
            F.lit(">"),
        )

    input_text = F.array_join(
        F.transform(
            bseq,
            lambda b: F.when(
                F.array_contains(masked_ids, b), sentinel(b)
            ).otherwise(block_txt(b)),
        ),
        " ",
    )
    target_text = F.array_join(
        F.transform(masked_ids, lambda b: F.concat(sentinel(b), F.lit(" "), block_txt(b))),
        " ",
    )
    return (
        df.select(
            F.col(id_col),
            tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
        )
        .withColumn("_mids", F.filter(bseq, masked))
        .select(
            F.col(id_col),
            n_blocks.alias("n_blocks"),
            F.size(masked_ids).cast("int").alias("n_masked"),
            input_text.alias("input_text"),
            target_text.alias("target_text"),
        )
    )


def fim_split(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    rate: int = 3,
) -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022,
    arXiv:2207.14255 — the FIM pretraining data op): a deterministic
    ~1/``rate`` of documents (portable_hash32("<id>:fim") % rate == 0,
    given ≥4 tokens) is split at two hash-chosen token boundaries into
    (prefix, middle, suffix) for PSM-order training; the rest pass
    through unsplit (fim=false, everything in ``prefix``). Boundaries:
    a ∈ [1, n−2], b ∈ [a+1, n−1] from independent hash draws — both
    sides of every cut are non-empty, so the three parts always
    re-concatenate to the document. Output: (id, fim, prefix, middle,
    suffix). Per-row HOFs + the portable hash: zero shuffles,
    engine-replayable."""
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(toks)
    idstr = F.col(id_col).cast("string")

    def draw(tag: str) -> Column:
        return portable_hash32(F.concat_ws(":", idstr, F.lit(tag)))

    eligible = (n >= 4) & (draw("fim") % rate == 0)
    a = (F.lit(1) + draw("a") % (n - 2)).cast("int")
    b = (a + 1 + draw("b") % (n - a - 1)).cast("int")

    def joined(start: Column, length: Column) -> Column:
        return F.array_join(F.slice(toks, start, length), " ")

    return df.select(
        F.col(id_col),
        eligible.alias("fim"),
        F.when(eligible, joined(F.lit(1), a))
        .otherwise(F.array_join(toks, " ")).alias("prefix"),
        F.when(eligible, joined(a + 1, b - a)).otherwise("").alias("middle"),
        F.when(eligible, joined(b + 1, n - b)).otherwise("").alias("suffix"),
    )


def bigram_nll(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train: DataFrame | None = None,
) -> DataFrame:
    """WORD-level LM quality scoring — the add-one-smoothed bigram
    companion to :func:`charlm_nll` (the CCNet recipe trains a word LM;
    the char-trigram form catches encoding garbage, this form catches
    fluent-looking word salad): train bigram + unigram-context counts
    on ``train`` (default: the corpus itself), then score every
    document with ≥ 2 tokens by its mean negative log-likelihood
    ``-avg(ln((c(w1,w2)+1) / (c(w1·)+V)))`` where ``c(w1·)`` counts w1
    as a bigram CONTEXT (all tokens but each doc's last) and V is the
    distinct-token vocabulary. Lower = more typical of the corpus.

    Scale shape: tokens and bigrams are built per-row (slice + zip_with
    HOFs, no explode until counting); the two count tables are
    vocabulary-sized but HEAPS-LAW-GROWING (bigram types keep growing
    with corpus size), so unlike the char-trigram model they are NEVER
    broadcast — both scoring joins are merge-pinned shuffles on the
    (w1,w2)/(w1) keys. The only driver value is the vocabulary scalar.
    The per-doc mean is computed in exact integer arithmetic (each
    bigram's ln scaled to 1e-6 and summed as BIGINT), so engine
    summation order cannot diverge. Output: (id, n_bigrams, nll).
    """
    self_trained = train is None
    train = train if train is not None else df
    toks = tokens(F.lower(F.col(text_col)))

    def bigrams_of(t: Column) -> Column:
        n = F.size(t)
        return F.zip_with(
            F.slice(t, 1, n - 1),
            F.slice(t, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )

    train_tok = train.select(toks.alias("_t")).filter(F.size("_t") >= 2)
    train_bi = train_tok.select(F.explode(bigrams_of(F.col("_t"))).alias("bg"))
    bcounts = (
        train_bi.select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_c12"))
    )
    if self_trained:
        # bcounts feeds BOTH the logp lookup's left side and the
        # ucounts re-aggregate below; persist the vocabulary-sized
        # table so Catalyst's duplicated subtree doesn't re-run the
        # corpus explode twice
        bcounts = bcounts.persist()
    # c(w1·) counts w1 as a bigram CONTEXT — which is exactly
    # Σ_w2 c(w1, w2), so the context table is a vocabulary-sized
    # re-aggregate of the bigram counts, NOT a second corpus-scale
    # explode + shuffle (r11 optimization; exact integer equivalence)
    ucounts = bcounts.groupBy("w1").agg(F.sum("_c12").alias("_c1"))
    vocab = (
        train.select(F.explode(toks).alias("_w")).agg(
            F.countDistinct("_w").alias("v")
        ).first()["v"]
    )
    doc_bi = (
        df.select(F.col(id_col).alias("_id"), toks.alias("_t"))
        .filter(F.size("_t") >= 2)
        .select("_id", F.explode(bigrams_of(F.col("_t"))).alias("bg"))
        .select("_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    logp = F.log(
        (F.coalesce(F.col("_c12"), F.lit(0)) + 1)
        / (F.coalesce(F.col("_c1"), F.lit(0)) + F.lit(float(vocab)))
    )
    lp6 = F.round(logp * 1000000).cast("bigint")
    if self_trained:
        # train == df: every doc bigram exists in bcounts, so pre-join
        # the two VOCABULARY-sized tables into one (w1, w2) -> lp6
        # lookup and score with a single corpus-scale inner join —
        # instead of shuffling the corpus-sized doc_bi twice (once by
        # (w1, w2), its output again by (w1)). lp6 is computed per
        # bigram TYPE here and per doc-bigram row in the general path:
        # the identical expression on identical inputs, so the summed
        # integers are bit-equal. Both sides stay merge-pinned: bigram
        # vocabularies grow with the corpus (Heaps), never broadcast.
        logp_tbl = (
            bcounts.join(ucounts.hint("merge"), "w1")
            .select("w1", "w2", lp6.alias("_lp6"))
        )
        # LEFT join, deliberately, although misses are impossible when
        # train == df: the lookup's key (w1, w2) is aggregate-derived
        # and provably unique, so a left join is row-preserving and the
        # optimizer can drop it entirely for actions that don't read
        # _lp6 (count() pruning) — an inner join pins the lookup into
        # every action. Results are identical either way (every doc
        # bigram exists in the self-trained table).
        scored = doc_bi.join(logp_tbl.hint("merge"), ["w1", "w2"], "left").select(
            "_id", "_lp6"
        )
    else:
        # cross-corpus scoring: doc bigrams can miss the train tables —
        # keep the two left joins (coalesce supplies the unseen-bigram
        # smoothing terms)
        scored = (
            doc_bi.join(bcounts.hint("merge"), ["w1", "w2"], "left")
            .join(ucounts.hint("merge"), "w1", "left")
            .select("_id", lp6.alias("_lp6"))
        )
    return (
        scored.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.sum("_lp6") / (F.count(F.lit(1)) * F.lit(1000000.0)), 4).alias(
                "nll"
            ),
        )
        .select(F.col("_id").alias(id_col), "n_bigrams", "nll")
    )


def vocab_coverage(
    df: DataFrame,
    cutoffs: list[int] = (100, 1000, 10000),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The vocabulary-size decision curve: for each candidate vocab size
    N, what fraction of all corpus token OCCURRENCES the top-N terms
    (by frequency, ties to the lexicographically smaller term) cover —
    the number that sizes a word-level vocab / sets a BPE budget before
    a 100 TB tokenization run (coverage 0.98 at N=32k vs 0.985 at 64k
    is the whole argument for the smaller model embedding table).

    Scale shape: ONE token-count aggregate (map-side combinable),
    cached; per cutoff a TakeOrdered-N over it + one sum — no
    corpus-wide window, no rank over the full vocabulary (a global
    row_number would single-partition the vocab; TakeOrdered keeps the
    driver at N rows). Output per cutoff: (top_n, covered_tokens,
    total_tokens, coverage) with coverage = covered/total rounded 6 —
    exact integers up to the one division.
    """
    counts = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    total = counts.agg(F.sum("cnt").alias("t")).first()["t"] or 0
    parts = []
    for n in cutoffs:
        top = counts.orderBy(F.col("cnt").desc(), F.col("term")).limit(int(n))
        parts.append(
            top.agg(
                F.lit(int(n)).alias("top_n"),
                F.sum("cnt").cast("bigint").alias("covered_tokens"),
                F.lit(int(total)).cast("bigint").alias("total_tokens"),
                F.round(F.sum("cnt") / F.lit(float(total)), 6).alias("coverage"),
            )
        )
    from functools import reduce

    return reduce(DataFrame.unionByName, parts)
