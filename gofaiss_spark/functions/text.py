"""Text analysis for large-scale training-data pipelines.

All hot-path functions are pure column expressions (JVM-side,
whole-stage codegen) — no Python in the loop. These extend the
reference (which has no text ops — SURVEY.md §2.6) as part of the
north-star LLM-pipeline surface (SURVEY.md §7 phase E).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword inventories for the n-gram/stopword
# language-ID heuristic. Deliberately small + public-knowledge words.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "es", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "un", "une", "dans"],
}


def _as_col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokenize(text) -> Column:
    """Whitespace tokens, empties dropped."""
    t = _as_col(text)
    return F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != "")


def token_count(text) -> Column:
    return F.size(tokenize(text))


def bpe_ish_token_count(text) -> Column:
    """A BPE-like token estimate: word-piece chunks of ≤4 chars plus
    punctuation/digit runs — the cheap proxy for LLM token budgeting.
    ceil(len(word)/4) summed over words."""
    toks = tokenize(text)
    return F.aggregate(
        toks,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int"),
    )


def word_ngrams(text, n: int = 3) -> Column:
    """Word n-grams (space-joined) WITH duplicates, order-preserving —
    the repetition-analysis unit; ``word_shingles`` is its distinct
    twin.

    Built as a zip_with chain over shifted token arrays, NOT as
    ``transform(sequence(...), i -> slice(toks, i, n))``: a lambda
    body that references the token expression re-evaluates the whole
    regex tokenization per element (O(tokens²) splits per document —
    measured 4.5× slower at 5k docs). The chain references it only
    n(n+1)/2 times, independent of document length."""
    toks = tokenize(text)
    if n == 1:
        return toks
    acc = toks
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, F.greatest(F.size(toks) - i, F.lit(0)))
        acc = F.zip_with(
            acc,
            shifted,
            lambda a, b: F.when(
                a.isNull() | b.isNull(), F.lit(None)
            ).otherwise(F.concat_ws(" ", a, b)),
        )
    return F.filter(acc, lambda x: x.isNotNull())


def word_shingles(text, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined), order-preserving with
    duplicates removed — the MinHash/Jaccard input unit."""
    return F.array_distinct(word_ngrams(text, n))


def punct_ratio(text) -> Column:
    t = _as_col(text)
    stripped = F.regexp_replace(t, r"[^\p{L}\p{N}\s]", "")
    return F.when(F.length(t) == 0, 0.0).otherwise(
        (F.length(t) - F.length(stripped)) / F.length(t)
    )


def alpha_ratio(text) -> Column:
    t = _as_col(text)
    alpha = F.regexp_replace(t, r"[^\p{L}]", "")
    return F.when(F.length(t) == 0, 0.0).otherwise(F.length(alpha) / F.length(t))


def mean_word_length(text) -> Column:
    toks = tokenize(text)
    total = F.aggregate(toks, F.lit(0), lambda a, w: a + F.length(w))
    return F.when(F.size(toks) == 0, 0.0).otherwise(total / F.size(toks))


def quality_score(text) -> Column:
    """Heuristic document quality ∈ [0,1]: rewards reasonable length,
    word shape, and alphabetic content; penalizes punctuation soup.
    Deterministic arithmetic — oracle-expressible."""
    t = _as_col(text)
    n_tok = token_count(t)
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    wl = mean_word_length(t)
    wl_score = F.when((wl >= 3.0) & (wl <= 10.0), 1.0).otherwise(0.5)
    score = (
        len_score * F.lit(0.4)
        + wl_score * F.lit(0.2)
        + alpha_ratio(t) * F.lit(0.3)
        + (1.0 - punct_ratio(t)) * F.lit(0.1)
    )
    return F.round(score, 6)


def lang_id(text) -> Column:
    """Stopword-vote language ID over {en, de, es, fr} + CJK-character
    detection for zh. Returns the best-scoring code or 'und'."""
    t = _as_col(text)
    toks = F.transform(tokenize(t), lambda x: F.lower(x))
    cjk = F.length(F.regexp_replace(t, r"[^一-鿿]", ""))
    scores = []
    for code, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        scores.append(
            F.struct(
                F.size(F.filter(toks, lambda x: F.array_contains(sw, x))).alias("hits"),
                F.lit(code).alias("code"),
            )
        )
    best = F.array_max(F.array(*scores))
    return (
        F.when(cjk > 0, F.lit("zh"))
        .when(best["hits"] > 0, best["code"])
        .otherwise(F.lit("und"))
    )


def normalize_text(text) -> Column:
    """Canonical dedup-time text normalization: lowercase, collapse
    every non-alphanumeric run to a single space, trim. Pure JVM
    regexp chain (one codegen stage); the pattern stays inside the
    Java-regex ∩ RE2 subset so the DuckDB oracle evaluates it
    identically. The standard pre-MinHash/pre-fingerprint pass —
    punctuation and casing differences stop defeating dedup."""
    return F.trim(
        F.regexp_replace(F.lower(_as_col(text)), "[^a-z0-9]+", " ")
    )


def char_entropy(text) -> Column:
    """Shannon entropy (bits) of the character distribution — the
    cheap perplexity proxy: near-0 for degenerate/repetitive text,
    ~4.2 for natural English. Shuffle-free: a single higher-order
    fold over the SORTED char array accumulates run lengths and
    Σ c·log₂c, then finishes with H = log₂n − (Σ c·log₂c)/n — no
    explode, no per-char groupBy (which would shuffle one row per
    character of the corpus). Matches DuckDB's ``entropy()``
    aggregate bit-for-bit at 6 dp."""
    arr = F.array_sort(F.split(_as_col(text), ""))
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("sum"),
    )

    def closed(acc):
        run_d = acc["run"].cast("double")
        return F.when(acc["run"] > 0, run_d * F.log2(run_d)).otherwise(
            F.lit(0.0)
        )

    def merge(acc, x):
        same = acc["prev"] == x
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + F.lit(1).cast("long"))
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(same, acc["sum"])
            .otherwise(acc["sum"] + closed(acc))
            .alias("sum"),
        )

    n = F.size(arr).cast("double")
    return F.aggregate(
        arr,
        init,
        merge,
        lambda acc: F.when(
            F.size(arr) > 0, F.log2(n) - (acc["sum"] + closed(acc)) / n
        ).otherwise(F.lit(0.0)),
    )


def doc_fingerprint(text) -> Column:
    """64-bit content fingerprint of whitespace-normalized lowercased
    text (xxhash64) — the exact-dedup key."""
    norm = F.lower(F.trim(F.regexp_replace(_as_col(text), r"\s+", " ")))
    return F.xxhash64(norm)


def doc_fingerprint_md5(text) -> Column:
    """MD5 variant of the fingerprint — identical across engines
    (DuckDB md5() matches), used where an SQL oracle must agree."""
    norm = F.lower(F.trim(F.regexp_replace(_as_col(text), r"\s+", " ")))
    return F.md5(norm)


# PII scrubbing: the standard pre-training redaction pass. Patterns
# deliberately stay inside the Java-regex ∩ RE2 common subset
# (character classes, bounded repeats, non-capturing groups, \b) so
# the DuckDB oracle evaluates them identically. Order matters:
# longer/structured patterns first so e.g. an email is not half-eaten
# by the phone pattern.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\+?\d{1,3}[- ]\d{3}[- ]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("hexkey", r"\b[0-9a-f]{32,}\b", "<KEY>"),
]


def pii_count(text, kind: str) -> Column:
    """Match count for one PII pattern (JVM regexp_extract_all)."""
    pat = {k: p for k, p, _ in PII_PATTERNS}[kind]
    return F.size(F.regexp_extract_all(_as_col(text), F.lit(pat), F.lit(0)))


def redact_pii(text) -> Column:
    """All PII patterns replaced by their placeholder tags, applied
    in PII_PATTERNS order as a chain of JVM regexp_replace — one
    codegen stage, no Python."""
    out = _as_col(text)
    for _, pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


# Rule-based quality filtering (the public Gopher rules, Rae et al.
# 2021 "Scaling Language Models", Table A1 — the standard
# pre-training web-filter rule set). Line-shape rules (bullet /
# ellipsis line fractions) are omitted: the rule set below is the
# document-shape subset, and every signal is a pure JVM column
# expression so the filter runs inside whole-stage codegen at 100 TB.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_signals(text, min_words: int = 50, max_words: int = 100_000):
    """Per-document Gopher rule signals as a dict of named Columns:

    - ``n_words``        whitespace token count
    - ``mean_word_len``  mean token length (0.0 for empty docs)
    - ``symbol_ratio``   ('#' + '...') occurrences per word
    - ``alpha_word_frac`` fraction of tokens containing a letter
    - ``stopword_hits``  how many of the 8 Gopher stopwords appear
    - ``gopher_pass``    AND of the five rules (word count in
      [min_words, max_words]; mean word length in [3, 10];
      symbol_ratio <= 0.1; alpha_word_frac >= 0.80;
      stopword_hits >= 2)

    Extends the reference (no text ops, SURVEY.md §2.6) on the
    LLM-pipeline axis; thresholds are the published defaults.
    """
    t = _as_col(text)
    toks = tokenize(t)
    n = F.size(toks)
    nd = n.cast("double")
    wl = mean_word_length(t)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    symbol_ratio = F.when(n == 0, 0.0).otherwise(
        F.round((n_hash + n_ell) / nd, 6)
    )
    alpha_frac = F.when(n == 0, 0.0).otherwise(
        F.round(
            F.size(F.filter(toks, lambda w: w.rlike(r"\p{L}"))) / nd, 6
        )
    )
    low = F.transform(toks, F.lower)
    hits = sum(
        (F.array_contains(low, w).cast("int") for w in GOPHER_STOPWORDS),
        F.lit(0),
    )
    ok = (
        (n >= min_words) & (n <= max_words)
        & (wl >= 3.0) & (wl <= 10.0)
        & (symbol_ratio <= 0.1)
        & (alpha_frac >= 0.8)
        & (hits >= 2)
    )
    return {
        "n_words": n,
        "mean_word_len": F.round(wl, 6),
        "symbol_ratio": symbol_ratio,
        "alpha_word_frac": alpha_frac,
        "stopword_hits": hits,
        "gopher_pass": ok,
    }
