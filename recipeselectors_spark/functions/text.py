"""Text featurization kernels — Catalyst column expressions where possible,
numpy helpers for the pandas-UDF paths.

These power the large-scale training-data operators (dedup, quality
filtering, language ID) over ``documents``-shaped tables. Everything here is
deterministic and seedable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

# small per-language stopword inventories for the n-gram/stopword heuristic
# language identifier (public common-word lists)
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "para", "que"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "就"],
}

TOKEN_SPLIT = r"\s+"
# BPE-ish pre-tokenizer: words, numbers, or single non-space symbols
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), TOKEN_SPLIT)


def token_count(col: Column | str) -> Column:
    """Whitespace token count (JVM-side)."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Regex token count approximating a BPE pre-tokenizer (JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH), F.lit(0)))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    stops = F.array([F.lit(s) for s in STOPWORDS[lang]])
    # ratio of *distinct-stopword hits* would undercount; count memberships:
    member = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return member / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] doc-quality heuristic: length band + punctuation band
    + stopword presence (the classic pre-training filters, vectorized)."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    len_ok = (n_tok >= 5) & (n_tok <= 100000)
    mean_word = F.length(c) / F.greatest(n_tok, F.lit(1))
    word_ok = (mean_word >= 2) & (mean_word <= 12)
    punct_ok = punct_ratio(c) < 0.3
    stop_ok = stopword_ratio(c) > 0.005
    return (
        len_ok.cast("double") * 0.25
        + word_ok.cast("double") * 0.25
        + punct_ok.cast("double") * 0.25
        + stop_ok.cast("double") * 0.25
    )


def langid_expr(col: Column | str, langs: tuple[str, ...] = ("en", "de", "fr", "es")) -> Column:
    """Stopword-vote language ID, pure Catalyst: the language with the most
    stopword memberships wins; ties and zero-votes -> 'und'."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    toks = tokens(c)
    scores = []
    for lang in langs:
        stops = F.array([F.lit(s) for s in STOPWORDS[lang]])
        votes = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
        scores.append(F.struct(votes.alias("v"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["v"] > 0, best["lang"]).otherwise(F.lit("und"))


def shingles(col: Column | str, k: int = 3) -> Column:
    """Word k-shingles as int32 hashes (xxhash64 truncated) — the minhash
    input. Pure Catalyst: transform over a token-index sequence."""
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.array_distinct(
        F.transform(
            idx,
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k))),
        )
    )).otherwise(F.array(F.xxhash64(F.concat_ws(" ", toks))))


def repetition_ratios(col: Column | str) -> tuple[Column, Column]:
    """Within-document repetition signals (the Gopher-style quality
    filters): (1 - distinct/total) for unigrams and word-2-grams — high
    values flag boilerplate/looped generations. Pure Catalyst array ops."""
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    n = F.size(toks)
    uni = 1.0 - F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1))
    idx = F.sequence(F.lit(0), F.greatest(n - 2, F.lit(0)))
    bigrams = F.when(
        n >= 2,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2))),
    ).otherwise(toks)
    bi = 1.0 - F.size(F.array_distinct(bigrams)) / F.greatest(
        F.size(bigrams), F.lit(1)
    )
    return uni, bi


# PII patterns: kept inside the Java-regex ∩ RE2 common subset (no
# lookaround, no backrefs) so the DuckDB oracle can run the SAME patterns
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
]


def scrub_pii(col: Column | str) -> Column:
    """Redact common PII (emails, NNN-NNN-NNNN phones, IPv4) with typed
    placeholders — the standard pre-training scrub pass, pure Catalyst
    regexp_replace chain (JVM, no Python)."""
    c = F.col(col) if isinstance(col, str) else col
    for name, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, f"<{name}>")
    return c


def pii_count(col: Column | str) -> Column:
    """How many PII spans :func:`scrub_pii` actually redacts. Each pattern
    is counted on the text as already scrubbed by the PRIOR patterns —
    exactly mirroring the sequential regexp_replace chain — so the count
    equals the number of placeholders inserted even when an earlier
    replacement destroys (or creates) a later-pattern match (ADVICE r3)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.lit(0)
    for name, pat in PII_PATTERNS:
        n = n + F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        c = F.regexp_replace(c, pat, f"<{name}>")
    return n


# ---- numpy-side helpers (oracles + pandas-UDF kernels) -------------------

def simhash64(token_lists: "list[list[str]]") -> np.ndarray:
    """64-bit SimHash per document from token lists (numpy batch kernel)."""
    out = np.zeros(len(token_lists), dtype=np.uint64)
    for i, toks in enumerate(token_lists):
        if not toks:
            continue
        votes = np.zeros(64, dtype=np.int64)
        for t in toks:
            h = np.uint64(hash_str64(t))
            bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            votes += np.where(bits == 1, 1, -1)
        bits = (votes > 0).astype(np.uint64)
        out[i] = np.sum(bits << np.arange(64, dtype=np.uint64), dtype=np.uint64)
    return out


def hash_str64(s: str) -> int:
    """Deterministic 64-bit FNV-1a string hash (process-seed independent)."""
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def rolling_fingerprint(text: str, window: int = 16, mod: int = 1 << 31) -> int:
    """Rabin-Karp style rolling-hash document fingerprint: min of window
    hashes (winnowing-lite), deterministic."""
    data = text.encode("utf-8")
    if len(data) < window:
        return hash_str64(text) % mod
    base, h = 257, 0
    pw = pow(base, window - 1, mod)
    best = None
    for i, b in enumerate(data):
        if i >= window:
            h = (h - data[i - window] * pw) % mod
        h = (h * base + b) % mod
        if i >= window - 1:
            best = h if best is None else min(best, h)
    return best


WINNOW_MOD = (1 << 55) - 55  # largest prime < 2^55: 255*(mod-1) < 2^63, so
#                              every byte*power product fits int64 exactly


def winnow_fingerprints(
    text: str, k: int = 8, window: int = 16, mod: int = WINNOW_MOD
) -> np.ndarray:
    """Full winnowing (Schleimer, Wilkerson & Aiken 2003 'local algorithms
    for document fingerprinting'): Rabin-Karp hashes of every k-byte gram,
    then the minimum of each sliding window of ``window`` hashes, deduped.
    Guarantee: any shared substring of length >= k + window - 1 bytes
    between two documents produces at least one SHARED fingerprint — the
    basis of cross-document repeated-span detection. Vectorized numpy
    (no per-window Python loop); returns the sorted distinct selection.

    ``mod`` must stay below 2^55 so ``byte * base^j mod p`` products fit
    int64 (255 * (2^55-1) < 2^63): with the default prime the kernel is a
    TRUE polynomial hash mod p — no silent int64 wraparound — and therefore
    replayable bit-for-bit in SQL (DuckDB HUGEINT)."""
    if mod >= 1 << 55:
        raise ValueError(f"mod={mod} >= 2^55 would overflow int64 products")
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    n = len(data)
    if n < k:
        return np.array([hash_str64(text) % mod], dtype=np.int64)
    base = 257
    # rolling k-gram hashes via cumulative horner in python-int space is
    # O(n*k); instead do the classic rolling update vectorized by steps:
    # h[i+1] = (h[i] - data[i]*base^(k-1)) * base + data[i+k]
    # numpy can't carry the data dependency, so compute with object-free
    # int64 math using modular exponent folding across a python loop over
    # K (small, <= k) rather than N.
    m = np.int64(mod)
    powers = np.array(
        [pow(base, k - 1 - j, mod) for j in range(k)], dtype=np.int64
    )
    # h[i] = sum_j data[i+j] * base^(k-1-j) mod p  — k shifted adds, O(k)
    # numpy passes over length-n arrays (k is small; n is the data)
    h = np.zeros(n - k + 1, dtype=np.int64)
    d64 = data.astype(np.int64)
    for j in range(k):
        h = (h + (d64[j : j + n - k + 1] * powers[j]) % m) % m
    if len(h) < window:
        return np.unique(h)
    # sliding-window min without a Python loop: stride trick
    from numpy.lib.stride_tricks import sliding_window_view

    mins = sliding_window_view(h, window).min(axis=1)
    return np.unique(mins)
