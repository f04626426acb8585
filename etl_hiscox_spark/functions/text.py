"""Text-analysis functions for LLM-scale data pipelines (SURVEY.md §2.11).

All built from JVM-side expressions (split/regexp/transform/aggregate) so
they stay inside whole-stage codegen at 100 TB — no Python in the hot path.

- tokenization: whitespace + BPE-ish regex variants
- language ID: stopword-hit n-gram heuristic (top-5 langs of the corpus)
- quality scoring: length / punctuation / stopword-ratio features
- fingerprinting: 64-bit rolling/polynomial hash over normalized text
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenization (L5)
# ---------------------------------------------------------------------------


def normalize_text(c: Column | str) -> Column:
    """Lowercase + collapse whitespace — canonical form for dedup keys."""
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def tokens(c: Column | str) -> Column:
    """Whitespace tokens of normalized text -> array<string>."""
    return F.split(normalize_text(c), " ")


BPE_SPLIT_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def regex_tokens(c: Column | str) -> Column:
    """BPE-ish tokenizer: letter-runs, digit-runs, or single punctuation —
    the common pre-tokenization split of GPT-style BPE vocabularies."""
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_SPLIT_PATTERN), 0)


def token_count_regex(c: Column | str) -> Column:
    """Count of BPE-ish tokens (see :func:`regex_tokens`)."""
    return F.size(regex_tokens(c))


# ---------------------------------------------------------------------------
# Language identification (heuristic n-gram / stopword voting)
# ---------------------------------------------------------------------------

# Tiny built-in stopword profiles. Real deployments plug in fastText/CLD3 via
# a pandas_udf; the heuristic keeps language-ID expression-only (and the
# testdata corpus is synthetic English-ish tokens regardless of its `lang`
# tag, so the heuristic is exercised structurally, verified on real phrases
# in tests/).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "un", "por", "con"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de": ("der", "die", "und", "das", "ist", "von", "den", "mit", "für", "auf"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "他"),
}


def detect_language(c: Column | str, default: str = "und") -> Column:
    """argmax over stopword-hit counts; 'und' when no stopword hits at all.

    Struct fields ordered (hits, lang) so array_max compares hit count
    first, language code as deterministic tiebreak.
    """
    toks = tokens(c)
    pairs = [
        F.struct(
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in LANG_STOPWORDS.items()
    ]
    best = F.array_max(F.array(*pairs))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit(default))


# ---------------------------------------------------------------------------
# Quality scoring (heuristic features used by pretraining filters)
# ---------------------------------------------------------------------------


def quality_score(col_name: str) -> Column:
    """Score in [0,1]: word-count band + low punctuation + stopword presence.

    A deterministic, explainable filter in the spirit of C4/Gopher rules —
    not a trained classifier.
    """
    c = F.col(col_name)
    n_chars = F.length(c)
    n_words = F.size(tokens(c))
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    len_ok = F.when((n_words >= 10) & (n_words <= 100000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio <= 0.2, 1.0).otherwise(0.0)
    nonempty = F.when(n_chars > 0, 1.0).otherwise(0.0)
    return (len_ok + punct_ok + nonempty) / F.lit(3.0)


# ---------------------------------------------------------------------------
# Fingerprinting (rolling/polynomial 64-bit hash) + shingles
# ---------------------------------------------------------------------------


def fingerprint64(c: Column | str) -> Column:
    """64-bit fingerprint of normalized text (xxhash64 — stable across
    Spark versions and partitionings)."""
    return F.xxhash64(normalize_text(c))


# Polynomial rolling-hash parameters: two independent (base, Mersenne-ish
# prime) pairs. acc < 2^31 and base < 2^9, so acc*base + cp < 2^41 — no
# BIGINT overflow in either engine (Spark 4 runs ANSI mode, where a
# wrapping-2^64 hash would THROW on overflow; modular arithmetic below a
# prime is the portable form of the same construction).
ROLLING_BASES = (131, 257)
ROLLING_MODS = (2147483647, 1000000007)


def rolling_fingerprint64(c: Column | str) -> Column:
    """~62-bit polynomial rolling fingerprint of normalized text,
    ENGINE-PORTABLE: h_i = fold(acc*base_i + codepoint mod prime_i) over
    the characters, combined as h1·1000000007 + h2 (fits BIGINT).

    Unlike :func:`fingerprint64` (xxhash64 — JVM-native, the production
    default), every step here is plain modular BIGINT arithmetic on
    codepoints, so DuckDB/Trino/BigQuery reproduce it bit-for-bit
    (Spark's ``ascii`` and DuckDB's ``unicode`` both return the full
    codepoint of one-char strings). Empty/NULL text fingerprints to
    0/NULL. The char-level lambda runs interpreted — fine for per-doc
    fingerprints; keep xxhash64 for hot shingle loops."""
    t = normalize_text(c)
    cps = F.transform(F.split(t, ""), lambda ch: F.ascii(ch).cast("long"))
    h1, h2 = (
        F.aggregate(
            cps,
            F.lit(0).cast("long"),
            lambda acc, x: (acc * base + x) % F.lit(mod),
        )
        for base, mod in zip(ROLLING_BASES, ROLLING_MODS)
    )
    return (h1 * F.lit(1000000007) + h2).alias("rolling_fp64")


def content_hash(c: Column | str) -> Column:
    """SHA-256 hex of normalized text — the exact-dedup key (L1)."""
    return F.sha2(normalize_text(c), 256)


PII_PATTERNS: dict[str, str] = {
    # C4/CCNet-style scrubbing targets; Java-regex/RE2 common subset
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d[\d\-\s]{7,}\d",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def scrub_pii(c: Column | str, replacement: str = "<PII>") -> Column:
    """Mask PII-shaped spans (emails, phones, IPv4, SSNs) — the standard
    pretraining-corpus scrub, expression-only so it runs inside codegen."""
    out = F.col(c) if isinstance(c, str) else c
    for pattern in PII_PATTERNS.values():
        out = F.regexp_replace(out, pattern, replacement)
    return out


def pii_counts(c: Column | str) -> list[Column]:
    """Per-kind PII match counts (audit/reporting companion to scrub)."""
    col = F.col(c) if isinstance(c, str) else c
    return [
        F.size(F.regexp_extract_all(col, F.lit(p), 0)).alias(f"n_{kind}")
        for kind, p in PII_PATTERNS.items()
    ]


def shingles(c: Column | str, k: int = 3) -> Column:
    """Word k-gram shingle array (distinct) — MinHash input."""
    toks = tokens(c)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def url_host(c: Column | str) -> Column:
    """Lowercased host of a URL: ``scheme://[userinfo@]host[:port]/...``.

    One codegen ``regexp_extract`` — scheme per RFC 3986 (letter then
    letter/digit/+/-/.), optional userinfo (anything before @ that isn't a
    path/query delimiter), host is either a bracketed IPv6 literal
    (``[::1]``, kept with its brackets so it can never collide with a
    domain name) or a reg-name/IPv4 ending at ``:`` (port), ``/`` (path),
    ``?`` or ``#``. Non-URL strings yield '' (regexp_extract's no-match
    value), which downstream suffix matching treats as unmatched —
    quarantine-by-passthrough, same policy as the codec tiers."""
    c = F.col(c) if isinstance(c, str) else c
    return F.lower(
        F.regexp_extract(
            c,
            r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?(\[[^\]/?#]*\]|[^/:?#]+)",
            1,
        )
    )
