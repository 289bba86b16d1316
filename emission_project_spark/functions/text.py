"""Text-analysis functions for the training-data pipeline surface.

All JVM-side column expressions (regexp/hash built-ins) — no Python
UDFs in the hot path, so they stay inside whole-stage codegen and scale
linearly with input splits. Patterns are restricted to constructs with
identical semantics in Java regex (Spark) and RE2 (DuckDB) so the
oracle SQL matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_PATTERN = r"\w+"

# tiny multilingual stopword lists for the n-gram language heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
}


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(c: Column | str) -> Column:
    """Word tokens: maximal ``\\w+`` runs (BPE-ish regex tokenizer baseline)."""
    return F.regexp_extract_all(_c(c), F.lit(TOKEN_PATTERN), 0)


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c)).cast("long")


def char_count(c: Column | str) -> Column:
    return F.length(_c(c)).cast("long")


def punct_ratio(c: Column | str) -> Column:
    """Fraction of characters that are not word chars or spaces."""
    col = _c(c)
    stripped = F.regexp_replace(col, r"[\w ]", "")
    return F.when(F.length(col) > 0, F.length(stripped) / F.length(col)).otherwise(F.lit(0.0))


def stopword_ratio(c: Column | str) -> Column:
    """Fraction of tokens that are (lowercase) English stopwords."""
    toks = tokens(F.lower(_c(c)))
    hits = F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS["en"])))
    n = F.size(toks)
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def quality_score(c: Column | str) -> Column:
    """Composite [0,1] quality heuristic: long enough, mostly word
    chars, some (but not only) stopwords. Deterministic arithmetic —
    the exact formula is the contract, mirrored in the oracle SQL."""
    col = _c(c)
    len_score = F.least(char_count(col) / F.lit(500.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    stop = stopword_ratio(col)
    stop_score = F.lit(1.0) - F.abs(stop - F.lit(0.4))
    return len_score * 0.4 + punct_pen * 0.3 + stop_score * 0.3


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    # single-arg lambda only: a 2-arg lambda makes F.filter pass the
    # element INDEX as the second argument
    return F.size(F.filter(toks, lambda t: t.isin(*markers))).cast("long")


def lang_scores(c: Column | str) -> dict[str, Column]:
    """Per-language marker hit-count (n-gram heuristic language ID)."""
    toks = tokens(F.lower(_c(c)))
    return {lang: _marker_hits(toks, markers) for lang, markers in LANG_MARKERS.items()}


def fingerprint(c: Column | str) -> Column:
    """Canonical document fingerprint: md5 of lowercased text with all
    non-word chars removed — whitespace/punct-insensitive identity."""
    return F.md5(F.regexp_replace(F.lower(_c(c)), r"\W", ""))


# --- Gopher-style repetition signals (Rae et al., "Scaling Language
# Models", table A1: repetitious documents are low-quality). All
# array-HOF/JVM expressions over one tokenization.


def duplicate_line_fraction(c: Column | str) -> Column:
    """Fraction of lines that are exact repeats of an earlier line —
    boilerplate/navigation detection for crawled pages."""
    lines = F.filter(F.split(_c(c), "\n"), lambda x: F.length(x) > 0)
    n = F.size(lines)
    return F.when(n > 0, (n - F.size(F.array_distinct(lines))) / n).otherwise(F.lit(0.0))


# --- PII scrubbing: pattern detection + redaction counts. Patterns are
# deliberately simple (regex-recall, not production NER) and restricted
# to Java/RE2-common syntax so the oracle replicates them exactly.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\- ]{7,}[0-9]",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_counts(c: Column | str) -> dict[str, Column]:
    """Per-category PII match counts (long)."""
    col = _c(c)
    return {
        name: F.size(F.regexp_extract_all(col, F.lit(pat), 0)).cast("long")
        for name, pat in PII_PATTERNS.items()
    }


def scrub_pii(c: Column | str) -> Column:
    """Text with every PII match replaced by its [CATEGORY] tag —
    category order is fixed so overlapping patterns resolve
    deterministically (email before phone before ipv4)."""
    out = _c(c)
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"[{name.upper()}]")
    return out
