"""Text scalar functions — all built-in Column expressions (JVM-side,
whole-stage-codegen'd). No Python in the hot path.

These cover the "projection / scalar function" surface of the reference
(SURVEY.md §2.2) translated to text, plus the text-analysis extras
(token counting, language-ID heuristic, quality scoring, fingerprints).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Words that identify English-ish text; a tiny deterministic n-gram/stopword
# heuristic (NOT a model) — mirrors the hardcoded-predicate style of the
# reference's filter (/root/reference/image_filter.cpp:13-82).
_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "that", "for", "it")

# Whitespace spelled as an explicit class rather than \s: the shorthand
# differs between regex engines (Java \s includes \x0B vertical tab,
# RE2 — the DuckDB oracle engine — does not). Every parity-checked
# pattern on both the Spark side and the oracle side uses this class so
# the two engines match byte-identically on any input.
_WS = r" \t\n\f\r"


def normalize(col: Column) -> Column:
    """Canonical text form used for exact hashing: lowercase, collapse
    whitespace runs to single spaces, trim. Deterministic per input —
    this is the per-row invariant surface (byte-identical per url)."""
    return F.trim(F.regexp_replace(F.lower(col), rf"[{_WS}]+", " "))


def word_tokens(col: Column) -> Column:
    """Whitespace tokenization → array<string> (empty array for blank)."""
    return F.filter(F.split(normalize(col), " "), lambda w: w != F.lit(""))


def token_count(col: Column) -> Column:
    return F.size(word_tokens(col))


def distinct_word_count(col: Column) -> Column:
    return F.size(F.array_distinct(word_tokens(col)))


# GPT-2-style pretokenizer pattern, restricted to the subset with
# identical semantics in Java regex (Spark) and RE2 (DuckDB oracle):
# contraction suffixes, optional-leading-space letter runs, digit runs,
# and punctuation runs. No lookarounds (RE2 has none) and no \p classes
# (byte-identical behavior either side). Both engines use leftmost-FIRST
# alternation, so match boundaries agree exactly. Whitespace uses the
# explicit _WS class (see above); VT is uniformly "punctuation" on both
# engines.
BPE_ISH_PATTERN = (
    r"'[a-z]{1,2}"
    rf"|[{_WS}]?[A-Za-z]+"
    rf"|[{_WS}]?[0-9]+"
    rf"|[{_WS}]?[^A-Za-z0-9{_WS}']+"
)


def bpe_tokens(col: Column) -> Column:
    """BPE-ish pretokenization → array<string>: the merge-free first
    stage of a GPT-2-class tokenizer, enough for token COUNTING and
    length stats (the LM-pipeline budgeting use) without a vocab. Pure
    JVM regex — no UDF."""
    return F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), F.lit(0))


def bpe_token_count(col: Column) -> Column:
    return F.size(bpe_tokens(col))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    stripped = F.regexp_replace(col, rf"[A-Za-z0-9{_WS}]", "")
    return F.when(F.length(col) > 0, F.length(stripped) / F.length(col)).otherwise(
        F.lit(0.0)
    )


def stopword_ratio(col: Column) -> Column:
    """Fraction of tokens that are common English stopwords."""
    toks = word_tokens(col)
    hits = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def avg_word_len(col: Column) -> Column:
    toks = word_tokens(col)
    total = F.aggregate(
        toks, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Deterministic [0,1] quality score: length band + stopword presence
    + moderate punctuation. Analogue of the reference's pass/fail quality
    rules (image_filter.cpp) made continuous."""
    length_ok = F.when(
        (F.length(col) >= 32) & (F.length(col) <= 100_000), F.lit(0.4)
    ).otherwise(F.lit(0.0))
    stop_part = F.least(stopword_ratio(col) * 4.0, F.lit(1.0)) * 0.3
    punct_part = (
        F.when(punct_ratio(col) <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0)) * 0.3
    )
    return F.round(length_ok + stop_part + punct_part, 6)


def lang_guess(col: Column) -> Column:
    """Heuristic language ID: 'en' when stopword ratio is high, 'unknown'
    otherwise. A placeholder for a real classifier; deterministic and
    SQL-expressible so it is oracle-checkable."""
    return F.when(stopword_ratio(col) >= 0.08, F.lit("en")).otherwise(
        F.lit("unknown")
    )


def doc_fingerprint(col: Column) -> Column:
    """Exact-content fingerprint of the normalized text — the engine's
    md5 analogue (/root/reference/hash_func.cpp:43-63 computed MD5 of the
    raw file bytes)."""
    return F.md5(normalize(col))


def char_shingles(col: Column, width: int, stride: int = 1) -> Column:
    """Array of character shingles via built-ins only: substring windows
    of `width` at `stride`. Used by SQL-oracle-checkable paths; the
    production fingerprint UDFs shingle in numpy instead (faster for
    k-permutation hashing)."""
    n = F.greatest(F.length(col) - F.lit(width - 1), F.lit(0))
    idx = F.sequence(F.lit(1), n, F.lit(stride))
    return F.when(
        n > 0, F.transform(idx, lambda i: F.substring(col, i, width))
    ).otherwise(F.array().cast("array<string>"))


def extract_text_from_html(html: Column) -> Column:
    """Deterministic extraction `html:binary -> text:string` for the
    synthetic corpus wrapper ``<html><body>...</body></html>``. The
    per-row invariant (BASELINE.json): byte-identical text per url.
    Real-world extraction would be a vectorized Arrow UDF; the synthetic
    wrapper is regular enough for a built-in expression, which is
    strictly better (JVM-side, codegen)."""
    s = html.cast("string")
    return F.regexp_replace(
        F.regexp_replace(s, r"^<html><body>", ""), r"</body></html>$", ""
    )
