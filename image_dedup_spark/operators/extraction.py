"""Error-capturing HTML→text extraction — the engine's analogue of the
reference's robust-decode validator (/root/reference/catch_non_silent.py).

The reference cannot capture per-image decode errors in-process (C++
imread aborts / PIL warnings escape), so it bisects failing batches in
subprocesses (catch_non_silent.py:126-173) and splits bad /
harmless-warning / format-mismatch lists (:84-111). In a vectorized
UDF, per-row error capture is natural: every payload yields a
``struct(text, error, warning)`` — three-way like the reference:

* clean      — text set, error null, warning null
* warned     — text set (KEPT), warning carries a taxonomy code: the
               payload decoded with recoverable issues that a real
               crawl should surface, not silently normalize
* bad        — text null, error carries a taxonomy code; quarantined

No bisection dance, no silent losses: a payload that fails to decode is
*represented*, not skipped, and a lossy recovery is *visible*, not
silent.

Error taxonomy (deterministic, so the extraction stays oracle-checkable):
  invalid_utf8     payload not valid UTF-8 and lossy recovery does not
                   yield a well-formed document either
  missing_wrapper  payload does not match <html><body>...</body></html>
  empty_payload    null/zero-length payload

Warning taxonomy (decoded, kept, flagged):
  replaced_chars   strict UTF-8 decode failed but errors="replace"
                   recovery yields a well-formed document (U+FFFD
                   substitutions present in the kept text)
  bom_stripped     payload opened with a UTF-8 BOM that was stripped
  overlong_line    a single line exceeds ``_MAX_LINE_CHARS`` — the
                   real-crawl signature of minified JS / base64 blobs /
                   binary-ish content shipped as text; kept verbatim
                   (no clamping — a lossy normalization would break the
                   byte-identical per-row invariant) but flagged so a
                   quality pass can route it

Exactly one warning code per row; precedence when several conditions
hold: replaced_chars > bom_stripped > overlong_line (most severe
recovery wins; the code is a single deterministic label).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from image_dedup_spark.session import drop_zip_finders

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("warning", T.StringType(), True),
    ]
)

_PREFIX = "<html><body>"
_SUFFIX = "</body></html>"
_BOM = b"\xef\xbb\xbf"
# Longest line a plausible prose document produces; beyond it the row is
# almost always minified markup/JS, base64, or binary-ish content.
_MAX_LINE_CHARS = 4096


def extract_one(
    payload: bytes | None,
) -> tuple[str | None, str | None, str | None]:
    """(text, error, warning) for one payload — the per-row contract.
    Total: every input produces exactly one of
    (text, None, None) / (text, None, warning) / (None, error, None).
    When both warn conditions fire, ``replaced_chars`` wins (the more
    severe recovery; the code is a single deterministic label)."""
    if payload is None or len(payload) == 0:
        return None, "empty_payload", None
    b = bytes(payload)
    warning = None
    if b.startswith(_BOM):
        b = b[len(_BOM):]
        warning = "bom_stripped"
    try:
        s = b.decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        s = b.decode("utf-8", errors="replace")
        if s.startswith(_PREFIX) and s.endswith(_SUFFIX):
            # recoverable: keep the replaced text, flag it
            return s[len(_PREFIX): len(s) - len(_SUFFIX)], None, "replaced_chars"
        return None, "invalid_utf8", None
    if not (s.startswith(_PREFIX) and s.endswith(_SUFFIX)):
        return None, "missing_wrapper", None
    text = s[len(_PREFIX): len(s) - len(_SUFFIX)]
    if warning is None and len(text) > _MAX_LINE_CHARS:
        # cheap gate first: only documents long enough to POSSIBLY hold
        # an overlong line pay the per-line scan
        if max(map(len, text.split("\n"))) > _MAX_LINE_CHARS:
            warning = "overlong_line"
    return text, None, warning


def make_extract_udf():
    """Arrow-batched pandas UDF ``html:binary -> struct(text, error,
    warning)``. Deterministic per input bytes — the per-row invariant
    (byte-identical extracted text per url) holds by construction."""

    def _extract(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for payloads in it:
            texts, errors, warnings = [], [], []
            for b in payloads:
                t, e, w = extract_one(b)
                texts.append(t)
                errors.append(e)
                warnings.append(w)
            yield pd.DataFrame(
                {"text": texts, "error": errors, "warning": warnings}
            )

    return F.pandas_udf(_extract, EXTRACT_SCHEMA)


def extract_text(pages: DataFrame, bin_col: str = "html") -> DataFrame:
    """Adds ``text``/``error``/``warning`` columns extracted from the
    binary payload (replacing any pre-extracted text column)."""
    udf = make_extract_udf()
    cols = [c for c in pages.columns if c not in ("text", "error", "warning")]
    return (
        pages.select(*cols, udf(F.col(bin_col)).alias("_ex"))
        .select(*cols, "_ex.text", "_ex.error", "_ex.warning")
    )


def split_quarantine(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(kept, quarantine): kept rows carry text and a null error —
    including warn-but-keep rows, whose ``warning`` column stays visible
    downstream; quarantine rows carry the error code — the reference's
    bad-list / clean-list split (catch_non_silent.py:247-309) as two
    filters."""
    kept = extracted.filter(F.col("error").isNull()).drop("error")
    quarantine = extracted.filter(F.col("error").isNotNull()).drop("warning")
    return kept, quarantine


def split_three(
    extracted: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(clean, warned, bad) — the reference's exact three-way validator
    split (catch_non_silent.py:84-111: good / harmless-warning / bad)."""
    clean = extracted.filter(
        F.col("error").isNull() & F.col("warning").isNull()
    ).drop("error", "warning")
    warned = extracted.filter(
        F.col("error").isNull() & F.col("warning").isNotNull()
    ).drop("error")
    bad = extracted.filter(F.col("error").isNotNull()).drop("warning")
    return clean, warned, bad
