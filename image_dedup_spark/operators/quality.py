"""Quality filter + quarantine — the text analogue of the reference's
image quality rules (/root/reference/image_filter.cpp:13-82: size/magic
bytes/dimension/aspect bounds) and its robust-decode quarantine splitter
(/root/reference/catch_non_silent.py: bad vs harmless-warning lists).

Pure Column predicates (codegen'd, pushdown-eligible). Each row gets a
``reject_reason`` (null = keep); quarantine = the non-null slice — the
reference's bisection dance is unnecessary because per-row error capture
is natural in a declarative plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from image_dedup_spark.config import DEFAULT, DedupConfig


def with_reject_reason(df: DataFrame, cfg: DedupConfig = DEFAULT) -> DataFrame:
    # a null column reads as empty, so null text is too short, null lang
    # a bad language and null html malformed (a bare ``isin`` or
    # ``startswith`` on null is null, which would keep the row)
    text = F.coalesce(F.col("text"), F.lit(""))
    lang = F.coalesce(F.col("lang"), F.lit(""))
    html_s = F.coalesce(F.col("html").cast("string"), F.lit(""))
    reason = (
        F.when(F.length(text) < cfg.min_text_chars, F.lit("text_too_short"))
        .when(F.length(text) > cfg.max_text_chars, F.lit("text_too_long"))
        .when(~lang.isin(*cfg.lang_whitelist), F.lit("bad_lang"))
        .when(
            ~(
                html_s.startswith("<html>")
                & html_s.endswith("</html>")
            ),
            F.lit("malformed_html"),
        )
        .when(
            F.length(text) / F.greatest(F.length(html_s), F.lit(1))
            < cfg.min_text_html_ratio,
            F.lit("low_text_ratio"),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    return df.withColumn("reject_reason", reason)


def keep(df: DataFrame, cfg: DedupConfig = DEFAULT) -> DataFrame:
    return (
        with_reject_reason(df, cfg)
        .filter(F.col("reject_reason").isNull())
        .drop("reject_reason")
    )


def quarantine(df: DataFrame, cfg: DedupConfig = DEFAULT) -> DataFrame:
    return with_reject_reason(df, cfg).filter(F.col("reject_reason").isNotNull())
