"""Exact-duplicate removal — the engine's hash-aggregate.

Reference semantics (/root/reference/samples.cpp:476-493,
dedup_by_identical_hash): identical hash ⇒ keep the FIRST occurrence in
input order, drop the rest. Spark has no implicit row order, so "first"
is the materialized ``doc_id`` (assigned at ingest), and keep-first is
``min(doc_id) over (partition by key)`` (:func:`labels`) — one shuffle
of slim (key, id) rows on the hash key, no UDF.

The reference instantiates this for md5 (D9, samples.cpp:342-344) and as
the cardinality-reduction prelude to every near-dedup pass
(samples.cpp:235-236, 293-294).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from image_dedup_spark.functions import text as TXT


def exact_key(col: Column) -> Column:
    """Exact-content key: md5 of normalized text (P2 analogue)."""
    return TXT.doc_fingerprint(col)


def labels(
    df: DataFrame, key_col: Column | None = None, order: str = "doc_id"
) -> DataFrame:
    """(order, exact_key, keeper) — the one-pass exact-dedup label table
    from which BOTH survivors and keeper->dup pair edges derive.

    One md5+normalize evaluation over a slim projection, one exchange
    (window over the slim rows; a groupBy+join-back shape would either
    evaluate the md5 subtree on both join branches — Catalyst does not
    CSE across plan branches — or shuffle the slim table twice).
    Callers that consume the result more than once (survivors + pairs)
    should materialize it; each derived output is then a filter/project,
    not another pass over the corpus."""
    key_col = exact_key(F.col("text")) if key_col is None else key_col
    keyed_slim = df.select(F.col(order), key_col.alias("exact_key"))
    w = Window.partitionBy("exact_key")
    return keyed_slim.withColumn("keeper", F.min(order).over(w))


def pairs_from_labels(lab: DataFrame, order: str = "doc_id") -> DataFrame:
    """Duplicate edges (keeper -> duplicate) from a :func:`labels` table —
    same output as :func:`pairs`, zero additional corpus passes."""
    return lab.filter(F.col(order) != F.col("keeper")).select(
        F.col("keeper").alias("src_id"),
        F.col(order).alias("dst_id"),
        F.lit(0.0).alias("score"),
        F.lit("exact").alias("stage"),
    )


def survivors_from_labels(
    df: DataFrame, lab: DataFrame, order: str = "doc_id"
) -> DataFrame:
    """Keep-first survivors (df columns + exact_key) from a :func:`labels`
    table: its keeper rows joined back to ``df`` by ``order``, with no
    further md5 pass."""
    winners = lab.filter(F.col(order) == F.col("keeper")).select(
        F.col(order), "exact_key"
    )
    return df.join(winners, order, "inner")


def survivors(
    df: DataFrame, key_col: Column | None = None, order: str = "doc_id"
) -> DataFrame:
    """Keep-first exact dedup. Adds ``exact_key``; drops later occurrences:
    :func:`survivors_from_labels` over ``df``'s own :func:`labels`, so the
    md5+normalize key is computed once, over a slim (key, order)
    projection, and the wide rows are matched back by ``order``."""
    return survivors_from_labels(df, labels(df, key_col, order), order)


def dropped(
    df: DataFrame, key_col: Column | None = None, order: str = "doc_id"
) -> DataFrame:
    """The complement of :func:`survivors` (df columns + exact_key): the
    rows whose ``order`` differs from their keeper's in the same
    :func:`labels` table."""
    losers = (
        labels(df, key_col, order)
        .filter(F.col(order) != F.col("keeper"))
        .select(F.col(order), "exact_key")
    )
    return df.join(losers, order, "inner")


def clusters(
    df: DataFrame, key_col: Column | None = None, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, cluster_id) where cluster_id = min doc_id sharing the key.
    Deterministic replacement for the reference's input-order grouping."""
    return labels(df, key_col, id_col).select(
        F.col(id_col), F.col("keeper").alias("cluster_id")
    )


def pairs(
    df: DataFrame, key_col: Column | None = None, id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate edges (keeper -> duplicate) for the pair sink
    (reference .pair file, /root/reference/samples.cpp:504-507)."""
    return pairs_from_labels(labels(df, key_col, id_col), id_col)
