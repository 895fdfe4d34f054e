"""Incremental ingest — Structured Streaming front-end for the
merge-new-crawl-into-deduped-corpus flow.

The reference's ``merge_dhash`` is a sequential left-fold of datasets
into an accumulated deduped set (earlier copies win,
/root/reference/image_deduper.cpp:143-157). That IS micro-batch
semantics: each arriving batch is anti-joined against the accumulated
corpus and only novel docs append. The engine stays batch-first
(SURVEY.md §2.6); this module is the streaming skin over the same
cross-corpus operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from image_dedup_spark.config import DEFAULT, DedupConfig
from image_dedup_spark.functions.fingerprints import make_fingerprint_udf
from image_dedup_spark.operators import crosscorpus as XC
from image_dedup_spark.operators import exact as EX
from image_dedup_spark.session import drop_zip_finders
from image_dedup_spark.sources import io as IO


def incremental_exact_dedup_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema,
):
    """File-source stream → exact dedup (state = seen exact keys) →
    parquet sink. ``availableNow`` makes it a catch-up batch in tests;
    unbounded state is intentional for exact dedup (the seen-key set is
    the corpus identity — on a real cluster this state lives in RocksDB)."""
    stream = spark.readStream.schema(schema).parquet(input_path)
    deduped = stream.withColumn(
        "exact_key", EX.exact_key(F.col("text"))
    ).dropDuplicates(["exact_key"])
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def dedup_rate_windows(
    stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
    time_col: str = "event_time",
    exact: bool = False,
) -> DataFrame:
    """Crawl-health monitoring: per event-time window, how duplicated is
    the incoming stream? ``withWatermark`` bounds the aggregation state
    (windows older than max(event_time) - watermark are finalized and
    their state dropped; later-arriving rows for them are discarded —
    the late-data contract), so this runs forever on an unbounded crawl
    feed. Distinct counting uses HyperLogLog++
    (``approx_count_distinct``) because exact distinct aggregation is
    unsupported — and unaffordable — in streaming state; the dup-rate
    trend is a monitoring signal, not an accounting number. Pair with
    ``outputMode("update")`` + a dashboard sink, or ``append`` + files
    (rows emit once per finalized window).

    ``exact=True`` swaps HLL++ for exact ``count_distinct`` — only
    legal on a BOUNDED DataFrame (batch mode; streaming rejects
    distinct aggregation), where ``withWatermark`` is a no-op. This is
    the batch-equivalence surface the driver oracle checks: identical
    windowing/dup-rate semantics, deterministic counts."""
    distinct_agg = (
        F.count_distinct(F.col("exact_key"))
        if exact
        else F.approx_count_distinct("exact_key")
    )
    return (
        stream.withColumn("exact_key", EX.exact_key(F.col("text")))
        .withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("w"))
        .agg(
            F.count("*").alias("n_docs"),
            distinct_agg.alias("n_unique"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_docs",
            "n_unique",
            (1 - F.col("n_unique") / F.col("n_docs")).alias("dup_rate"),
        )
    )


def first_seen_filter(stream: DataFrame, key_col: str = "exact_key") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: emit
    each key's first-seen row (min doc_id within the first batch that
    carries the key), suppress every later occurrence — exact dedup as
    an explicit state machine rather than ``dropDuplicates``'s built-in
    state. The shape to copy for operators Spark has no built-in for
    (per-key quotas, first-k sampling, session stitching): state is a
    tiny typed tuple per key, the group's batch rows arrive as Arrow
    pandas frames, and emitted state lives in the checkpoint across
    restarts. NoTimeout = state is corpus identity (same contract as
    ``incremental_exact_dedup_stream``); swap in a processing-time
    timeout for TTL'd keys. Per-key per-batch rows are concatenated to
    pick the deterministic min — bounded by a key's volume inside ONE
    micro-batch, not by history."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    cols = stream.columns
    out_schema = stream.schema

    def fn(key, pdf_iter, state):
        drop_zip_finders()
        if state.exists:
            return
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        state.update((True,))
        if len(batch):
            first = batch.sort_values("doc_id").iloc[[0]]
            yield first[cols]

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        out_schema,
        "seen boolean",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def incremental_near_merge(
    spark: SparkSession,
    batch: DataFrame,
    acc_path: str,
    cfg: DedupConfig = DEFAULT,
) -> int:
    """One micro-batch of the near-dup merge fold: fingerprint the batch,
    drop docs that exactly or nearly duplicate the accumulated corpus at
    ``acc_path``, append survivors. Returns rows appended. Used from
    ``foreachBatch`` (or called directly as the batch fold step).

    The count comes from the write job itself (``observe``): a separate
    ``count()`` would run the whole near-remain plan and the exact-key
    anti-join over the accumulated table a second time."""
    fp_udf = make_fingerprint_udf(cfg)
    # The batch's one fingerprint pass, pinned now: both the near-remain
    # probe and the append read it.
    batch_fp = IO.checkpoint(
        batch.select("doc_id", "url", "text", fp_udf(F.col("text")).alias("fp"))
        .select("doc_id", "url", "text", "fp.*")
    )
    IO.row_count(batch_fp)

    if os.path.exists(os.path.join(acc_path, "_SUCCESS")):
        acc = spark.read.parquet(acc_path)
        survivors = XC.near_remain(
            batch_fp, batch_fp, acc, cfg, broadcast_gallery=False
        )
        # exact-key anti-join too (cheaper; run first in spirit — Catalyst
        # orders the scans; both are left_anti joins on the same table)
        out = survivors.join(
            acc.select(EX.exact_key(F.col("text")).alias("exact_key")).distinct(),
            EX.exact_key(survivors.text) == F.col("exact_key"),
            "left_anti",
        )
        mode = "append"
    else:
        out, mode = batch_fp, "overwrite"
    rows = Observation()
    out.observe(rows, F.count(F.lit(1)).alias("n")).write.mode(mode).parquet(acc_path)
    return rows.get["n"]
