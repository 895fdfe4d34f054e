"""Structured-streaming incremental dedup (micro-batch merge fold)."""

import pyspark.sql.functions as F
import pyspark.sql.types as T

from image_dedup_spark.streaming.incremental import (
    incremental_exact_dedup_stream,
    incremental_near_merge,
)

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def test_streaming_exact_dedup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    inp, out, ckpt = str(root / "in"), str(root / "out"), str(root / "ckpt")
    spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa")], SCHEMA
    ).write.parquet(inp)
    q = incremental_exact_dedup_stream(spark, inp, out, ckpt, SCHEMA)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    texts = sorted(r.text for r in got.collect())
    assert texts == ["aaa", "bbb"]


def test_incremental_near_merge_fold(spark, tmp_path_factory):
    """Earlier copies win, and the returned count is exactly the number
    of rows the batch added to the accumulated table — also when every
    row is a duplicate or the batch is empty."""
    acc = str(tmp_path_factory.mktemp("acc") / "corpus")
    schema = "doc_id long, url string, text string"
    base = "all work and no play makes jack a dull boy " * 10
    fresh = "fresh new content never seen before " * 10
    b1 = spark.createDataFrame([(1, "u1", base)], schema)
    b2 = spark.createDataFrame(
        [
            (2, "u2", base.replace("dull", "dulll")),  # near dup of 1
            (3, "u3", fresh),
            (4, "u4", base),  # exact dup of 1
        ],
        schema,
    )
    b3 = spark.createDataFrame([(5, "u5", fresh), (6, "u6", base)], schema)
    b4 = spark.createDataFrame([], schema)

    def acc_rows():
        return spark.read.parquet(acc).count()

    assert incremental_near_merge(spark, b1, acc) == 1 == acc_rows()
    returned = []
    for b in (b2, b3, b4):
        before = acc_rows()
        returned.append(incremental_near_merge(spark, b, acc))
        assert returned[-1] == acc_rows() - before
    assert returned == [1, 0, 0]  # only doc 3 appended
    ids = sorted(r.doc_id for r in spark.read.parquet(acc).collect())
    assert ids == [1, 3]


TS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)


def _ts(s):
    import datetime

    return datetime.datetime.fromisoformat(s)


def test_dedup_rate_windows_drops_late_rows(spark, tmp_path_factory):
    """Watermark contract across a checkpointed restart: run 1 advances
    the watermark; run 2 delivers a row older than it, which must be
    DROPPED (its window never appears) while on-time rows aggregate."""
    from image_dedup_spark.streaming.incremental import dedup_rate_windows

    root = tmp_path_factory.mktemp("wm")
    inp, ckpt = str(root / "in"), str(root / "ckpt")
    got = []

    def run_once():
        stream = spark.readStream.schema(TS_SCHEMA).parquet(inp)
        q = (
            dedup_rate_windows(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _e: got.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [
            (1, _ts("2026-01-01 10:00:00"), "aaa"),
            (2, _ts("2026-01-01 10:02:00"), "aaa"),
        ],
        TS_SCHEMA,
    ).write.mode("append").parquet(inp)
    run_once()  # watermark after run 1: 10:02 - 5 min = 09:57

    spark.createDataFrame(
        [
            (3, _ts("2026-01-01 10:20:00"), "bbb"),
            (4, _ts("2026-01-01 09:40:00"), "late"),  # < watermark: drop
        ],
        TS_SCHEMA,
    ).write.mode("append").parquet(inp)
    run_once()

    by_window = {}
    for r in got:  # update mode: keep the last emission per window
        by_window[r.window_start] = r
    starts = sorted(by_window)
    assert [s.minute for s in starts] == [0, 20]  # no 09:40 window
    w0 = by_window[starts[0]]
    assert (w0.n_docs, w0.n_unique) == (2, 1)
    assert abs(w0.dup_rate - 0.5) < 1e-9
    assert by_window[starts[1]].n_docs == 1


def test_first_seen_filter_state_survives_restart(spark, tmp_path_factory):
    """applyInPandasWithState: a key emitted in run 1 must stay
    suppressed in run 2 (state lives in the checkpoint), and within a
    batch the min-doc_id row wins deterministically."""
    from image_dedup_spark.streaming.incremental import first_seen_filter

    root = tmp_path_factory.mktemp("state")
    inp, ckpt = str(root / "in"), str(root / "ckpt")
    got = []

    def run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(inp).withColumn(
            "exact_key", F.sha2(F.col("text"), 256)
        )
        q = (
            first_seen_filter(stream)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _e: got.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [(7, "aaa"), (2, "aaa"), (5, "bbb")], SCHEMA
    ).write.mode("append").parquet(inp)
    run_once()

    spark.createDataFrame(
        [(9, "aaa"), (1, "ccc")], SCHEMA
    ).write.mode("append").parquet(inp)
    run_once()

    ids = sorted(r.doc_id for r in got)
    assert ids == [1, 2, 5]  # min doc_id per key, "aaa" only from run 1


def test_dedup_rate_windows_exact_batch_mode(spark):
    """exact=True (the batch-equivalence surface the driver oracle
    checks): deterministic count_distinct over the same windowing."""
    from image_dedup_spark.streaming.incremental import dedup_rate_windows

    df = spark.createDataFrame(
        [
            (1, _ts("2026-01-01 10:00:00"), "aaa"),
            (2, _ts("2026-01-01 10:02:00"), "aaa"),   # dup in window 10:00
            (3, _ts("2026-01-01 10:05:00"), "bbb"),
            (4, _ts("2026-01-01 10:20:00"), "ccc"),
        ],
        TS_SCHEMA,
    )
    got = {
        r["window_start"].minute: (r["n_docs"], r["n_unique"], r["dup_rate"])
        for r in dedup_rate_windows(df, exact=True).collect()
    }
    assert got == {0: (3, 2, 1 - 2 / 3), 20: (1, 1, 0.0)}
