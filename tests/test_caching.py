"""Operator-internal pins: ``sources.io.checkpoint`` is the one way an
operator materializes a subtree that several of its consumers share.

A pin holds its blocks only while its DataFrame is referenced: once the
result is garbage-collected, Spark's ContextCleaner frees them, so
repeated operator calls never pin storage for the session's lifetime.
And a pin is what keeps the shared subtree to one computation, whether
or not Catalyst happens to reuse an exchange below it."""

import gc
import time

import pyspark.sql.functions as F

from image_dedup_spark.config import DEFAULT
from image_dedup_spark.operators import exact as EX
from image_dedup_spark.operators import lsh as LSH
from image_dedup_spark.operators import similarity as SIM
from image_dedup_spark.operators import simhash_block as SB
from image_dedup_spark.operators import substring as SUB
from image_dedup_spark.sources import io as IO


def _storage_ids(spark):
    return {
        r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def _assert_freed_after_gc(spark, before):
    gc.collect()
    # py4j tells the JVM about freed Python proxies from a background
    # thread, so one JVM GC right after gc.collect() can still find the
    # DataFrames referenced: collect on every poll.
    deadline = time.monotonic() + 20
    # subset, not equality: the ContextCleaner may also free old blocks
    # from `before`; the invariant is that nothing new survives.
    while not _storage_ids(spark) <= before and time.monotonic() < deadline:
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    assert _storage_ids(spark) <= before


def test_minhash_candidate_cache_released(spark, fingerprints):
    # both LSH families pin their band table in lsh.candidate_pairs
    fp = EX.survivors(fingerprints).localCheckpoint(eager=True)
    before = _storage_ids(spark)
    for _ in range(2):  # repeated calls must not accumulate storage
        results = [
            LSH.minhash_dup_pairs(fp, mode="estimate"),
            SB.simhash_dup_pairs(fp),
        ]
        for df in results:
            assert IO.row_count(df) > 0
        # the pins hold blocks while their results are referenced
        assert _storage_ids(spark) - before
        del df, results
        _assert_freed_after_gc(spark, before)


def test_lsh_topk_signature_cache_released(spark, fingerprints):
    emb = (
        fingerprints.select("doc_id")
        .limit(50)
        .select(
            F.col("doc_id").alias("vec_id"),
            F.array(
                *[(F.rand(seed=i) - 0.5).cast("double") for i in range(8)]
            ).alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    before = _storage_ids(spark)
    df = SIM.lsh_topk(emb, dim=8, k=3, n_planes=4, n_tables=2)
    assert IO.row_count(df) > 0
    assert _storage_ids(spark) - before
    del df
    _assert_freed_after_gc(spark, before)


def test_chunk_table_pin_released(spark, corpus):
    docs = corpus[0].select("doc_id", "text")
    before = _storage_ids(spark)
    df = SUB.substring_dup_pairs(docs)
    assert IO.row_count(df) > 0
    assert _storage_ids(spark) - before
    del df
    _assert_freed_after_gc(spark, before)


def _counted(spark, df):
    """``df`` through a pass-through ``mapInPandas`` that counts the rows
    it reads into an accumulator: (counted df, accumulator)."""
    acc = spark.sparkContext.accumulator(0)

    def pass_through(batches):
        for b in batches:
            acc.add(len(b))
            yield b

    return df.mapInPandas(pass_through, df.schema), acc


def test_band_table_computed_once_per_candidate_pairs_call(spark, fingerprints):
    # Exchange reuse off: the consumers of the non-singleton table then
    # share nothing below it, so the count shows whether the pin is the
    # one computation they all read (unpinned: 5 band passes for
    # star=True, 4 for star=False).
    prev = spark.conf.get("spark.sql.exchange.reuse")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        # star=False sizes buckets with an aggregate and joins the sizes
        # back onto the band table (lsh.candidate_pairs): two passes of
        # one computation of the pinned table.
        for star, band_table, passes in (
            (True, LSH.minhash_band_table, 1),
            (False, SB.simhash_band_table, 2),
        ):
            n_rows = IO.row_count(band_table(fingerprints, DEFAULT))
            bands, acc = _counted(spark, band_table(fingerprints, DEFAULT))
            assert IO.row_count(LSH.candidate_pairs(bands, DEFAULT, star=star)) > 0
            assert acc.value == passes * n_rows, (star, acc.value, n_rows)
    finally:
        spark.conf.set("spark.sql.exchange.reuse", prev)


def test_chunker_reads_each_doc_once_per_substring_call(spark, corpus):
    # The shared-chunk count, its join and the pair expansion all read
    # the chunk table; the pin makes them one chunker pass over the docs,
    # with exchange reuse on (its default) and off.
    docs = corpus[0].select("doc_id", "text")
    n_docs = docs.count()
    prev = spark.conf.get("spark.sql.exchange.reuse")
    try:
        for reuse in ("true", "false"):
            spark.conf.set("spark.sql.exchange.reuse", reuse)
            counted, acc = _counted(spark, docs)
            assert IO.row_count(SUB.substring_dup_pairs(counted, DEFAULT)) > 0
            assert acc.value == n_docs, (reuse, acc.value, n_docs)
    finally:
        spark.conf.set("spark.sql.exchange.reuse", prev)
