"""Cross-corpus merge / remain — anti-join semantics.

Reference: ``merge_other_*`` folds each incoming dataset against the
accumulated set, dropping incoming rows that duplicate an accumulated
row (earlier datasets' copies win —
/root/reference/samples.cpp:244-251,302-308;
image_deduper.cpp:143-157). ``drop_exists_*`` ("remain") drops self rows
duplicating any gallery row (/root/reference/samples.cpp:254-260).
Both were O(n·m) rectangle scans with first-match early exit
(samples.cpp:680-683) — existence semantics, which in Spark IS a
left-semi/left-anti join; candidates come from the same LSH band tables,
and a small gallery's band table is broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from image_dedup_spark.config import DEFAULT, DedupConfig
from image_dedup_spark.functions.hashing import hamming
from image_dedup_spark.operators.lsh import _sig_jaccard_estimate, minhash_band_table


def exact_remain(src: DataFrame, gallery: DataFrame, key: str = "exact_key") -> DataFrame:
    """Rows of src whose exact key has no match in gallery (LEFT ANTI).
    Spark's planner broadcasts the gallery's key set when its estimated
    size fits ``spark.sql.autoBroadcastJoinThreshold`` and shuffles both
    sides otherwise, so a large gallery degrades instead of failing."""
    return src.join(gallery.select(key).distinct(), key, "left_anti")


def exact_merge(acc: DataFrame, incoming: DataFrame, key: str = "exact_key") -> DataFrame:
    """acc ∪ (incoming minus exact dups vs acc) — earlier copies win."""
    return acc.unionByName(exact_remain(incoming, acc, key))


def near_dup_ids_vs_gallery(
    src_fp: DataFrame,
    gallery_fp: DataFrame,
    cfg: DedupConfig = DEFAULT,
    broadcast_gallery: bool = False,
) -> DataFrame:
    """doc_ids of src rows that near-duplicate (minhash-verified) at least
    one gallery row. The verify is the signature-estimate form so no
    sketch shuffle crosses corpora.

    The band join is left to Spark's planner, which broadcasts the
    gallery band table when its estimate fits
    ``spark.sql.autoBroadcastJoinThreshold`` and shuffles otherwise.
    ``broadcast_gallery=True`` forces the broadcast with no size bound:
    the whole gallery band table is collected to the driver and shipped
    to every executor, however large it is."""
    # Band keys are xxhash64 over the signature slice, which hashes the
    # STORAGE type: two tables written under different minhash_bits
    # (array<smallint> vs array<int>) never band-collide even on equal
    # logical values — the join would silently find zero candidates.
    a_t = src_fp.schema["minhash"].dataType.elementType
    b_t = gallery_fp.schema["minhash"].dataType.elementType
    if a_t != b_t:
        raise ValueError(
            "fingerprint tables disagree on minhash component width "
            f"({a_t.simpleString()} vs {b_t.simpleString()}): they were "
            "written under different DedupConfig.minhash_bits; regenerate "
            "one side (gen_fp) so both corpora share one signature layout"
        )
    sb = minhash_band_table(src_fp, cfg).withColumnRenamed("doc_id", "src_id")
    gb = minhash_band_table(gallery_fp, cfg).withColumnRenamed("doc_id", "gal_id")
    if broadcast_gallery:
        gb = F.broadcast(gb)
    cands = sb.join(gb, "band_key").select("src_id", "gal_id").distinct()
    left = src_fp.select(
        F.col("doc_id").alias("src_id"), F.col("minhash").alias("a_mh")
    )
    right = gallery_fp.select(
        F.col("doc_id").alias("gal_id"), F.col("minhash").alias("b_mh")
    )
    est = _sig_jaccard_estimate(F.col("a_mh"), F.col("b_mh"), cfg.num_hashes)
    verified = (
        cands.join(left, "src_id")
        .join(right, "gal_id")
        .filter(est >= cfg.jaccard_threshold)
    )
    return verified.select("src_id").distinct()


def near_remain(
    src: DataFrame,
    src_fp: DataFrame,
    gallery_fp: DataFrame,
    cfg: DedupConfig = DEFAULT,
    id_col: str = "doc_id",
    broadcast_gallery: bool = False,
) -> DataFrame:
    """src rows with no near-dup in the gallery (D8 analogue)."""
    dups = near_dup_ids_vs_gallery(src_fp, gallery_fp, cfg, broadcast_gallery)
    return src.join(
        dups.withColumnRenamed("src_id", id_col), id_col, "left_anti"
    )


def near_merge(
    acc: DataFrame,
    acc_fp: DataFrame,
    incoming: DataFrame,
    incoming_fp: DataFrame,
    cfg: DedupConfig = DEFAULT,
    id_col: str = "doc_id",
) -> DataFrame:
    """acc ∪ (incoming minus near-dups vs acc) (D7 analogue). Fold order
    across datasets preserved by the caller, as in the reference."""
    survivors = near_remain(incoming, incoming_fp, acc_fp, cfg, id_col)
    return acc.unionByName(survivors.select(*acc.columns))


def simhash_remain(
    src: DataFrame,
    src_fp: DataFrame,
    gallery_fp: DataFrame,
    cfg: DedupConfig = DEFAULT,
    id_col: str = "doc_id",
) -> DataFrame:
    """Remain under the SimHash family: drop src rows within Hamming
    threshold of any gallery row (cross-corpus D6 with dhash analogue)."""
    from image_dedup_spark.operators.simhash_block import simhash_band_table

    sb = simhash_band_table(src_fp, cfg).withColumnRenamed("doc_id", "src_id")
    gb = simhash_band_table(gallery_fp, cfg).withColumnRenamed("doc_id", "gal_id")
    cands = sb.join(gb, "band_key").select("src_id", "gal_id").distinct()
    left = src_fp.select(
        F.col("doc_id").alias("src_id"), F.col("simhash").alias("a_sh")
    )
    right = gallery_fp.select(
        F.col("doc_id").alias("gal_id"), F.col("simhash").alias("b_sh")
    )
    dups = (
        cands.join(left, "src_id")
        .join(right, "gal_id")
        .filter(hamming(F.col("a_sh"), F.col("b_sh")) < cfg.simhash_threshold)
        .select("src_id")
        .distinct()
    )
    return src.join(dups.withColumnRenamed("src_id", id_col), id_col, "left_anti")
