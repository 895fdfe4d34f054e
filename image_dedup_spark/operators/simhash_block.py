"""SimHash bit-band blocking — the second, complementary near-dup family
(the reference runs BOTH phash and dhash passes,
/root/reference/image_deduper.cpp:293-359; here MinHash + SimHash).

A 256-bit SimHash in 4 longs is split into ``cfg.simhash_bands`` bands
(32 bands of 8 bits by default). Two docs within Hamming distance < thr
agree exactly on at least one band whenever thr <= bands (pigeonhole:
fewer differing bits than bands leave some band untouched), so with
thr = 30 < 32 bands recall is deterministic while every band bucket
stays under ``cfg.bucket_cap``. Verification is exact Hamming with the
popcount prefilter (triangle inequality |pop(a)-pop(b)| <= hamming(a,b),
the reference's trick at /root/reference/samples.cpp:584-585,616-617).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from image_dedup_spark.config import DEFAULT, DedupConfig
from image_dedup_spark.functions.hashing import hamming, popcount
from image_dedup_spark.operators.lsh import candidate_pairs


def simhash_band_table(
    df: DataFrame, cfg: DedupConfig = DEFAULT, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, band_key): ``cfg.simhash_bands`` equal slices of the
    simhash words (8 bits each by default), keyed with the band index.
    Pure bit arithmetic — codegen'd, no UDF."""
    n_words = cfg.simhash_bits // 64
    bands_per_word = cfg.simhash_bands // n_words
    width = 64 // bands_per_word
    mask = (1 << width) - 1

    def band_val(i):
        word = F.element_at(F.col("simhash"), i // bands_per_word + 1)
        shift = (i % bands_per_word) * width
        return F.shiftright(word, shift).bitwiseAND(F.lit(mask))

    bands = F.array(
        *[
            F.xxhash64(F.lit(i), band_val(i))
            for i in range(cfg.simhash_bands)
        ]
    )
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(bands).alias("band_key")
    )


def verify_hamming_pairs(
    pairs: DataFrame, fingerprints: DataFrame, cfg: DedupConfig = DEFAULT
) -> DataFrame:
    """Exact Hamming verify with popcount prefilter; strict '<' threshold
    like the reference (samples.cpp:618-621)."""
    fp = fingerprints.select(
        "doc_id", "simhash", popcount(F.col("simhash")).alias("pop")
    )
    left = fp.select([F.col(c).alias(f"a_{c}") for c in fp.columns])
    right = fp.select([F.col(c).alias(f"b_{c}") for c in fp.columns])
    j = (
        pairs.join(left, pairs.src_id == left.a_doc_id)
        .join(right, pairs.dst_id == right.b_doc_id)
        .filter(
            F.abs(F.col("a_pop") - F.col("b_pop")) < cfg.simhash_threshold
        )
        .withColumn("dist", hamming(F.col("a_simhash"), F.col("b_simhash")))
        .filter(F.col("dist") < cfg.simhash_threshold)
    )
    return j.select(
        "src_id",
        "dst_id",
        F.col("dist").cast("double").alias("score"),
        F.lit("simhash").alias("stage"),
    )


def simhash_dup_pairs(
    fingerprints: DataFrame,
    cfg: DedupConfig = DEFAULT,
) -> DataFrame:
    """SimHash near-dup pairs: band-block → candidates → Hamming verify.

    ``star=False``: simhash band values are only ``64 / bands_per_word``
    bits wide, so at corpus scale every (band, value) bucket blows past
    ``bucket_cap`` on random collisions alone (measured at 1M docs: all
    8192 buckets over cap, 23.5M star edges, ~all rejected by the
    Hamming verify). Star edges to a random bucket-min preserve nothing
    here — over-cap buckets are dropped with accounting
    (:func:`image_dedup_spark.operators.lsh.bucket_stats`). Consequence,
    stated honestly: the pigeonhole recall guarantee of this family
    holds while buckets stay under cap (small/medium corpora, or
    ``simhash_bits``/``simhash_bands`` grown ~log n so band values stay
    discriminating); at web scale the MinHash family is the primary
    recall path."""
    bands = simhash_band_table(fingerprints, cfg)
    cands = candidate_pairs(bands, cfg, star=False)
    return verify_hamming_pairs(cands, fingerprints, cfg)
