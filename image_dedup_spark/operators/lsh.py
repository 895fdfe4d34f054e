"""MinHash LSH near-duplicate detection — the Spark-first replacement of
the reference's O(n²) lower-triangle pair scan
(/root/reference/samples.cpp:580-633, get_dup_pairs_down_triangle).

Design (SURVEY.md §2.4 D2):
  signature → band decomposition → bucket join → capped pair expansion
  → cheap prefilter → exact-Jaccard verify.

Skew handling is explicit (north_rule): bucket sizes come from a
map-side-combined hash aggregation; buckets over ``cfg.bucket_cap`` do
NOT pair all-vs-all — they emit a star to the bucket's min doc_id PLUS,
when affordable, all-vs-all pairs inside ``cfg.salt_factor`` salted
sub-buckets. The star preserves the connected component (every member
still reaches the same cluster); the salted sub-bucket pairs recover
direct edges between cohort members that the star alone would lose
whenever the bucket mixes similarity cohorts (a star edge to an
unrelated bucket-min dies in the verify). The dropped-pair count is
reported via :func:`bucket_stats` so recall claims stay honest. AQE
skew-join splitting covers residual imbalance.

The pair condition ``src_id < dst_id`` mirrors the reference's
lower-triangle ``i > j`` (samples.cpp:603-633) with deterministic ids.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from image_dedup_spark.config import DEFAULT, DedupConfig
from image_dedup_spark.sources import io as IO


def _salt(cfg: DedupConfig) -> Column:
    """Deterministic sub-bucket assignment for over-cap buckets. The SAME
    expression in candidate_pairs and bucket_stats keeps the accounting
    exact, not estimated."""
    return F.pmod(F.xxhash64(F.lit("salt"), F.col("doc_id")), F.lit(cfg.salt_factor))


def _salt_affordable(bucket_n: Column, cfg: DedupConfig) -> Column:
    """Over-cap buckets get salted sub-bucket pairs only while bounded:
    expected sub-bucket size <= bucket_cap AND expected total pairs
    <= max_pairs_per_bucket. Beyond that, star-only (connectivity is
    still preserved; forgone pairs stay visible in bucket_stats)."""
    exp_pairs = bucket_n * (bucket_n - 1) / (2 * cfg.salt_factor)
    return (bucket_n <= cfg.bucket_cap * cfg.salt_factor) & (
        exp_pairs <= cfg.max_pairs_per_bucket
    )


def minhash_band_table(
    df: DataFrame, cfg: DedupConfig = DEFAULT, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, band_key) — one row per (doc, band); band_key hashes the
    band id together with the band's signature slice (JVM xxhash64 over
    the array, no UDF)."""
    b, r = cfg.lsh_bands, cfg.lsh_rows
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(b - 1)),
        lambda i: F.xxhash64(i, F.slice(F.col("minhash"), i * r + 1, r)),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(bands).alias("band_key"),
    )


def candidate_pairs(
    band_table: DataFrame,
    cfg: DedupConfig = DEFAULT,
    star: bool = True,
) -> DataFrame:
    """Distinct candidate (src_id < dst_id) pairs from a (doc_id, band_key)
    table, with the giant-bucket star+salt fallback.

    ``star=True`` is correct ONLY for high-precision band keys (minhash
    bands: collision ⇒ high similarity, so star edges to the bucket min
    survive the downstream verify and preserve the component). Over-cap
    buckets additionally pair all-vs-all inside ``cfg.salt_factor``
    salted sub-buckets while :func:`_salt_affordable` holds — recovering
    direct cohort edges the star alone would lose. For low-precision
    keys (simhash's 8-bit bands) an over-cap bucket is mostly random
    collisions: its star edges fail verify, wasting the whole bucket's
    work and preserving nothing — callers pass ``star=False`` to DROP
    over-cap buckets instead, with the forgone pairs accounted in
    :func:`bucket_stats`.

    The non-singleton band table feeds both self-join sides and, for
    ``star=True``, the star and salted branches. Their projections alias
    columns differently, so Catalyst's exchange reuse covers at most the
    bucket-size exchange, not the window above it. The table is pinned
    with :func:`image_dedup_spark.sources.io.checkpoint`, so every
    consumer reads one computation whatever the optimizer reuses. The
    pin's blocks are freed by Spark's ContextCleaner once the returned
    DataFrame is garbage-collected. Without a pin the fused pair job at
    1M docs ran 25% slower (PLANS.md, "One materialization
    primitive")."""
    # Bucket sizing picks its physical shape by key-space cardinality
    # (both measured at 1M docs):
    #
    # * star=False (low-precision keys, e.g. simhash's 8192 distinct
    #   band keys): hash-AGGREGATE sizes — count/min partially
    #   aggregate, so the map side combines the band table to one row
    #   per key before a tiny shuffle, and AQE broadcasts the kept-keys
    #   join back onto the band table: the band table itself is never
    #   shuffled. (The window shape shuffled AND sorted all 32M band
    #   rows: 13.8s → 7.7s.)
    # * star=True (high-precision keys, ~one distinct key per doc-band:
    #   13.3M at 1M docs): a WINDOW over band_key — one exchange+sort of
    #   the band table. The aggregate shape is strictly worse here: the
    #   size table is as large as the key space, so rejoining it costs a
    #   second full shuffle of the band table plus one of the size table
    #   (measured 2.2× slower at 16 cores).
    if not star:
        sizes = (
            band_table.groupBy("band_key")
            .agg(
                F.count("*").alias("bucket_n"),
                F.min("doc_id").alias("bucket_min"),
            )
            # singletons (the vast majority of keys) can't pair; over-cap
            # buckets are dropped (star=False contract, accounting in
            # bucket_stats)
            .filter(
                (F.col("bucket_n") >= 2)
                & (F.col("bucket_n") <= cfg.bucket_cap)
            )
        )
        nonsingleton = band_table.join(sizes, "band_key")
    else:
        w = Window.partitionBy("band_key")
        sized = band_table.withColumn(
            "bucket_n", F.count("*").over(w)
        ).withColumn("bucket_min", F.min("doc_id").over(w))
        # Only non-singleton band rows: a small fraction of the band table.
        nonsingleton = sized.filter(F.col("bucket_n") >= 2)
    nonsingleton = IO.checkpoint(nonsingleton)
    small = nonsingleton.filter(F.col("bucket_n") <= cfg.bucket_cap)
    a = small.select("band_key", F.col("doc_id").alias("src_id"))
    bb = small.select("band_key", F.col("doc_id").alias("dst_id"))
    small_pairs = a.join(bb, "band_key").filter(
        F.col("src_id") < F.col("dst_id")
    )

    if not star:
        return small_pairs.select("src_id", "dst_id").distinct()

    big = nonsingleton.filter(F.col("bucket_n") > cfg.bucket_cap)
    star_pairs = big.filter(F.col("doc_id") != F.col("bucket_min")).select(
        F.col("bucket_min").alias("src_id"),
        F.col("doc_id").alias("dst_id"),
    )
    # Salted sub-bucket recovery (SURVEY §4's mandatory band-key salting):
    # split an affordable over-cap bucket into salt_factor sub-buckets and
    # pair all-vs-all within each — O(n²/s) pairs instead of O(n²), on top
    # of the O(n) star. Within-sub-bucket pairs get the same exact verify
    # as small-bucket pairs; cross-sub-bucket edges are covered by the
    # star (connectivity) and by the other b-1 bands (direct pairs).
    salted = big.filter(_salt_affordable(F.col("bucket_n"), cfg)).withColumn(
        "sub", _salt(cfg)
    )
    sa = salted.select("band_key", "sub", F.col("doc_id").alias("src_id"))
    sb = salted.select("band_key", "sub", F.col("doc_id").alias("dst_id"))
    salted_pairs = sa.join(sb, ["band_key", "sub"]).filter(
        F.col("src_id") < F.col("dst_id")
    )

    return (
        small_pairs.select("src_id", "dst_id")
        .unionByName(star_pairs)
        .unionByName(salted_pairs.select("src_id", "dst_id"))
        .distinct()
    )


def bucket_stats(
    band_table: DataFrame, cfg: DedupConfig = DEFAULT, star: bool = True
) -> DataFrame:
    """Accounting for capped buckets: per-band-key size, whether it was
    starred, and the number of all-vs-all pairs forgone (honesty metric).

    Uses the SAME salt assignment as :func:`candidate_pairs`, so the
    per-bucket emitted/dropped counts are exact, not expectations.
    ``star`` must match the candidate_pairs call being accounted for:
    star=False (the simhash contract) emits nothing from over-cap
    buckets."""
    sub = band_table.withColumn("sub", _salt(cfg)).groupBy(
        "band_key", "sub"
    ).agg(F.count("*").alias("sub_n"), F.min("doc_id").alias("sub_min"))
    g = sub.groupBy("band_key").agg(
        F.sum("sub_n").alias("bucket_n"),
        F.sum(F.col("sub_n") * (F.col("sub_n") - 1) / 2)
        .cast("long")
        .alias("salted_pairs"),
        # size of the sub-bucket holding the bucket's min doc: its star
        # edges coincide with salted pairs and are distinct()'d away in
        # candidate_pairs, so the exact emitted count subtracts them.
        F.min_by("sub_n", "sub_min").alias("min_sub_n"),
    )
    starred = F.col("bucket_n") > cfg.bucket_cap
    full = (F.col("bucket_n") * (F.col("bucket_n") - 1) / 2).cast("long")
    if star:
        over_cap_emitted = F.col("bucket_n") - 1 + F.when(
            _salt_affordable(F.col("bucket_n"), cfg),
            F.col("salted_pairs") - (F.col("min_sub_n") - 1),
        ).otherwise(F.lit(0))
    else:
        over_cap_emitted = F.lit(0)
    emitted = F.when(starred, over_cap_emitted).otherwise(full)
    return g.select(
        "band_key",
        "bucket_n",
        starred.alias("starred"),
        (full - emitted).cast("long").alias("pairs_dropped"),
    )


def _sig_jaccard_estimate(a: Column, b: Column, k: int) -> Column:
    # size(filter(zip_with(eq))) — measured 2.8× faster than
    # aggregate(zip_with(cast)) on 36M pairs at 5M docs (29.3s vs
    # 82.2s @16 cores): one boolean array temp and a counted filter
    # beat the fold's per-element accumulator updates. (Also measured
    # and rejected: a 128-term unrolled codegen sum, 2.3× slower —
    # giant expression trees fall out of codegen; an Arrow pandas_udf
    # scorer, transfer-bound at ~1KB/pair.) Division by the int literal
    # yields the same double as the fold did, so oracle hashes match.
    eq = F.zip_with(a, b, lambda x, y: x == y)
    return F.size(F.filter(eq, lambda e: e)) / F.lit(k)


def verify_pairs(
    pairs: DataFrame,
    fingerprints: DataFrame,
    cfg: DedupConfig = DEFAULT,
    mode: str = "exact",
) -> DataFrame:
    """Verify candidate pairs; keep those with Jaccard >= threshold.

    mode='exact'   : intersection of stored shingle sketches
                     (``array_intersect``, JVM-side) — the analogue of the
                     reference's exact Hamming verify (samples.cpp:616-621).
    mode='estimate': fraction of equal minhash components (cheaper at
                     scale; no sketch shuffle).
    mode='hybrid'  : estimate as a prefilter, exact as the verdict —
                     candidates with estimate < threshold - cfg.hybrid_delta
                     are rejected from the slim signature join alone; the
                     wide sketch join runs only on the near-and-above-
                     threshold remainder, so its input is ~the output size
                     instead of the candidate count. Output ⊆ exact-mode
                     output by construction (same final predicate on the
                     same sketches); a true pair escapes the prefilter with
                     probability ≤ exp(-2·delta²·num_hashes) (Hoeffding;
                     3.6e-5 at the defaults) — quantified in
                     BENCH/ANALYSIS_r4.md §16-17. Requires fingerprints to
                     carry BOTH `minhash` and `shingles`.

    The cheap prefilter before the exact verify is the analogue of the
    reference's popcount prefilter (samples.cpp:584-585): J >= t requires
    min(|A|,|B|)/max(|A|,|B|) >= t, so wildly different shingle counts
    are rejected before touching the arrays.

    Join shape is payload-dependent (both shapes measured at 5M docs):

    * ``exact`` — two-phase: candidates first meet only the slim
      (doc_id, n_shingles) projection for the prefilter; the wide
      bottom-k sketches (up to 32KB per row) are attached ONLY to
      prefilter survivors. The filter references both sides, so Catalyst
      cannot push it below a single wide join — phasing it by hand keeps
      the heavy arrays out of the candidate shuffle.
    * ``estimate`` — single-phase: the payload is a k×int{minhash_bits} signature
      (~256B at 128×16-bit), cheaper to ship once than to pay two extra joins
      for a prefilter that rejects few candidates (band-collided docs
      mostly have similar shingle counts; measured 2.8× slower as
      two-phase at 5M docs / 4 cores). The same prefilter predicate
      still applies — inline, after one join per side.
    """
    payload = "shingles" if mode == "exact" else "minhash"
    prefilter = (
        F.least("a_n_shingles", "b_n_shingles")
        >= F.greatest("a_n_shingles", "b_n_shingles") * cfg.jaccard_threshold
    )
    if mode == "hybrid":
        # Phase 1: the estimate-mode slim join, thresholded at
        # (threshold - delta) — rejects the candidate bulk without any
        # sketch traffic. Phase 2: the exact verdict on the remainder
        # (the same two-phase shape as mode='exact', but its input is
        # the estimate's survivors, not all candidates).
        survivors = verify_pairs(
            pairs,
            fingerprints.drop("shingles"),
            replace(
                cfg,
                jaccard_threshold=max(
                    0.0, cfg.jaccard_threshold - cfg.hybrid_delta
                ),
            ),
            mode="estimate",
        ).select("src_id", "dst_id")
        exact = verify_pairs(survivors, fingerprints, cfg, mode="exact")
        return exact
    if mode == "exact":
        slim = fingerprints.select("doc_id", "n_shingles")
        pre = (
            pairs.join(
                slim.select(
                    F.col("doc_id").alias("src_id"),
                    F.col("n_shingles").alias("a_n_shingles"),
                ),
                "src_id",
            )
            .join(
                slim.select(
                    F.col("doc_id").alias("dst_id"),
                    F.col("n_shingles").alias("b_n_shingles"),
                ),
                "dst_id",
            )
            .filter(prefilter)
        )
        j = pre.join(
            fingerprints.select(
                F.col("doc_id").alias("src_id"), F.col(payload).alias("a_payload")
            ),
            "src_id",
        ).join(
            fingerprints.select(
                F.col("doc_id").alias("dst_id"), F.col(payload).alias("b_payload")
            ),
            "dst_id",
        )
    else:
        j = (
            pairs.join(
                fingerprints.select(
                    F.col("doc_id").alias("src_id"),
                    F.col("n_shingles").alias("a_n_shingles"),
                    F.col(payload).alias("a_payload"),
                ),
                "src_id",
            )
            .join(
                fingerprints.select(
                    F.col("doc_id").alias("dst_id"),
                    F.col("n_shingles").alias("b_n_shingles"),
                    F.col(payload).alias("b_payload"),
                ),
                "dst_id",
            )
            .filter(prefilter)
        )
    if mode == "exact":
        inter = F.size(F.array_intersect("a_payload", "b_payload"))
        union = F.col("a_n_shingles") + F.col("b_n_shingles") - inter
        score = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    else:
        score = _sig_jaccard_estimate(
            F.col("a_payload"), F.col("b_payload"), cfg.num_hashes
        )
    return (
        j.withColumn("score", score)
        .filter(F.col("score") >= cfg.jaccard_threshold)
        .select("src_id", "dst_id", "score")
        .withColumn("stage", F.lit("minhash"))
    )


def minhash_dup_pairs(
    fingerprints: DataFrame,
    cfg: DedupConfig = DEFAULT,
    mode: str = "exact",
) -> DataFrame:
    """signature table -> verified duplicate-pair edges (D2+F4 analogue)."""
    bands = minhash_band_table(fingerprints, cfg)
    cands = candidate_pairs(bands, cfg)
    return verify_pairs(cands, fingerprints, cfg, mode=mode)
