"""Fused ≡ separate near-dup pair parity.

bench.py runs both near-dup families (MinHash/LSH + SimHash) in ONE
Spark action over a shared fingerprint scan and a SHARED CacheScope
(q_dup_pairs), while the oracle-checked queries() entries materialize
each family separately. The fusion must be a pure job-submission
optimization: the emitted pair SET has to be exactly the union of the
two families' sets, or the bench would measure a different computation
than the one the oracles verify.
"""

import pyspark.sql.functions as F

from image_dedup_spark.caching import CacheScope
from image_dedup_spark.config import DEFAULT
from image_dedup_spark.operators import exact as EX
from image_dedup_spark.operators import lsh as LSH
from image_dedup_spark.operators import simhash_block as SB


def _pairset(df):
    return {(r.src_id, r.dst_id, r.stage) for r in df.collect()}


def test_fused_pair_job_equals_union_of_families(spark, fingerprints):
    fp = EX.survivors(fingerprints).cache()

    # separate: each family is its own action with its own scope —
    # exactly the shape of the driver's oracle queries.
    with CacheScope() as scope:
        mh = _pairset(
            LSH.minhash_dup_pairs(fp, DEFAULT, mode="estimate", scope=scope)
            .localCheckpoint(eager=True)
        )
    with CacheScope() as scope:
        sh = _pairset(
            SB.simhash_dup_pairs(fp, DEFAULT, scope=scope).localCheckpoint(
                eager=True
            )
        )

    # fused: one action, one shared scope — bench.py's q_dup_pairs.
    with CacheScope() as scope:
        fused = _pairset(
            LSH.minhash_dup_pairs(fp, DEFAULT, mode="estimate", scope=scope)
            .unionByName(SB.simhash_dup_pairs(fp, DEFAULT, scope=scope))
            .localCheckpoint(eager=True)
        )

    assert mh, "fixture must plant minhash near-dups"
    assert sh, "fixture must plant simhash near-dups"
    assert fused == mh | sh

    # the fused edge set clusters identically (n_clusters is the
    # bench's cross-run output invariant)
    from image_dedup_spark.operators import components as CC

    edges_fused = spark.createDataFrame(
        [(a, b) for a, b, _ in sorted(fused)], "src_id long, dst_id long"
    )
    edges_union = spark.createDataFrame(
        [(a, b) for a, b, _ in sorted(mh | sh)], "src_id long, dst_id long"
    )
    cf = CC.connected_components(edges_fused)
    cu = CC.connected_components(edges_union)
    assert (
        cf.select("cluster_id").distinct().count()
        == cu.select("cluster_id").distinct().count()
    )
