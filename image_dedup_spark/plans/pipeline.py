"""The flagship pipeline — the engine's ``pipeline`` subcommand.

Reference flow (/root/reference/image_deduper.cpp:293-359,
process_pipeline): filter → md5 exact dedup → phash near-dedup → dhash
near-dedup, each stage materialized with per-stage timing. Engine flow:

  quality filter (+quarantine) → exact dedup (keep-first) →
  fingerprints (one Arrow pass, survivors only) → MinHash/LSH pairs →
  SimHash pairs → [optional substring pairs] → connected components →
  clusters + survivors, with per-stage parquet checkpoints, per-partition lineage
  and a metrics table. Any stage resumes from its checkpoint if present
  (idempotent re-run — north_rule).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from image_dedup_spark.config import DEFAULT, DedupConfig
from image_dedup_spark.functions.fingerprints import make_fingerprint_udf
from image_dedup_spark.operators import (
    components as CC,
)
from image_dedup_spark.operators import (
    exact as EX,
)
from image_dedup_spark.operators import (
    lsh as LSH,
)
from image_dedup_spark.operators import (
    quality as Q,
)
from image_dedup_spark.operators import (
    simhash_block as SB,
)
from image_dedup_spark.operators import (
    substring as SUB,
)
from image_dedup_spark.session import tune_for_corpus
from image_dedup_spark.sources import io as IO

# Bump whenever stage names, stage order, or stage output schemas change:
# resuming a checkpoint dir written by a different layout must refuse
# rather than silently mix old-flow stage outputs with recomputed ones
# (stage names were renumbered and the minhash dtype changed long->int32
# between layouts 1 and 2; 02_exact_pairs/02_exact_survivors collapsed
# into one 02_exact_labels pass between 2 and 3; the marker grew the
# run-mode parameters between 3 and 4).
PIPELINE_FORMAT = "4"


def _format_marker_value(
    include_substring: bool, verify_mode: str, sequential: bool,
    minhash_bits: int,
) -> str:
    """Layout version PLUS the run-mode parameters. The sequential and
    union modes share downstream stage names (07_all_pairs, 08_clusters,
    09_survivors) — and substring/verify change stage contents — so a
    resume against a checkpoint dir written under ANY different mode
    must refuse rather than silently serve the other mode's final
    stages."""
    return (
        f"{PIPELINE_FORMAT};sequential={int(sequential)}"
        f";substring={int(include_substring)};verify={verify_mode}"
        f";mhbits={minhash_bits}"
    )


def _check_format_marker(
    checkpoint_dir: str | None,
    include_substring: bool,
    verify_mode: str,
    sequential: bool,
    minhash_bits: int,
) -> None:
    if not checkpoint_dir:
        return
    import os

    expect = _format_marker_value(
        include_substring, verify_mode, sequential, minhash_bits
    )
    marker = os.path.join(checkpoint_dir, "_PIPELINE_FORMAT")
    if os.path.exists(marker):
        found = open(marker).read().strip()
        if found != expect:
            raise RuntimeError(
                f"checkpoint dir {checkpoint_dir} was written by pipeline "
                f"format/mode {found!r}, current is {expect!r}; wipe the "
                "directory (or point at a fresh one) instead of resuming "
                "across incompatible stage layouts or run modes"
            )
    else:
        os.makedirs(checkpoint_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write(expect)


@dataclass
class PipelineResult:
    survivors: DataFrame
    clusters: DataFrame
    pairs: DataFrame
    quarantine: DataFrame
    metrics: list[dict] = field(default_factory=list)

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            [
                (
                    m["stage"],
                    m["rows_out"],
                    float(m["seconds"]),
                    m["resumed"],
                )
                for m in self.metrics
            ],
            "stage string, rows_out long, seconds double, resumed boolean",
        )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig = DEFAULT,
    checkpoint_dir: str | None = None,
    include_substring: bool = False,
    verify_mode: str = "exact",
    sequential: bool = False,
) -> PipelineResult:
    """``sequential=False`` (default): both near-dup families' pair
    edges are computed over the SAME exact-dedup survivor set and
    unioned into one clustering — one CC pass, no order dependence.

    ``sequential=True`` is the reference-parity mode
    (image_deduper.cpp:293-359: phash dedup REMOVES duplicates, then
    dhash runs only on the survivors): MinHash pairs cluster first,
    and SimHash pairs are computed only among that stage's
    representatives; the final CC over (exact ∪ minhash ∪
    survivor-simhash) edges composes the two stages exactly. The modes
    agree whenever a removed doc's simhash edges never bridge two
    stage-one clusters that no surviving doc also bridges — true on
    cohort-structured corpora (each near-dup cohort is internally
    transitive); the counterexample (A-B minhash, B-C simhash only:
    union joins all three, sequential keeps C separate — exactly the
    reference's order-dependent outcome) is pinned in
    tests/test_pipeline.py. Union-of-edges ships as the default
    because one clustering over all evidence is order-independent and
    never splits what any family joins."""
    _check_format_marker(
        checkpoint_dir, include_substring, verify_mode, sequential,
        cfg.minhash_bits,
    )
    metrics: list[dict] = []

    def stage(name: str, build) -> DataFrame:
        """Materialize one stage and record its metrics. Either way the
        stage plan runs once: the checkpoint-dir path takes its lineage
        record from the written files, and the in-memory path's lazy
        checkpoint is filled by the one-job row count."""
        t0 = time.monotonic()
        resumed = IO.stage_exists(checkpoint_dir, name)
        if resumed:
            df = IO.read_stage(spark, checkpoint_dir, name)
        elif checkpoint_dir:
            df = IO.write_stage(build(), checkpoint_dir, name)
            IO.write_stage(
                IO.partition_lineage(df, name), checkpoint_dir, f"_lineage/{name}"
            )
        else:
            df = IO.checkpoint(build())
        metrics.append(
            {"stage": name, "rows_out": IO.row_count(df),
             "seconds": time.monotonic() - t0, "resumed": resumed}
        )
        return df

    filtered = stage("01_filtered", lambda: Q.keep(pages, cfg))
    quarantine = stage("01_quarantine", lambda: Q.quarantine(pages, cfg))

    # Corpus-sized runtime confs (shuffle partitions + join preference),
    # now that the filtered stage's materialized row count is known.
    n_filtered = metrics[-2]["rows_out"]
    tune_for_corpus(spark, n_filtered)

    # Exact dedup BEFORE the fingerprint UDF — the reference's own stage
    # order (md5 dedup precedes phash/dhash, image_deduper.cpp:293-359):
    # cardinality reduction so the expensive Arrow pass and every LSH
    # shuffle only ever see one copy per identical text. The slim label
    # table (doc_id, exact_key, keeper) is the ONLY md5+normalize pass;
    # pair edges and survivors are a filter/project and a join off it
    # (the format-2 layout ran the md5 pass twice, once per output).
    exact_labels = stage("02_exact_labels", lambda: EX.labels(filtered))
    exact_pairs = stage(
        "02_exact_pairs", lambda: EX.pairs_from_labels(exact_labels)
    )
    exact_survivors = stage(
        "02_exact_survivors",
        lambda: EX.survivors_from_labels(filtered, exact_labels),
    )

    fp_udf = make_fingerprint_udf(cfg, store_sketch=(verify_mode in ("exact", "hybrid")))
    # Repartition before the Arrow UDF: the stage is CPU-bound, so its
    # width must track cores, not the byte size AQE saw upstream.
    n_par = spark.sparkContext.defaultParallelism * 2
    fingerprints = stage(
        "03_fingerprints",
        lambda: exact_survivors.repartition(n_par)
        .select("doc_id", "url", "text", fp_udf(F.col("text")).alias("fp"))
        .select("doc_id", "url", "text", "fp.*"),
    )

    minhash_pairs = stage(
        "04_minhash_pairs",
        lambda: LSH.minhash_dup_pairs(fingerprints, cfg, mode=verify_mode),
    )
    if sequential:
        # Reference-parity: cluster the exact+minhash evidence first,
        # then run the SimHash family only on that stage's survivors.
        # (Cross-mode resume is refused outright by the format marker,
        # which records the run mode — stages 07-09 share names across
        # modes, so name disambiguation alone would not be safe.)
        stage_a_clusters = stage(
            "05_stage_a_clusters",
            # Quotient-graph CC: minhash pairs connect only exact-dup
            # keepers (fingerprints are computed on survivors), so the
            # exact stars never enter a propagation round — identical
            # output (components.assign_clusters_via_labels docstring +
            # pytest equivalence gate).
            lambda: CC.assign_clusters_via_labels(
                filtered.select("doc_id", "url"),
                exact_labels,
                minhash_pairs,
                cfg,
            ),
        )
        surv_a_fp = fingerprints.join(
            stage_a_clusters.filter(F.col("is_representative")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        simhash_pairs = stage(
            "06_simhash_pairs_sequential",
            lambda: SB.simhash_dup_pairs(surv_a_fp, cfg),
        )
    else:
        simhash_pairs = stage(
            "05_simhash_pairs", lambda: SB.simhash_dup_pairs(fingerprints, cfg)
        )

    all_pairs = [exact_pairs, minhash_pairs, simhash_pairs]
    if include_substring:
        sub_pairs = stage(
            "06_substring_pairs",
            lambda: SUB.substring_dup_pairs(exact_survivors, cfg),
        )
        all_pairs.append(sub_pairs)

    pairs = stage("07_all_pairs", lambda: reduce(DataFrame.unionByName, all_pairs))

    # The pair sink above keeps the full union (exact + near families,
    # the S5/D5 output); clustering itself runs on the exact-dup
    # quotient graph — near/substring families connect only keepers, so
    # the clusters are identical (assign_clusters_via_labels docstring)
    # while label propagation never iterates over corpus-sized tables.
    near_families = all_pairs[1:]
    clusters = stage(
        "08_clusters",
        lambda: CC.assign_clusters_via_labels(
            filtered.select("doc_id", "url"),
            exact_labels,
            reduce(DataFrame.unionByName, near_families),
            cfg,
        ),
    )
    survivors = stage(
        "09_survivors",
        lambda: clusters.filter(F.col("is_representative")).select("doc_id", "url"),
    )

    return PipelineResult(
        survivors=survivors,
        clusters=clusters,
        pairs=pairs,
        quarantine=quarantine,
        metrics=metrics,
    )
