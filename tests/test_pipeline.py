"""End-to-end pipeline + resume idempotence (SURVEY.md §5 tiers 3-4)."""

import glob
import random
import re
import shutil

import pyspark.sql.functions as F

from image_dedup_spark.config import DEFAULT
from image_dedup_spark.plans.pipeline import run_pipeline
from image_dedup_spark.sources import io as IO
from image_dedup_spark.sources.io import write_stage


def test_pipeline_end_to_end(spark, corpus):
    pages, truth = corpus
    res = run_pipeline(spark, pages)
    stages = [m["stage"] for m in res.metrics]
    assert stages[0] == "01_filtered" and stages[-1] == "09_survivors"

    # every planted exact cluster collapses to exactly one survivor
    surv = res.survivors.join(truth.select("doc_id", "cluster_id", "kind"), "doc_id")
    multi = (
        surv.filter(F.col("kind") == "exact")
        .groupBy("cluster_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert multi == 0
    # representatives are component minima
    reps = res.clusters.filter(F.col("is_representative"))
    assert reps.filter(F.col("doc_id") != F.col("cluster_id")).count() == 0
    # rejects never reach clustering
    n_rejects = truth.filter(F.col("kind") == "reject").count()
    assert res.quarantine.count() == n_rejects
    assert res.clusters.join(
        truth.filter(F.col("kind") == "reject"), "doc_id", "left_semi"
    ).count() == 0


def test_pipeline_sequential_matches_union_on_cohort_corpus(spark, corpus):
    """Reference-parity mode (image_deduper.cpp:293-359): SimHash runs
    only on the MinHash stage's survivors. On cohort-structured corpora
    (every near-dup relation internally transitive) the two designs
    yield the SAME partition — the equivalence precondition stated in
    run_pipeline's docstring."""
    pages, _ = corpus
    union = run_pipeline(spark, pages)
    seq = run_pipeline(spark, pages, sequential=True)
    stages = [m["stage"] for m in seq.metrics]
    assert "05_stage_a_clusters" in stages
    assert "06_simhash_pairs_sequential" in stages
    u = {(r.doc_id, r.cluster_id) for r in union.clusters.collect()}
    s = {(r.doc_id, r.cluster_id) for r in seq.clusters.collect()}
    assert u == s


def test_sequential_counterexample_semantics(spark):
    """The documented case where the two designs DIFFER (why
    union-of-edges is the default): A-B linked by family 1, B-C linked
    only by family 2. Sequential removes B after stage one, so family 2
    never sees the B-C edge and C stays separate — the reference's
    order-dependent outcome. Union links all three. Pinned at the
    clustering level (composition semantics are independent of how the
    pair families are computed)."""
    from image_dedup_spark.operators import components as CC

    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    fam1 = spark.createDataFrame([(1, 2)], "src_id long, dst_id long")
    fam2_all = spark.createDataFrame([(2, 3)], "src_id long, dst_id long")

    # union-of-edges: one clustering over all evidence
    union = CC.assign_clusters(docs, fam1.unionByName(fam2_all))
    assert {r.cluster_id for r in union.collect()} == {1}

    # sequential: family 2 pairs only among stage-one survivors {1, 3}
    stage_a = CC.assign_clusters(docs, fam1)
    survivors = {r.doc_id for r in stage_a.filter("is_representative").collect()}
    assert survivors == {1, 3}
    fam2_seq = fam2_all.filter(
        F.col("src_id").isin(survivors) & F.col("dst_id").isin(survivors)
    )
    seq = CC.assign_clusters(docs, fam1.unionByName(fam2_seq))
    assert {r.doc_id: r.cluster_id for r in seq.collect()} == {1: 1, 2: 1, 3: 3}


def test_pipeline_resume_idempotent(spark, corpus, tmp_path_factory, monkeypatch):
    """Resume after a crash and a full resume give the fresh run's
    survivors. Every stage a fresh run reads back (with the written
    schema, no inference) has the schema a resume infers from its files."""
    pages, _ = corpus
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    fresh = {}

    def recorded(df, checkpoint_dir, stage):
        out = write_stage(df, checkpoint_dir, stage)
        fresh[stage] = out.schema
        return out

    monkeypatch.setattr(IO, "write_stage", recorded)
    r1 = run_pipeline(spark, pages, checkpoint_dir=ckpt)
    first = sorted(r.doc_id for r in r1.survivors.collect())
    stages = [m["stage"] for m in r1.metrics]
    assert set(stages) <= set(fresh), stages
    for stage, schema in fresh.items():
        assert IO.read_stage(spark, ckpt, stage).schema == schema, stage

    # simulate a crash after stage 04: delete later stages, resume
    for stage in ["05_simhash_pairs", "07_all_pairs", "08_clusters", "09_survivors"]:
        shutil.rmtree(f"{ckpt}/{stage}", ignore_errors=True)
    r2 = run_pipeline(spark, pages, checkpoint_dir=ckpt)
    resumed = {m["stage"]: m["resumed"] for m in r2.metrics}
    assert resumed["01_filtered"] and resumed["04_minhash_pairs"]
    assert not resumed["05_simhash_pairs"]
    second = sorted(r.doc_id for r in r2.survivors.collect())
    assert first == second

    # full re-run resumes everything and is byte-identical
    r3 = run_pipeline(spark, pages, checkpoint_dir=ckpt)
    assert all(m["resumed"] for m in r3.metrics)
    third = sorted(r.doc_id for r in r3.survivors.collect())
    assert first == third

    # lineage records exist per materialized stage
    lineage = spark.read.parquet(f"{ckpt}/_lineage/03_fingerprints")
    fp_rows = {m["stage"]: m["rows_out"] for m in r1.metrics}["03_fingerprints"]
    assert lineage.agg(F.sum("count")).first()[0] == fp_rows


def test_stage_plans_run_once_and_rows_out_match(spark, corpus, tmp_path_factory):
    """Each stage's plan runs once, in memory and with a checkpoint dir
    (whose lineage record is read off the written part files, not a
    second run of the stage plan): the pages feed only 01_filtered and
    01_quarantine, so they are read exactly twice per pipeline run.
    Every stage's rows_out equals its table's row count, and each
    stage's lineage record has one row per part file summing to it."""
    from image_dedup_spark.session import drop_zip_finders

    pages, _ = corpus
    n_pages = pages.count()
    rows_read = spark.sparkContext.accumulator(0)

    def counted(batches):
        drop_zip_finders()
        for b in batches:
            rows_read.add(len(b))
            yield b

    src = pages.mapInPandas(counted, pages.schema)
    ckpt = str(tmp_path_factory.mktemp("ckpt_once"))
    results = {}
    for checkpoint_dir in (None, ckpt):
        rows_read.value = 0
        results[checkpoint_dir] = run_pipeline(
            spark, src, checkpoint_dir=checkpoint_dir
        )
        assert rows_read.value == 2 * n_pages, checkpoint_dir
    mem, disk = results[None], results[ckpt]

    rows_out = {m["stage"]: m["rows_out"] for m in disk.metrics}
    assert {m["stage"]: m["rows_out"] for m in mem.metrics} == rows_out
    for name, n in rows_out.items():
        assert spark.read.parquet(f"{ckpt}/{name}").count() == n, name
        lineage = spark.read.parquet(f"{ckpt}/_lineage/{name}")
        assert (lineage.agg(F.sum("count")).first()[0] or 0) == n, name
        ids = [r.partition_id for r in lineage.collect()]
        parts = {
            int(re.search(r"part-(\d+)", p).group(1))
            for p in glob.glob(f"{ckpt}/{name}/part-*")
        }
        assert len(ids) == len(set(ids)) and set(ids) <= parts, name
    for name, table in [
        ("01_quarantine", mem.quarantine), ("07_all_pairs", mem.pairs),
        ("08_clusters", mem.clusters), ("09_survivors", mem.survivors),
    ]:
        assert table.count() == rows_out[name], name


def test_pipeline_refuses_mismatched_checkpoint_format(spark, corpus, tmp_path_factory):
    import pytest

    from image_dedup_spark.plans.pipeline import run_pipeline

    pages, _ = corpus
    root = str(tmp_path_factory.mktemp("ckpt_fmt"))
    with open(f"{root}/_PIPELINE_FORMAT", "w") as fh:
        fh.write("0-legacy")
    with pytest.raises(RuntimeError, match="pipeline *format|format"):
        run_pipeline(spark, pages, checkpoint_dir=root)


def test_pipeline_refuses_cross_mode_resume(spark, corpus, tmp_path_factory):
    """Sequential and union modes share downstream stage names
    (07_all_pairs, 08_clusters, 09_survivors): resuming a union-mode
    checkpoint dir with --sequential (or any other mode flag flip) must
    refuse, not silently serve the other mode's final stages."""
    import pytest

    from image_dedup_spark.plans.pipeline import run_pipeline

    pages, _ = corpus
    root = str(tmp_path_factory.mktemp("ckpt_mode"))
    run_pipeline(spark, pages, checkpoint_dir=root)  # union mode
    with pytest.raises(RuntimeError, match="mode"):
        run_pipeline(spark, pages, checkpoint_dir=root, sequential=True)
    with pytest.raises(RuntimeError, match="mode"):
        run_pipeline(spark, pages, checkpoint_dir=root, verify_mode="estimate")
    with pytest.raises(RuntimeError, match="mode"):
        run_pipeline(spark, pages, checkpoint_dir=root, include_substring=True)
    # a stage-output-schema parameter flip (minhash component width)
    # must refuse too: the checkpointed fingerprint stage's minhash
    # element type would not match what downstream recomputes expect
    from dataclasses import replace

    with pytest.raises(RuntimeError, match="mode"):
        run_pipeline(
            spark, pages, cfg=replace(DEFAULT, minhash_bits=32),
            checkpoint_dir=root,
        )
    # same mode still resumes cleanly
    r = run_pipeline(spark, pages, checkpoint_dir=root)
    assert all(m["resumed"] for m in r.metrics)


def test_pipeline_hybrid_verify_matches_exact(spark, corpus):
    """run_pipeline(verify_mode='hybrid') must produce the same cluster
    table as the default exact verify (hybrid's prefilter loses a true
    pair with probability exp(-2·0.2²·128) ≈ 3.6e-5 — zero expected on
    this corpus), exercising the sketch-storing gate end-to-end."""
    pages, _ = corpus
    exact = {
        (r.doc_id, r.cluster_id)
        for r in run_pipeline(spark, pages).clusters.collect()
    }
    hybrid = {
        (r.doc_id, r.cluster_id)
        for r in run_pipeline(
            spark, pages, verify_mode="hybrid"
        ).clusters.collect()
    }
    assert hybrid == exact


def test_pipeline_adversarial_text(spark, corpus):
    """Pages with null, empty, ``\\x0B``-only, ``\\x0B``-laced and
    over-``max_text_bytes`` text (a multi-byte character straddling the
    byte cut), null lang and null html, among normal pages, through the
    whole pipeline with the substring family: every page lands exactly
    once in clusters or quarantine, and the null columns are quarantined
    with their reasons."""
    pages, _ = corpus
    normal = pages.filter(F.col("doc_id") % 8 == 0)
    rng = random.Random(7)
    vocab = [f"w{rng.randrange(10**6)}" for _ in range(500)]

    def words(n, sep=" "):
        return sep.join(rng.choice(vocab) for _ in range(n))

    cut = DEFAULT.max_text_bytes
    body = words(60_000)  # ~480k ASCII bytes, past the cut
    straddle = {
        "é": body[: cut - 1] + "é" + body[cut:],  # 2 bytes at cut-1
        "😀": body[: cut - 2] + "😀" + body[cut:],  # 4 bytes at cut-2
    }
    for ch, t in straddle.items():
        b = t.encode()
        assert b[cut - 1] >= 0x80 and b[cut] >= 0x80, ch  # straddles the cut
    laced = words(80, sep="\x0b")
    good, en = "<html><body>{}</body></html>", "en"
    adversarial = [
        # (doc_id, text, html, lang, reject_reason)
        (10_000, None, good.format(""), en, "text_too_short"),
        (10_001, "", good.format(""), en, "text_too_short"),
        (10_002, "\x0b" * 100, good.format("\x0b" * 100), en, None),
        (10_003, laced, good.format(laced), en, None),
        (10_004, laced + " tail", good.format(laced + " tail"), en, None),
        (10_005, straddle["é"], good.format(straddle["é"]), en, None),
        (10_006, straddle["😀"], good.format(straddle["😀"]), en, None),
        (10_007, words(80), good.format("x"), None, "bad_lang"),
        (10_008, words(80), None, en, "malformed_html"),
    ]
    adv = spark.createDataFrame(
        [
            (i, f"http://adversarial.example/{i}", h and h.encode(), t, lg)
            for i, t, h, lg, _ in adversarial
        ],
        "doc_id long, url string, html binary, text string, lang string",
    )
    src = normal.unionByName(adv.withColumn("warc_ts", F.current_timestamp()))
    res = run_pipeline(spark, src, include_substring=True)
    assert "06_substring_pairs" in [m["stage"] for m in res.metrics]

    clustered = [r.doc_id for r in res.clusters.select("doc_id").collect()]
    quarantined = dict(
        res.quarantine.select("doc_id", "reject_reason").collect()
    )
    every = [r.doc_id for r in src.select("doc_id").collect()]
    assert sorted(clustered + list(quarantined)) == sorted(every)
    for i, *_, reason in adversarial:
        assert quarantined.get(i) == reason, (i, quarantined.get(i))
