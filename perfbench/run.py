#!/usr/bin/env python3
"""Benchmark for the dedup engine: one seeded workload per run.

    python3 perfbench/run.py --workload web_mix --seed 1 --seconds 10 --trace 0

Run it from the repository root. The workload's input is generated from
the seed (perfbench/workloads.py) and written to parquet before timing;
the engine only reads that parquet. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the entry point, then the same layer calls
one span at a time, and prints the per-layer metrics. Every run checks
the engine's output and counts a failed check as a failed operation.
The last line of stdout is the result JSON; the line before it names
the generator and the input digest. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from functools import reduce
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
NCORES = len(os.sched_getaffinity(0))
LAYERS = ("quality", "exact", "fingerprints", "lsh", "simhash_block",
          "substring", "components", "crosscorpus")
PIPELINE_LAYERS = LAYERS[:-1]
# run_pipeline's own stage names, mapped to the layer each stage calls
STAGE_LAYER = {"01": "quality", "02": "exact", "03": "fingerprints",
               "04": "lsh", "05": "simhash_block", "06": "substring",
               "08": "components"}
KERNEL_SAMPLE = 600

END_TO_END = {
    "setup_s": "s", "docs_per_s": "1/s", "merge_batch_s": "s",
    "peak_rss_mb": "MB", "pair_recall": "ratio", "cluster_precision": "ratio",
}
GENERIC = {"wall_s": "s", "jobs": "count", "run_s": "s", "busy": "ratio",
           "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
           "rows_out": "count"}
SPECIFIC = {
    "fingerprints.docs_per_core_s": "1/s", "fingerprints.kernel_docs_per_s": "1/s",
    "lsh.candidates": "count", "lsh.verify_yield": "ratio",
    "lsh.pairs_forgone": "count", "lsh.buckets_starred": "count",
    "simhash_block.candidates": "count", "simhash_block.verify_yield": "ratio",
    "simhash_block.pairs_forgone": "count", "simhash_block.buckets_dropped": "count",
    "components.rounds": "count", "components.full_rounds": "count",
    "components.ckpt_wall_s": "s", "components.vertices": "count",
    "components.edges_in": "count",
    "quality.reject_frac": "ratio", "exact.survivor_frac": "ratio",
    "crosscorpus.rows_appended": "count", "crosscorpus.dup_frac": "ratio",
    "trace.span_total_s": "s", "trace.entry_wall_s": "s",
    "trace.overhead_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{k}": u for layer in LAYERS for k, u in GENERIC.items()}
    units.update({f"{layer}.stage_s": "s" for layer in PIPELINE_LAYERS})
    units.update(SPECIFIC)
    return units


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def log(msg: str) -> None:
    """Progress on stderr, stamped with the process age."""
    print(f"[perfbench {process_age():7.2f}s] {msg}", file=sys.stderr, flush=True)


def process_age() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Run:
    """One benchmark run: a Spark session, a generated input, the timed
    entry-point calls and their checks."""

    def __init__(self, args, work: Path):
        from image_dedup_spark.session import get_spark

        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # no /tmp/hsperfdata file: the JVM writes only under the work dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.eventLog.enabled": str(self.trace).lower(),
        }
        if self.trace:
            (work / "events").mkdir()
            conf.update({
                "spark.eventLog.dir": str(work / "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", cores=NCORES, extra_conf=conf)
        self.spark.range(1).count()
        self.setup_s = process_age()
        log("session ready")
        self.sc = self.spark.sparkContext
        self.sc.setJobGroup("untraced", "outside spans")
        self.failures: list[str] = []
        self.detail: dict = {}

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- inputs ---------------------------------------------------------------

    def materialize_input(self, name: str, df):
        """Write a generated table to parquet; return (program input, truth)
        where the program input drops the planted-truth ``t_*`` columns."""
        from pyspark.sql import functions as F

        path = str(self.work / "in" / name)
        df.write.parquet(path)
        full = self.spark.read.parquet(path)
        prog_cols = [c for c in full.columns if not c.startswith("t_")]
        digest = full.agg(F.sum(F.xxhash64(*full.columns) % 1_000_003)).first()[0]
        self.detail.setdefault("input_digest", {})[name] = int(digest or 0)
        log(f"input {name} written")
        return full.select(*prog_cols), full


def kernel_docs_per_s(texts: list[str]) -> float:
    """The Python function inside the fingerprint UDF, single-threaded in
    the driver on a fixed sample, no Spark; repeated for >= 1 s."""
    import pandas as pd

    from image_dedup_spark.config import DEFAULT
    from image_dedup_spark.functions.fingerprints import make_fingerprint_udf

    kernel = make_fingerprint_udf(DEFAULT).func
    batch = pd.Series(texts)
    done, t0 = 0, time.perf_counter()
    while True:
        for out in kernel(iter([batch])):
            done += len(out)
        elapsed = time.perf_counter() - t0
        if elapsed >= 1.0:
            return done / elapsed


# -- web_mix ------------------------------------------------------------------


def pipeline_workload(run: Run, gen):
    from pyspark.sql import functions as F

    from image_dedup_spark.plans.pipeline import PipelineResult, run_pipeline

    spark = run.spark
    pages, full = run.materialize_input("pages", gen.pages(spark, run.args.seed))
    truth_rows = full.select("doc_id", "t_leader", "t_kind").collect()
    truth = {r.doc_id: r.t_leader for r in truth_rows}
    relations = planted_relations(truth_rows)
    n_pages = len(truth)

    def call():
        t0 = time.monotonic()
        res = run_pipeline(spark, pages, include_substring=True)
        log("run_pipeline done")
        return time.monotonic() - t0, res

    def check(res):
        fails, scores = _check_pipeline_result(res, truth, relations)
        run.failures += fails
        log("output checked")
        return scores

    if not run.trace:
        walls, scores = [], None
        while not walls or sum(walls) < run.args.seconds:
            wall, res = call()
            walls.append(wall)
            scores = check(res)
            run.detail.setdefault("stage_s", []).append(
                {st["stage"]: round(st["seconds"], 3) for st in res.metrics})
        return {
            "docs_per_s": n_pages * len(walls) / sum(walls),
            "merge_batch_s": statistics.median(walls),
            **scores,
        }, len(walls)

    from image_dedup_spark.config import DEFAULT
    from image_dedup_spark.functions.fingerprints import make_fingerprint_udf
    from image_dedup_spark.operators import components as CC
    from image_dedup_spark.operators import exact as EX
    from image_dedup_spark.operators import lsh as LSH
    from image_dedup_spark.operators import quality as Q
    from image_dedup_spark.operators import simhash_block as SB
    from image_dedup_spark.operators import substring as SUB
    from image_dedup_spark.session import tune_for_corpus
    from pyspark.sql import DataFrame

    from spans import Tracer

    cfg = DEFAULT
    run.sc.setJobGroup("warmup", "entry point, untimed")
    _, warm = call()
    check(warm)

    # The same layer calls, in run_pipeline's order, one span each.
    tr = Tracer(run.sc)
    m = tr.materialize
    filtered = m("quality.keep", lambda: Q.keep(pages, cfg))
    quarantine = m("quality.quarantine", lambda: Q.quarantine(pages, cfg))
    tune_for_corpus(spark, tr.spans[0]["rows_out"])
    labels = m("exact.labels", lambda: EX.labels(filtered))
    exact_pairs = m("exact.pairs_from_labels", lambda: EX.pairs_from_labels(labels))
    survivors = m("exact.survivors_from_labels",
                  lambda: EX.survivors_from_labels(filtered, labels))
    fp_udf = make_fingerprint_udf(cfg, store_sketch=True)
    n_par = run.sc.defaultParallelism * 2
    fps = m("fingerprints.udf", lambda: survivors.repartition(n_par)
            .select("doc_id", "url", "text", fp_udf(F.col("text")).alias("fp"))
            .select("doc_id", "url", "text", "fp.*"))
    mh_pairs = m("lsh.minhash_dup_pairs", lambda: LSH.minhash_dup_pairs(fps, cfg))
    sh_pairs = m("simhash_block.simhash_dup_pairs",
                 lambda: SB.simhash_dup_pairs(fps, cfg))
    sub_pairs = m("substring.substring_dup_pairs",
                  lambda: SUB.substring_dup_pairs(survivors, cfg))
    families = [mh_pairs, sh_pairs, sub_pairs]
    pairs = m("pipeline.all_pairs",
              lambda: reduce(DataFrame.unionByName, [exact_pairs, *families]))
    near = reduce(DataFrame.unionByName, families)
    rounds: list[dict] = []
    clusters = m("components.assign_clusters_via_labels",
                 lambda: CC.assign_clusters_via_labels(
                     filtered.select("doc_id", "url"), labels, near, cfg,
                     metrics_out=rounds))
    reps = m("pipeline.survivors", lambda: clusters.filter(
        F.col("is_representative")).select("doc_id", "url"))
    check(PipelineResult(survivors=reps, clusters=clusters, pairs=pairs,
                         quarantine=quarantine))

    run.sc.setJobGroup("entry", "entry point, reference wall")
    entry_wall, res = call()
    check(res)
    if _cluster_rows(res.clusters) != _cluster_rows(clusters):
        run.failures.append("the span replica's clusters differ from run_pipeline's")

    # Regime counters: after every span has closed, in their own job group.
    run.sc.setJobGroup("regime", "bucket and candidate counters")
    mh_bands = LSH.minhash_band_table(fps, cfg)
    sh_bands = SB.simhash_band_table(fps, cfg)
    mh_stats = LSH.bucket_stats(mh_bands, cfg, star=True).agg(
        F.sum("pairs_dropped"), F.sum(F.col("starred").cast("long"))).first()
    sh_stats = LSH.bucket_stats(sh_bands, cfg, star=False).agg(
        F.sum("pairs_dropped"), F.sum(F.col("starred").cast("long"))).first()
    mh_cands = LSH.candidate_pairs(mh_bands, cfg).count()
    sh_cands = LSH.candidate_pairs(sh_bands, cfg, star=False).count()
    n_vertices = near.select(F.explode(F.array("src_id", "dst_id"))).distinct().count()
    texts = [r.text for r in pages.filter(F.length("text") > 0)
             .orderBy(F.xxhash64(F.lit(run.args.seed), "doc_id"))
             .limit(KERNEL_SAMPLE).collect()]

    span = {s["name"]: s for s in tr.spans}
    stage_s = {layer: 0.0 for layer in PIPELINE_LAYERS}
    for st in res.metrics:
        layer = STAGE_LAYER.get(st["stage"][:2])
        if layer:
            stage_s[layer] += st["seconds"]
    specific = {
        "fingerprints.kernel_docs_per_s": kernel_docs_per_s(texts),
        "lsh.candidates": mh_cands,
        "lsh.verify_yield": span["lsh.minhash_dup_pairs"]["rows_out"] / max(mh_cands, 1),
        "lsh.pairs_forgone": int(mh_stats[0] or 0),
        "lsh.buckets_starred": int(mh_stats[1] or 0),
        "simhash_block.candidates": sh_cands,
        "simhash_block.verify_yield":
            span["simhash_block.simhash_dup_pairs"]["rows_out"] / max(sh_cands, 1),
        "simhash_block.pairs_forgone": int(sh_stats[0] or 0),
        "simhash_block.buckets_dropped": int(sh_stats[1] or 0),
        "components.rounds": sum(r["mode"] in ("full", "frontier") for r in rounds),
        "components.full_rounds": sum(r["mode"] == "full" for r in rounds),
        "components.ckpt_wall_s": sum(r.get("ckpt_wall", 0.0) for r in rounds),
        "components.vertices": n_vertices,
        "components.edges_in": sum(span[n]["rows_out"] for n in span
                                   if n.split(".")[0] in ("lsh", "simhash_block",
                                                          "substring")),
        "quality.reject_frac": span["quality.quarantine"]["rows_out"] / n_pages,
        "exact.survivor_frac": span["exact.survivors_from_labels"]["rows_out"]
        / max(span["quality.keep"]["rows_out"], 1),
    }
    specific.update({f"{k}.stage_s": v for k, v in stage_s.items()})
    return (tr, entry_wall, specific), 3


def _cluster_rows(clusters) -> list[tuple]:
    return sorted(tuple(r) for r in clusters.select(
        "doc_id", "cluster_id", "is_representative").collect())


def _check_pipeline_result(res, truth, relations):
    from checks import check_pipeline

    return check_pipeline(
        truth,
        relations,
        _cluster_rows(res.clusters),
        [r.doc_id for r in res.quarantine.select("doc_id").collect()],
        [tuple(r) for r in res.pairs.select("src_id", "dst_id").collect()],
        res.survivors.count(),
    )


def planted_relations(rows) -> list[tuple[int, int]]:
    """Each planted copy, variant or embed relates to its cluster's first
    page; a chain page relates to its predecessor. Unique pages and
    quality rejects are their own leaders and plant no relation."""
    return [
        (r.doc_id - 1 if r.t_kind == "chain" else r.t_leader, r.doc_id)
        for r in rows if r.t_leader != r.doc_id
    ]


# -- merge_batches -----------------------------------------------------------


def merge_workload(run: Run, gen):
    from pyspark.sql import functions as F

    from image_dedup_spark.streaming.incremental import incremental_near_merge

    spark, seed = run.spark, run.args.seed
    prog, full = run.materialize_input("pages", gen.pages(spark, seed))
    gallery, *batches = [full.filter(F.col("t_batch") == k).select(*prog.columns)
                         for k in range(-1, gen.batches)]
    truth = full.select("doc_id", "t_src", "t_batch").collect()
    gallery_ids = {r.doc_id for r in truth if r.t_batch < 0}
    batch_src = {r.doc_id: r.t_src for r in truth if r.t_batch >= 0}
    n_batch_pages = len(batch_src)
    first_timed_id = gen.gallery + gen.batch_pages
    acc_dirs = (str(run.work / f"acc{i}") for i in itertools.count())

    def seed_acc() -> str:
        acc = next(acc_dirs)
        run.sc.setJobGroup("seed", "gallery seeding, untimed")
        incremental_near_merge(spark, gallery, acc)
        return acc

    def check(acc: str, appended: list[int]):
        from checks import check_merge

        acc_ids = [r.doc_id for r in spark.read.parquet(acc).select("doc_id").collect()]
        fails, scores = check_merge(gallery_ids, batch_src, acc_ids, appended)
        run.failures += fails
        return scores

    def entry_pass():
        acc = seed_acc()
        run.sc.setJobGroup("entry", "merge batches")
        walls, appended = [], []
        for b in batches:
            t0 = time.monotonic()
            appended.append(incremental_near_merge(spark, b, acc))
            walls.append(time.monotonic() - t0)
        return walls, check(acc, appended), appended

    if not run.trace:
        walls, scores = [], None
        # The first batch of a pass is untimed: it takes the cold start of the
        # merge path (JIT, worker start-up), as a long-running fold does once.
        timed_pages = sum(1 for d in batch_src if d >= first_timed_id)
        walls, scores, calls = [], None, 0
        while not walls or sum(walls) < run.args.seconds:
            w, scores, _ = entry_pass()
            walls += w[1:]
            calls += len(w)
            run.detail.setdefault("batch_s", []).append([round(x, 3) for x in w])
        return {
            "docs_per_s": timed_pages * (len(walls) // (len(batches) - 1)) / sum(walls),
            "merge_batch_s": statistics.median(walls),
            **scores,
        }, calls

    from image_dedup_spark.config import DEFAULT
    from image_dedup_spark.functions.fingerprints import make_fingerprint_udf
    from image_dedup_spark.operators import crosscorpus as XC
    from image_dedup_spark.operators import exact as EX
    from image_dedup_spark.operators import lsh as LSH

    from spans import Tracer

    cfg = DEFAULT
    run.sc.setJobGroup("warmup", "entry point, untimed")
    entry_pass()

    # incremental_near_merge's layer calls, one span each, per batch.
    tr = Tracer(run.sc)
    acc = seed_acc()
    fp_udf = make_fingerprint_udf(cfg)
    appended, cands, dup_ids = [], 0, 0
    for b in batches:
        batch_fp = tr.materialize("fingerprints.udf", lambda: b.select(
            "doc_id", "url", "text", fp_udf(F.col("text")).alias("fp")
        ).select("doc_id", "url", "text", "fp.*"))
        acc_df = spark.read.parquet(acc)
        remain = tr.materialize("crosscorpus.near_remain", lambda: XC.near_remain(
            batch_fp, batch_fp, acc_df, cfg, broadcast_gallery=False))
        keys = acc_df.select(EX.exact_key(F.col("text")).alias("exact_key")).distinct()
        new = tr.materialize("exact.anti_join", lambda: remain.join(
            keys, EX.exact_key(remain.text) == F.col("exact_key"), "left_anti"))
        n_new = tr.spans[-1]["rows_out"]
        # candidate counters between spans, before the append moves the gallery
        run.sc.setJobGroup("regime", "candidate counters")
        sb = LSH.minhash_band_table(batch_fp, cfg).withColumnRenamed("doc_id", "src_id")
        gb = LSH.minhash_band_table(acc_df, cfg).withColumnRenamed("doc_id", "gal_id")
        cands += sb.join(gb, "band_key").select("src_id", "gal_id").distinct().count()
        dup_ids += XC.near_dup_ids_vs_gallery(batch_fp, acc_df, cfg).count()
        with tr.span("crosscorpus.append") as rec:
            new.write.mode("append").parquet(acc)
            rec["rows_out"] = n_new
        appended.append(n_new)
    check(acc, appended)

    walls, _, _ = entry_pass()
    texts = [r.text for r in gallery.unionByName(reduce(
        lambda a, c: a.unionByName(c), batches))
        .orderBy(F.xxhash64(F.lit(seed), "doc_id")).limit(KERNEL_SAMPLE).collect()]
    specific = {
        "fingerprints.kernel_docs_per_s": kernel_docs_per_s(texts),
        "lsh.candidates": cands,
        "lsh.verify_yield": dup_ids / max(cands, 1),
        "exact.survivor_frac": sum(appended) / max(sum(
            s["rows_out"] for s in tr.spans if s["name"] == "crosscorpus.near_remain"), 1),
        "crosscorpus.rows_appended": sum(appended),
        "crosscorpus.dup_frac": 1 - sum(appended) / n_batch_pages,
    }
    return (tr, sum(walls), specific), len(batches) * 3


# -- result ------------------------------------------------------------------


def layer_metrics(run: Run, tr, entry_wall: float, specific: dict) -> dict:
    from spans import find_event_log, rollup

    groups = rollup(find_event_log(run.work / "events"))
    out = {name: 0.0 for name in per_layer_units()}
    for s in tr.spans:
        layer = s["layer"]
        if layer not in LAYERS:
            continue
        g = groups.get(s["group"], {})
        out[f"{layer}.wall_s"] += s["wall_s"]
        out[f"{layer}.rows_out"] += s.get("rows_out", 0)
        for k in ("jobs", "run_s", "shuffle_write_mb", "spill_mb"):
            out[f"{layer}.{k}"] += g.get(k, 0)
        out[f"{layer}.task_skew"] = max(out[f"{layer}.task_skew"], g.get("task_skew", 0.0))
    for layer in LAYERS:
        wall = out[f"{layer}.wall_s"]
        out[f"{layer}.busy"] = out[f"{layer}.run_s"] / (wall * NCORES) if wall else 0.0
    fp_run = out["fingerprints.run_s"]
    out["fingerprints.docs_per_core_s"] = (
        out["fingerprints.rows_out"] / fp_run if fp_run else 0.0)
    span_total = tr.total_wall()
    out.update(specific)
    out["trace.span_total_s"] = span_total
    out["trace.entry_wall_s"] = entry_wall
    out["trace.overhead_frac"] = span_total / entry_wall - 1
    return out


WORKLOADS = ("web_mix", "merge_batches")


def execute(run: Run) -> tuple[dict, int]:
    import workloads as W

    run.detail["generator_digest"] = W.generator_digest()
    name = run.args.workload
    if name == "web_mix":
        return pipeline_workload(run, W.WebMix())
    return merge_workload(run, W.MergeBatches())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="minimum timed window; whole passes repeat until it is filled")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # Keep every file Spark and its Python workers write inside the run's
    # work dir, and let the workers import the engine from the checkout.
    os.environ.update({
        "SPARK_DRIVER_MEM": "2g",
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_GRAFT_NO_TMPFS": "1",
        "PYTHONPATH": os.pathsep.join(
            filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    })
    sys.path.insert(0, str(ROOT))
    from spans import RssSampler

    steal0, total0 = cpu_ticks()
    try:
        with RssSampler() as rss:
            run = Run(args, work)
            try:
                result, attempted = execute(run)
            finally:
                run.stop()
                log("session stopped")
        if args.trace:
            tr, entry_wall, specific = result
            values = layer_metrics(run, tr, entry_wall, specific)
            units = per_layer_units()
        else:
            values = {**result, "setup_s": run.setup_s,
                      "peak_rss_mb": rss.peak / (1024 * 1024)}
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass

    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests: a noisy-neighbour flag
    run.detail["host_steal_frac"] = round((steal1 - steal0) / max(total1 - total0, 1), 4)
    for msg in run.failures:
        print(f"check failed: {msg}", file=sys.stderr)
    failed = attempted if run.failures else 0
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, **run.detail}))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
