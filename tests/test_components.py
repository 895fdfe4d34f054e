"""Connected components + greedy survivors vs pure-Python oracles
(reference greedy: samples.cpp:534-577)."""

import json
import os
import random
import subprocess
import sys
import tempfile

import pyspark.sql.functions as F

from image_dedup_spark.operators import components as CC


def _union_find_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _comp_min_expect(edges):
    oracle = _union_find_oracle(edges)
    comp_min = {}
    for n, root in oracle.items():
        comp_min.setdefault(root, []).append(n)
    return {n: min(comp_min[root]) for n, root in oracle.items()}


def test_connected_components_vs_union_find(spark, cc_paths):
    rng = random.Random(7)
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(200), 2)))
            for _ in range(150)
        }
    )
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    for path, forced in cc_paths.items():
        with forced():
            got = {
                r.doc_id: r.cluster_id
                for r in CC.connected_components(df).collect()
            }
        # min-label means cluster_id == min node of the component
        assert got == _comp_min_expect(edges), path


def test_long_chain_converges(spark):
    """A path graph stresses the iteration count (diameter = n-1, but
    min-label propagation halves distance-to-min each round via the
    label table union, so 60 nodes << cc_max_iterations rounds)."""
    edges = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    got = CC.connected_components(df)
    assert got.select("cluster_id").distinct().count() == 1


def test_assign_clusters_covers_untouched_docs(spark):
    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src_id long, dst_id long")
    got = CC.assign_clusters(docs, edges)
    rows = {r.doc_id: (r.cluster_id, r.is_representative) for r in got.collect()}
    assert rows[1] == (1, True)
    assert rows[2] == (1, False)
    assert rows[3] == (1, False)
    assert rows[0] == (0, True)  # untouched doc is its own representative
    assert got.count() == 10


def test_assign_clusters_via_labels_matches_full_graph(spark):
    """Quotient-graph CC == full-graph CC on a randomized corpus shape:
    exact-dup groups (stars to the group-min keeper) plus near edges that
    connect only keepers — the engine's invariant (fingerprints are
    computed on exact survivors)."""
    rng = random.Random(11)
    # 40 exact groups of size 1..8 over doc ids 0..N
    doc_id, labels_rows = 0, []
    keepers = []
    for _g in range(40):
        size = rng.randint(1, 8)
        members = list(range(doc_id, doc_id + size))
        doc_id += size
        keeper = min(members)
        keepers.append(keeper)
        labels_rows += [(m, keeper) for m in members]
    # near edges between random keepers (some keepers isolated)
    near = sorted(
        {tuple(sorted(rng.sample(keepers, 2))) for _ in range(30)}
    )
    labels = spark.createDataFrame(labels_rows, "doc_id long, keeper long")
    docs = spark.createDataFrame(
        [(i,) for i, _ in labels_rows], "doc_id long"
    )
    near_df = spark.createDataFrame(
        [(a, b, 1.0, "near") for a, b in near],
        "src_id long, dst_id long, score double, stage string",
    )
    exact_pairs = spark.createDataFrame(
        [(k, m, 0.0, "exact") for m, k in labels_rows if m != k],
        "src_id long, dst_id long, score double, stage string",
    )
    full = {
        r.doc_id: (r.cluster_id, r.is_representative)
        for r in CC.assign_clusters(
            docs, exact_pairs.unionByName(near_df)
        ).collect()
    }
    quotient = {
        r.doc_id: (r.cluster_id, r.is_representative)
        for r in CC.assign_clusters_via_labels(
            docs, labels, near_df
        ).collect()
    }
    assert quotient == full


def test_greedy_survivors_independent_set(spark):
    rng = random.Random(3)
    edges = sorted(
        {tuple(sorted(rng.sample(range(80), 2))) for _ in range(120)}
    )
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    res = {r.doc_id: r.removed for r in CC.greedy_survivors(df).collect()}
    # postcondition (reference invariant): survivors form an independent set
    for a, b in edges:
        assert res[a] or res[b], f"edge ({a},{b}) survived intact"
    # determinism
    res2 = {r.doc_id: r.removed for r in CC.greedy_survivors(df).collect()}
    assert res == res2


def test_greedy_survivors_mega_component_fallback(spark):
    """Components over cfg.greedy_max_component edges skip the pandas
    greedy pass and fall back to keep-first: min doc_id survives, the
    rest are removed. Small components still go through greedy."""
    from dataclasses import replace

    from image_dedup_spark.config import DEFAULT

    cfg = replace(DEFAULT, greedy_max_component=5)
    # big star: 10 edges around hub 0; small pair: (100, 101)
    rows = [(0, i) for i in range(1, 11)] + [(100, 101)]
    edges = spark.createDataFrame(rows, "src_id long, dst_id long")
    out = {r.doc_id: r.removed for r in CC.greedy_survivors(edges, cfg).collect()}
    assert out[0] is False                      # min id survives
    assert all(out[i] for i in range(1, 11))    # rest removed
    # small component went through greedy: exactly one of the pair removed
    assert out[100] != out[101]


def test_frontier_rounds_used_and_correct(spark, cc_paths):
    """30k isolated doc pairs converge at the warm start, plus one
    12-node chain whose propagation runs in rounds over a small changed
    set (broadcast into the edge table while its probed count fits
    Spark's broadcast threshold). Labels must match the keep-first rule,
    and the probes must carry the fields perfbench/run.py and bench.py
    read."""
    import pyspark.sql.functions as F

    pairs = (
        spark.range(30000)
        .select(
            (F.col("id") * 2 + 100000).alias("src_id"),
            (F.col("id") * 2 + 100001).alias("dst_id"),
        )
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src_id long, dst_id long"
    )
    probes = []
    with cc_paths["loop"]():
        out = CC.connected_components(
            pairs.unionByName(chain), metrics_out=probes
        )
    modes = [p["mode"] for p in probes]
    assert modes[0] == "warm" and set(modes) <= {"warm", "full"}, modes
    assert all("ckpt_wall" in p for p in probes if p["mode"] != "warm"), probes
    # chain collapses to one cluster labeled 0; every pair keeps its min
    got = {r.doc_id: r.cluster_id for r in out.filter("doc_id <= 12").collect()}
    assert got == {i: 0 for i in range(13)}
    assert (
        out.filter("doc_id >= 100000")
        .filter("cluster_id % 2 != 0")
        .count()
        == 0
    )
    assert probes[-1]["changed"] == 0 and probes[-1]["converged"]


def test_assign_via_labels_docs_none_matches_docs_join(spark):
    """docs=None derives the cluster table from the labels table alone;
    when labels cover exactly the docs rows (the exact.labels contract)
    the output must equal the docs-join path row for row."""
    rng = random.Random(31)
    doc_id, labels_rows, keepers = 0, [], []
    for _g in range(25):
        size = rng.randint(1, 6)
        members = list(range(doc_id, doc_id + size))
        doc_id += size
        keepers.append(min(members))
        labels_rows += [(m, min(members)) for m in members]
    near = sorted({tuple(sorted(rng.sample(keepers, 2))) for _ in range(15)})
    labels = spark.createDataFrame(labels_rows, "doc_id long, keeper long")
    docs = spark.createDataFrame([(i,) for i, _ in labels_rows], "doc_id long")
    near_df = spark.createDataFrame(
        [(a, b, 1.0, "near") for a, b in near],
        "src_id long, dst_id long, score double, stage string",
    )
    with_docs = {
        r.doc_id: (r.cluster_id, r.is_representative)
        for r in CC.assign_clusters_via_labels(docs, labels, near_df).collect()
    }
    without = {
        r.doc_id: (r.cluster_id, r.is_representative)
        for r in CC.assign_clusters_via_labels(None, labels, near_df).collect()
    }
    assert without == with_docs


def test_cc_ids_beyond_int32_stay_64bit_and_correct(spark, cc_paths):
    """Ids outside int32 (hash-derived / 10^12-scale) keep exact labels,
    and the output keeps the input id type."""
    big = 3_000_000_000  # > 2^31 - 1
    edges = [(big + 1, big + 2), (big + 2, big + 3), (5, 6), (big + 10, 7)]
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    for path, forced in cc_paths.items():
        with forced():
            out = CC.connected_components(df)
            assert dict(out.dtypes) == {"doc_id": "bigint", "cluster_id": "bigint"}, path
            assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == {
                big + 1: big + 1, big + 2: big + 1, big + 3: big + 1,
                5: 5, 6: 5, big + 10: 7, 7: 7,
            }, path


def test_cc_output_type_matches_input_even_when_narrowed(spark, cc_paths):
    """Small ids (which fit int32) still come back in the contract type,
    the input id type."""
    df = spark.createDataFrame([(1, 2), (2, 3)], "src_id long, dst_id long")
    for path, forced in cc_paths.items():
        with forced():
            out = CC.connected_components(df)
            assert dict(out.dtypes) == {"doc_id": "bigint", "cluster_id": "bigint"}, path
            assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == {
                1: 1, 2: 1, 3: 1
            }, path


def test_cc_size_estimate_grows_linearly(spark, cc_paths, tmp_path):
    """Every lineage cut keeps its origin plan's size estimate, so the
    label table's estimate carries from round to round. A round may
    multiply it by a bounded factor (the pinned edge table's estimate)
    but never square it: squaring doubles its digits every round until
    Catalyst's stats visitor stalls in BigInteger multiplication. Parquet
    input gives a real scan size (a few KB) to grow from."""
    rng = random.Random(7)
    edges = sorted(
        {tuple(sorted(rng.sample(range(200), 2))) for _ in range(150)}
    )
    path = str(tmp_path / "edges")
    spark.createDataFrame(edges, "src_id long, dst_id long").write.parquet(path)
    probes = []
    with cc_paths["loop"]():
        out = CC.connected_components(spark.read.parquet(path), metrics_out=probes)
    rounds = sum(p["mode"] == "full" for p in probes)
    assert rounds >= 5, probes  # enough rounds for squaring to show
    # py4j hands the estimate over as a decimal string; a squared one
    # exceeds Python's default int-conversion digit limit
    limit = sys.get_int_max_str_digits()
    sys.set_int_max_str_digits(0)
    try:
        size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        digits = len(str(size))
    finally:
        sys.set_int_max_str_digits(limit)
    assert digits <= 25 * (rounds + 2), (rounds, digits)
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    assert got == _comp_min_expect(edges)


# Runs in its own interpreter: `local[N,F]` (F attempts per task) is a
# master setting, fixed when a SparkContext starts.
_RETRY_CHILD = r"""
import json, os, sys
from pyspark import TaskContext
from image_dedup_spark.operators import components as CC
from image_dedup_spark.session import drop_zip_finders, get_spark

edges, marker_dir, conf = json.loads(sys.argv[1]), sys.argv[2], json.loads(sys.argv[3])
spark = get_spark(cores=4, extra_conf={"spark.master": "local[4,3]", **conf})
df = spark.createDataFrame(edges, "src_id long, dst_id long")


def flaky(batches):
    drop_zip_finders()
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        open(os.path.join(marker_dir, f"stage{ctx.stageId()}"), "w").close()
        raise RuntimeError("injected first-attempt task failure")
    yield from batches


def labels(edge_df, probes=None):
    return sorted(
        [r.doc_id, r.cluster_id]
        for r in CC.connected_components(edge_df, metrics_out=probes).collect()
    )


probes = []
print(json.dumps({
    "clean": labels(df),
    "retried": labels(df.mapInPandas(flaky, df.schema), probes),
    "first_mode": probes[0]["mode"],
}))
spark.stop()
"""


def _run_child(script: str, *args: str) -> dict:
    """Run ``script`` in a fresh interpreter (its own SparkContext) with
    the repo on PYTHONPATH; return the JSON on its last stdout line."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", script, *args],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_cc_same_labels_under_task_retry():
    """A task of the CC edge input fails on its first attempt and Spark
    retries it (local[4,3]): the labels must equal the failure-free run
    and the union-find oracle exactly. Two legs: the driver path, where
    the failing task sits under the bounded Arrow collect, and the Spark
    loop (a ``-1`` broadcast threshold shuts the driver path)."""
    rng = random.Random(41)
    edges = sorted(
        {tuple(sorted(rng.sample(range(400), 2))) for _ in range(250)}
        | {(i, i + 1) for i in range(500, 540)}
    )
    expect = sorted([n, c] for n, c in _comp_min_expect(edges).items())
    legs = {
        "local": {},
        "warm": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    }
    for first_mode, conf in legs.items():
        with tempfile.TemporaryDirectory() as marker_dir:
            out = _run_child(
                _RETRY_CHILD, json.dumps(edges), marker_dir, json.dumps(conf)
            )
            # the injected failure really fired (else the test is vacuous)
            assert os.listdir(marker_dir), first_mode
        assert out["first_mode"] == first_mode
        assert out["clean"] == expect, first_mode
        assert out["retried"] == expect, first_mode


# A checkpoint dir cannot be unset on a SparkContext, so the reliable
# path runs in its own interpreter; the local-path pipeline runs first.
_RELIABLE_CHILD = r"""
import json, os, sys
from image_dedup_spark.corpus import generate_corpus
from image_dedup_spark.operators import components as CC
from image_dedup_spark.plans.pipeline import run_pipeline
from image_dedup_spark.session import get_spark

edges, ckpt_dir = json.loads(sys.argv[1]), sys.argv[2]
spark = get_spark(cores=4)
pages, _ = generate_corpus(spark, 400, seed=5)
pages = pages.cache()


def files_under(root):
    return sum(len(names) for _, _, names in os.walk(root))


def clusters():
    res = run_pipeline(spark, pages)
    return sorted([r.doc_id, r.cluster_id] for r in res.clusters.collect())


def labels(edge_df):
    return sorted(
        [r.doc_id, r.cluster_id] for r in CC.connected_components(edge_df).collect()
    )


local = clusters()
spark.sparkContext.setCheckpointDir(ckpt_dir)
df = spark.createDataFrame(edges, "src_id long, dst_id long")
driver_labels = labels(df)
files_after_driver = files_under(ckpt_dir)
# the loop leg: the driver path shut, as the tests' cc_paths fixture does
driver_path = CC._label_on_driver
CC._label_on_driver = lambda edges, metrics_out: None
loop_labels = labels(df)
CC._label_on_driver = driver_path
files_after_cc = files_under(ckpt_dir)
reliable = clusters()
print(json.dumps({
    "driver_labels": driver_labels, "loop_labels": loop_labels,
    "local": local, "reliable": reliable,
    "files_after_driver": files_after_driver,
    "files_after_cc": files_after_cc,
    "files_after_pipeline": files_under(ckpt_dir),
}))
spark.stop()
"""


def test_reliable_checkpoint_path_matches_local():
    """With ``sc.setCheckpointDir`` set, the lineage cut is a reliable
    checkpoint: CC labels still equal union-find on both paths, and
    run_pipeline's clusters equal the local-checkpoint run's. Both the
    CC loop and the pipeline stages must really write checkpoint files;
    the driver path writes none."""
    rng = random.Random(43)
    edges = sorted(
        {tuple(sorted(rng.sample(range(300), 2))) for _ in range(200)}
        | {(i, i + 1) for i in range(400, 430)}
    )
    with tempfile.TemporaryDirectory() as ckpt_dir:
        out = _run_child(_RELIABLE_CHILD, json.dumps(edges), ckpt_dir)
    expect = sorted([n, c] for n, c in _comp_min_expect(edges).items())
    assert out["driver_labels"] == expect
    assert out["loop_labels"] == expect
    assert out["files_after_driver"] == 0
    assert out["files_after_cc"] > 0
    assert out["files_after_pipeline"] > out["files_after_cc"]
    assert out["local"] and out["reliable"] == out["local"]
