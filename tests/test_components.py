"""Connected components + greedy survivors vs pure-Python oracles
(reference greedy: samples.cpp:534-577)."""

import random

import pyspark.sql.functions as F
import pytest

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


def test_connected_components_vs_union_find(spark):
    rng = random.Random(7)
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(200), 2)))
            for _ in range(150)
        }
    )
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    got = {
        r.doc_id: r.cluster_id
        for r in CC.connected_components(df).collect()
    }
    # min-label means cluster_id == min node of the component
    oracle = _union_find_oracle(edges)
    comp_min = {}
    for n, root in oracle.items():
        comp_min.setdefault(root, []).append(n)
    expect = {
        n: min(comp_min[root]) for n, root in oracle.items()
    }
    assert got == expect


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


def test_frontier_rounds_used_and_correct(spark):
    """A graph big enough to pass the frontier gate (changed <= 1% of
    vertices, <= cc_frontier_max): 30k isolated doc pairs converge at
    the warm start, plus one 12-node chain whose propagation happens in
    cheap frontier rounds (broadcast of the changed vertices — no edge
    shuffle). Labels must match the keep-first rule and the probe
    metrics must show the frontier mode actually engaged."""
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
    out = CC.connected_components(
        pairs.unionByName(chain), metrics_out=probes
    )
    modes = [p["mode"] for p in probes]
    assert "frontier" in modes, modes
    # the probe fields perfbench/run.py reads for its components counters
    assert set(modes) <= {"warm", "full", "frontier"}, modes
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


def test_frontier_shuffle_fallback_matches_broadcast_path(spark):
    """cc_offer_bcast_max=0 forces every frontier round onto the
    shuffle-shaped fallback (offers/pointer-jump NOT broadcast); the
    labelling must be identical to the default map-side path — the two
    branches are physical variants of the same round."""
    from dataclasses import replace

    from image_dedup_spark.config import DEFAULT

    rng = random.Random(23)
    edges = sorted(
        {tuple(sorted(rng.sample(range(500), 2))) for _ in range(300)}
    )
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    probes_b, probes_s = [], []
    bcast = {
        r.doc_id: r.cluster_id
        for r in CC.connected_components(df, metrics_out=probes_b).collect()
    }
    cfg = replace(DEFAULT, cc_offer_bcast_max=0)
    shuf = {
        r.doc_id: r.cluster_id
        for r in CC.connected_components(df, cfg, metrics_out=probes_s).collect()
    }
    assert bcast == shuf
    # both runs actually exercised frontier rounds (else the test is vacuous)
    assert "frontier" in [p["mode"] for p in probes_b]
    assert "frontier" in [p["mode"] for p in probes_s]
    assert bcast == _comp_min_expect(edges)


def _comp_min_expect(edges):
    oracle = _union_find_oracle(edges)
    comp_min = {}
    for n, root in oracle.items():
        comp_min.setdefault(root, []).append(n)
    return {n: min(comp_min[root]) for n, root in oracle.items()}


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


def test_cc_ids_beyond_int32_stay_64bit_and_correct(spark):
    """Ids outside int32 (hash-derived / 10^12-scale) keep exact labels,
    and the output keeps the input id type."""
    big = 3_000_000_000  # > 2^31 - 1
    edges = [(big + 1, big + 2), (big + 2, big + 3), (5, 6), (big + 10, 7)]
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    out = CC.connected_components(df)
    assert dict(out.dtypes) == {"doc_id": "bigint", "cluster_id": "bigint"}
    assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == {
        big + 1: big + 1, big + 2: big + 1, big + 3: big + 1,
        5: 5, 6: 5, big + 10: 7, 7: 7,
    }


def test_cc_output_type_matches_input_even_when_narrowed(spark):
    """Small ids (which fit int32) still come back in the contract type,
    the input id type."""
    df = spark.createDataFrame([(1, 2), (2, 3)], "src_id long, dst_id long")
    out = CC.connected_components(df)
    assert dict(out.dtypes) == {"doc_id": "bigint", "cluster_id": "bigint"}
    assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == {
        1: 1, 2: 1, 3: 1
    }


def test_stats_reset_fails_fast_without_internal_create_dataframe(
    spark, monkeypatch
):
    """The checkpoint stats reset depends on a private JVM method; if a
    Spark build drops it, the CC loop must refuse with an error naming
    the stats-compounding bug rather than fail obscurely (or hang)."""
    df = spark.createDataFrame([(1, 2)], "src_id long, dst_id long")
    real = spark._jsparkSession

    class Drifted:
        # a py4j call to a method the JVM does not have — the real
        # failure mode of API drift ("Method ... does not exist")
        internalCreateDataFrame = real.internalCreateDataFrameRemoved

        def __getattr__(self, name):
            return getattr(real, name)

    monkeypatch.setattr(spark, "_jsparkSession", Drifted())
    with pytest.raises(RuntimeError, match="internalCreateDataFrame.*compound"):
        CC.connected_components(df).collect()
