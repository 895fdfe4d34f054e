"""Property tests: connected_components vs a pure union-find oracle.

The CC loop has the engine's trickiest control flow (warm start,
executor-side change counts, changed-source offers, per-round pointer
jumping) — fixed-shape tests pin the known regimes, hypothesis sweeps
the graph space for shapes nobody thought to pin: duplicate edges,
self-loops, long chains, components that merge late. Every example is
checked under BOTH a broadcast-always and a broadcast-never Spark
broadcast threshold, so the two physical shapes of the changed-set join
(and of the assign join) can never diverge semantically without a
counterexample landing here. Through the ``cc_paths`` fixture the
examples also run on the driver path, where a graph under the broadcast
threshold is labelled in numpy; that labeller is also swept on its own
over the full int64 id range and null endpoints.
"""

import random
from contextlib import contextmanager, nullcontext

import pytest
import pyspark.sql.functions as F

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from image_dedup_spark.config import DEFAULT
from image_dedup_spark.operators import components as CC

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
# Every forced broadcast taken ("1g") vs none ("-1": every changed set
# is shuffle-joined with the edge table, the assign join shuffles too).
BCAST_ALWAYS, BCAST_NEVER = "1g", "-1"


@contextmanager
def broadcast_threshold(spark, value):
    """Run the block under ``spark.sql.autoBroadcastJoinThreshold`` =
    ``value``, restoring the previous value after: the session is
    shared by the whole test run."""
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _oracle(edges):
    """Union-find; cluster id = min vertex id in the component."""
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
    out = {}
    for v in parent:
        out[v] = find(v)
    return sorted(out.items())


def _run(spark, edges, threshold=None, metrics_out=None):
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    with nullcontext() if threshold is None else broadcast_threshold(spark, threshold):
        got = CC.connected_components(df, metrics_out=metrics_out).collect()
    # the null vertex (at most one row) sorts last
    return sorted(((r.doc_id, r.cluster_id) for r in got), key=lambda t: (t[0] is None, t))


def _run_on(spark, edges, cc_paths, path, threshold=None):
    """:func:`_run` on one CC path, checking the path really ran: the
    driver path leaves one "local" probe, the loop starts "warm"."""
    probes = []
    with cc_paths[path]():
        got = _run(spark, edges, threshold, probes)
    assert probes[0]["mode"] == ("local" if path == "driver" else "warm"), probes
    return got


edge_lists = st.lists(
    st.tuples(st.integers(0, 29), st.integers(0, 29)),
    min_size=1,
    max_size=60,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(edges=edge_lists)
def test_cc_matches_union_find_on_random_graphs(spark, cc_paths, edges):
    expect = _oracle(edges)
    assert _run_on(spark, edges, cc_paths, "driver") == expect
    assert _run_on(spark, edges, cc_paths, "loop", BCAST_ALWAYS) == expect
    assert _run_on(spark, edges, cc_paths, "loop", BCAST_NEVER) == expect


def test_cc_long_chain_converges_in_log_rounds(spark, cc_paths):
    """A path graph is min-label propagation's worst case: a neighbor
    hop moves the min label one edge per round, so only the per-round
    pointer jump keeps the loop at O(log n) rounds. The 64-vertex path
    must converge in at most 8 loop rounds under both caps."""
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    expect = [(v, 0) for v in range(n)]
    for threshold in (BCAST_ALWAYS, BCAST_NEVER):
        probes = []
        with cc_paths["loop"]():
            assert _run(spark, edges, threshold, probes) == expect
        rounds = [p for p in probes if p["mode"] != "warm"]
        assert len(rounds) <= 8, [p["changed"] for p in probes]
        assert probes[-1]["converged"]


def test_cc_self_loops_and_duplicates_only(spark, cc_paths):
    edges = [(5, 5), (5, 5), (7, 3), (3, 7), (7, 3)]
    expect = [(3, 3), (5, 5), (7, 3)]
    for path in cc_paths:
        assert _run_on(spark, edges, cc_paths, path) == expect


def test_cc_late_merge_of_two_big_components(spark, cc_paths):
    """Two cliques converge instantly at the warm start; one bridge
    edge forces cross-component propagation afterwards — the shape
    where a premature 'nothing changed locally' exit would bite."""
    a = [(i, j) for i in range(0, 6) for j in range(i + 1, 6)]
    b = [(i, j) for i in range(10, 16) for j in range(i + 1, 16)]
    edges = a + b + [(5, 10)]
    expect = [(v, 0) for v in list(range(6)) + list(range(10, 16))]
    assert _run_on(spark, edges, cc_paths, "driver") == expect
    assert _run_on(spark, edges, cc_paths, "loop", BCAST_ALWAYS) == expect
    assert _run_on(spark, edges, cc_paths, "loop", BCAST_NEVER) == expect


def test_cc_null_endpoints_same_rows_on_both_paths(spark, cc_paths):
    """An edge with a null endpoint gives the same rows on both paths:
    its valid end is a vertex, no label crosses the null, and one null
    vertex row carries the min label among its neighbours."""
    edges = [(1, None), (None, 7), (7, 2), (8, None), (9, 10), (10, 3), (None, None)]
    expect = [(1, 1), (2, 2), (3, 3), (7, 2), (8, 8), (9, 3), (10, 3), (None, 1)]
    for path in cc_paths:
        assert _run_on(spark, edges, cc_paths, path) == expect
    # only null-null edges: the null row has no label
    for path in cc_paths:
        assert _run_on(spark, [(None, None)], cc_paths, path) == [(None, None)]


def test_byte_size_reads_spark_size_strings():
    assert CC._byte_size("67108864") == 64 * 1024**2
    assert CC._byte_size("10485760b") == 10 * 1024**2
    assert CC._byte_size("64m") == CC._byte_size("64MB") == 64 * 1024**2
    assert CC._byte_size(" 1g ") == 1024**3
    assert CC._byte_size("-1") == -1
    with pytest.raises(ValueError):
        CC._byte_size("1.5g")


def test_probe_moved_count_matches_labels(spark, cc_paths):
    """The last probe's moved count, which gates the assign broadcast
    without a count job, equals the labels' cluster_id != doc_id rows."""
    rng = random.Random(7)
    for n_edges in (1, 40, 300):
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(n_edges)]
        df = spark.createDataFrame(edges, "src_id long, dst_id long")
        expect = sum(v != c for v, c in _oracle(edges))
        for path, forced in cc_paths.items():
            probes = []
            with forced():
                comp, n_moved = CC._label_loop(df, DEFAULT, probes)
            assert n_moved == probes[-1]["moved"] == expect, path
            assert comp.filter(F.col("cluster_id") != F.col("doc_id")).count() == n_moved


def _oracle_with_nulls(edges):
    """:func:`_oracle` over the edges with two valid ends, plus every
    valid end of a half-null edge as a vertex, plus the loop's null
    vertex: present when any end is null, labelled with the min label
    of its valid neighbours (None when it has none)."""
    whole = [(a, b) for a, b in edges if a is not None and b is not None]
    label = dict(_oracle(whole))
    for e in edges:
        for v in e:
            if v is not None:
                label.setdefault(v, v)
    if any(None in e for e in edges):
        nbrs = [label[a if b is None else b] for a, b in edges if (a is None) != (b is None)]
        label[None] = min(nbrs) if nbrs else None
    return label


INT64 = st.integers(-(2**63), 2**63 - 1)
label_edges = st.lists(
    st.tuples(*[st.one_of(INT64, st.sampled_from([-(2**63), 2**63 - 1, -1, 0, 1, 10**12]),
                          st.integers(-5, 5), st.none())] * 2),
    max_size=40,
)


@settings(max_examples=300, deadline=None)
@given(edges=label_edges)
def test_label_arrays_matches_union_find(edges):
    """The driver path's numpy labeller equals union-find over the full
    int64 id range (both extremes, negatives), duplicate edges,
    self-loops, the empty edge set and null endpoints. Ids are drawn
    from small pools as well, so components merge."""
    a = pa.chunked_array([pa.array([e[0] for e in edges], pa.int64())])
    b = pa.chunked_array([pa.array([e[1] for e in edges], pa.int64())])
    doc, cluster = CC._label_arrays(a, b)
    assert doc.type == cluster.type == pa.int64()
    got = dict(zip(doc.to_pylist(), cluster.to_pylist()))
    assert len(got) == len(doc)
    assert got == _oracle_with_nulls(edges)


def test_assign_via_labels_same_under_broadcast_and_shuffle(spark):
    """assign_clusters_via_labels gives the union-find clusters of the
    full graph (exact keeper stars + near edges between keepers) with
    the moved-set join broadcast (the default threshold) and shuffled
    (threshold -1)."""
    rng = random.Random(13)
    doc_id, labels_rows, keepers, exact = 0, [], [], []
    for _g in range(40):
        members = list(range(doc_id, doc_id + rng.randint(1, 5)))
        doc_id += len(members)
        keepers.append(members[0])
        labels_rows += [(m, members[0]) for m in members]
        exact += [(members[0], m) for m in members[1:]]
    near = sorted({tuple(sorted(rng.sample(keepers, 2))) for _ in range(30)})
    labels = spark.createDataFrame(labels_rows, "doc_id long, keeper long")
    near_df = spark.createDataFrame(near, "src_id long, dst_id long")
    expect = dict((v, v) for v, _ in labels_rows)
    expect.update(_oracle(exact + near))

    outs = {}
    for threshold in (spark.conf.get(THRESHOLD), BCAST_NEVER):
        with broadcast_threshold(spark, threshold):
            out = CC.assign_clusters_via_labels(None, labels, near_df)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert ("BroadcastHashJoin" in plan) == (threshold != BCAST_NEVER), plan
            outs[threshold] = {
                r.doc_id: (r.cluster_id, r.is_representative) for r in out.collect()
            }
    broadcast, shuffled = outs.values()
    assert broadcast == shuffled
    assert broadcast == {d: (c, d == c) for d, c in expect.items()}
