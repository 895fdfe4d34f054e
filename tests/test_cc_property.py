"""Property tests: connected_components vs a pure union-find oracle.

The CC loop has the engine's trickiest control flow (warm start,
executor-side change counts, changed-source offers, per-round pointer
jumping) — fixed-shape tests pin the known regimes, hypothesis sweeps
the graph space for shapes nobody thought to pin: duplicate edges,
self-loops, long chains, components that merge late. Every example is
checked under BOTH a broadcast-always and a broadcast-never Spark
broadcast threshold, so the two physical shapes of the changed-set join
(and of the assign join) can never diverge semantically without a
counterexample landing here.
"""

import random
from contextlib import contextmanager, nullcontext

import pytest
import pyspark.sql.functions as F

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
    return sorted((r.doc_id, r.cluster_id) for r in got)


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
def test_cc_matches_union_find_on_random_graphs(spark, edges):
    expect = _oracle(edges)
    assert _run(spark, edges, BCAST_ALWAYS) == expect
    assert _run(spark, edges, BCAST_NEVER) == expect


def test_cc_long_chain_converges_in_log_rounds(spark):
    """A path graph is min-label propagation's worst case: a neighbor
    hop moves the min label one edge per round, so only the per-round
    pointer jump keeps the loop at O(log n) rounds. The 64-vertex path
    must converge in at most 8 loop rounds under both caps."""
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    expect = [(v, 0) for v in range(n)]
    for threshold in (BCAST_ALWAYS, BCAST_NEVER):
        probes = []
        assert _run(spark, edges, threshold, probes) == expect
        rounds = [p for p in probes if p["mode"] != "warm"]
        assert len(rounds) <= 8, [p["changed"] for p in probes]
        assert probes[-1]["converged"]


def test_cc_self_loops_and_duplicates_only(spark):
    edges = [(5, 5), (5, 5), (7, 3), (3, 7), (7, 3)]
    expect = [(3, 3), (5, 5), (7, 3)]
    assert _run(spark, edges) == expect


def test_cc_late_merge_of_two_big_components(spark):
    """Two cliques converge instantly at the warm start; one bridge
    edge forces cross-component propagation afterwards — the shape
    where a premature 'nothing changed locally' exit would bite."""
    a = [(i, j) for i in range(0, 6) for j in range(i + 1, 6)]
    b = [(i, j) for i in range(10, 16) for j in range(i + 1, 16)]
    edges = a + b + [(5, 10)]
    expect = [(v, 0) for v in list(range(6)) + list(range(10, 16))]
    assert _run(spark, edges, BCAST_ALWAYS) == expect
    assert _run(spark, edges, BCAST_NEVER) == expect


def test_byte_size_reads_spark_size_strings():
    assert CC._byte_size("67108864") == 64 * 1024**2
    assert CC._byte_size("10485760b") == 10 * 1024**2
    assert CC._byte_size("64m") == CC._byte_size("64MB") == 64 * 1024**2
    assert CC._byte_size(" 1g ") == 1024**3
    assert CC._byte_size("-1") == -1
    with pytest.raises(ValueError):
        CC._byte_size("1.5g")


def test_probe_moved_count_matches_labels(spark):
    """The last probe's moved count, which gates the assign broadcast
    without a count job, equals the labels' cluster_id != doc_id rows."""
    rng = random.Random(7)
    for n_edges in (1, 40, 300):
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(n_edges)]
        df = spark.createDataFrame(edges, "src_id long, dst_id long")
        probes = []
        comp, n_moved = CC._label_loop(df, DEFAULT, probes)
        expect = sum(v != c for v, c in _oracle(edges))
        assert n_moved == probes[-1]["moved"] == expect
        assert comp.filter(F.col("cluster_id") != F.col("doc_id")).count() == n_moved


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
