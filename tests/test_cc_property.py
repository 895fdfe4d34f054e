"""Property tests: connected_components vs a pure union-find oracle.

The CC loop has the engine's trickiest control flow (warm start,
executor-side change counts, changed-source offers, per-round pointer
jumping) — fixed-shape tests pin the known regimes, hypothesis sweeps
the graph space for shapes nobody thought to pin: duplicate edges,
self-loops, long chains, components that merge late. Every example is
checked under BOTH a broadcast-always and a broadcast-never cap for the
changed set, so the two physical shapes of the changed-set join can
never diverge semantically without a counterexample landing here.
"""

import pytest
from dataclasses import replace

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from image_dedup_spark.config import DEFAULT
from image_dedup_spark.operators import components as CC

# The changed set broadcast into the edge table every round vs never
# (every round shuffle-joins it with the edge table).
BCAST_ALWAYS = replace(DEFAULT, cc_frontier_max=10**9)
BCAST_NEVER = replace(DEFAULT, cc_frontier_max=0)


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


def _run(spark, edges, cfg, metrics_out=None):
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    got = CC.connected_components(df, cfg=cfg, metrics_out=metrics_out).collect()
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
    for cfg in (BCAST_ALWAYS, BCAST_NEVER):
        probes = []
        assert _run(spark, edges, cfg, probes) == expect
        rounds = [p for p in probes if p["mode"] != "warm"]
        assert len(rounds) <= 8, [p["changed"] for p in probes]
        assert probes[-1]["converged"]


def test_cc_self_loops_and_duplicates_only(spark):
    edges = [(5, 5), (5, 5), (7, 3), (3, 7), (7, 3)]
    expect = [(3, 3), (5, 5), (7, 3)]
    assert _run(spark, edges, DEFAULT) == expect


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
