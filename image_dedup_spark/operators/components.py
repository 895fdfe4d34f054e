"""Connected components over the duplicate-pair graph — the Spark
analogue of the reference's pair-merge step.

The reference reduces the pair graph with a single-threaded greedy
max-degree vertex removal (/root/reference/samples.cpp:534-577,
remove_dups_from_pairs) whose tie-breaks follow unordered_map iteration
order (nondeterministic). Here the canonical operator is deterministic
min-label propagation to a fixpoint (the iterative-hash-join analogue of
union-find): every doc gets ``cluster_id`` = min doc_id reachable in its
component, the representative (survivor) is that min doc — mirroring
keep-first. A reference-compatible greedy survivor mode with
deterministic tie-breaks is provided for parity checks.

Scale notes: a FULL iteration is one shuffle join and pointer-jumping
makes the round count O(log n); once a round changes fewer than
``cfg.cc_frontier_max`` labels the loop switches to FRONTIER rounds
that broadcast only the changed vertices into the pinned edge table —
no edge shuffle at all (see :func:`connected_components`). Lineage is
truncated every round and the convergence probe (count of changed
labels, computed inside the round's own aggregation) rides the same
job. No driver-side graph materialization ever happens beyond the
bounded frontier broadcast. When the SparkContext
has a checkpoint dir set (``sc.setCheckpointDir``), reliable
``checkpoint()`` is used instead of ``localCheckpoint`` — on a real
cluster localCheckpoint blocks are lost with an executor.
"""

from __future__ import annotations

import time

import pandas as pd
from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from image_dedup_spark.config import DEFAULT, DedupConfig

# Frontier rounds move labels one edge-hop (plus a changed-rows-only
# pointer jump) per round — O(diameter) on chain-shaped graphs, where
# real dup graphs (stars + cliques) finish in 1-2. Bound the worst case:
# after this many consecutive frontier rounds a FULL round (global
# pointer jump, O(log n) doubling) is forced, so pathological chains
# converge in O(log n) full rounds interleaved with cheap frontier
# rounds instead of O(diameter) frontier rounds.
_FRONTIER_STREAK_MAX = 3


def _truncate_lineage(df: DataFrame, lazy_ok: bool = False) -> DataFrame:
    """Cut `df`'s lineage and give the result fresh (default) statistics.

    Reliable ``checkpoint()`` when the context has a checkpoint dir (fault
    tolerant on a cluster: localCheckpoint blocks are lost with an
    executor), ``localCheckpoint`` otherwise. ``lazy_ok``: local-mode
    callers that immediately run an aggregation over the result pass
    True — the lazy localCheckpoint then materializes its blocks as a side
    effect of that SAME job, one driver barrier instead of two. The
    reliable path stays eager: an RDD marked for reliable checkpointing is
    recomputed by the checkpoint writer after the first action, so
    laziness would double-compute there.

    Stats reset: Dataset.checkpoint/localCheckpoint keep the origin plan's
    sizeInBytes estimate in the truncated LogicalRDD. In a loop whose
    round plan joins the previous checkpoint several times those estimates
    COMPOUND round over round (join stats are the product of child sizes),
    growing the BigInt ~5x in bit length per round, until Catalyst's stats
    visitor spends minutes in BigInteger.multiplyToomCook3 on a 200-vertex
    graph. Re-wrapping the SAME internal RDD (zero-copy, no job) resets
    the stat to the constant-size default, which is decision-equivalent:
    every small-side broadcast in the loop is either explicit
    (``F.broadcast``) or made by AQE from runtime shuffle sizes."""
    spark = df.sparkSession
    if spark.sparkContext.getCheckpointDir() is not None:
        df = df.checkpoint(eager=True)
    else:
        df = df.localCheckpoint(eager=not lazy_ok)
    jdf = df._jdf
    rdd, schema = jdf.queryExecution().toRdd(), jdf.schema()
    try:
        new_jdf = spark._jsparkSession.internalCreateDataFrame(rdd, schema, False)
    except Py4JJavaError:
        raise
    except (AttributeError, Py4JError) as exc:
        raise RuntimeError(
            "SparkSession.internalCreateDataFrame is missing from this Spark "
            "build; connected_components needs it to reset checkpoint "
            "statistics, without which join-size estimates compound every "
            "round and the label loop stalls in BigInteger multiplication"
        ) from exc
    return DataFrame(new_jdf, spark)


def connected_components(
    edges: DataFrame,
    cfg: DedupConfig = DEFAULT,
    metrics_out: list | None = None,
) -> DataFrame:
    """(doc_id, cluster_id) for every vertex appearing in `edges`
    (``src_id``/``dst_id`` columns). cluster_id = min doc_id in the
    component; both columns keep the input id type.

    Duplicate edges are not removed: min-label propagation is idempotent
    to them (a repeated (a,b) only re-offers the same min candidate to
    the same groupBy), and the engine's pair stages emit distinct pairs.

    Round structure: every round carries a
    ``changed`` flag computed inside the round's own aggregation
    (executor-side change detection — no cross-round sum diffing), and
    once a round changes <= ``cfg.cc_frontier_max`` labels the loop
    switches to FRONTIER rounds: labels can only improve via an edge
    incident to a vertex whose label changed last round (an unchanged
    neighbor's label was already folded in whenever it last changed —
    labels are monotone non-increasing), so a frontier round joins the
    pinned edge table against a BROADCAST of just the changed vertices
    instead of re-shuffling all edges. Convergence = changed == 0,
    which is exact: every edge's endpoints are re-tested whenever
    either end changes, so an all-quiet round means every edge has
    equal labels at both ends — uniform per component. Real dup graphs
    (stars + small cliques after the warm start) hit the frontier
    regime after one full round, turning the old confirming shuffle
    round into a map-side pass.

    ``metrics_out``: optional list that receives one dict per probe
    barrier {"iteration", "seconds", "round_wall", "label_sum",
    "changed", "converged", "mode"}, plus "ckpt_wall" on full and
    frontier rounds — the bench uses it to separate real propagation
    work from barrier latency when comparing runs."""
    # Pin the symmetrized edge table: every probe is its own Spark job,
    # and an unpinned `e` would replay the union shuffle each round
    # (shuffle reuse does not cross job boundaries). Lazy in local mode:
    # the warm-start probe job below materializes e's blocks as a side
    # effect, so edge pinning + label init + first probe are ONE job
    # submission instead of three (the ~9s/stage fixed floor measured in
    # BENCH/ANALYSIS_r2.md was mostly these serial barriers).
    e = _truncate_lineage(
        edges.select(F.col("src_id").alias("a"), F.col("dst_id").alias("b"))
        .unionByName(
            edges.select(F.col("dst_id").alias("a"), F.col("src_id").alias("b"))
        ),
        lazy_ok=True,
    )
    # Warm start: label(v) = min(v, min neighbor) — the result round 1
    # would produce, folded into the same shuffle the old doc_id-distinct
    # init already paid. Dup-pair graphs are shallow (exact-dup stars,
    # small near-dup clumps), so most vertices are already converged
    # after this; `changed` vs the implicit self-label init feeds the
    # frontier switch (stars/cliques go straight to one cheap frontier
    # round that confirms quiescence).
    labels = _truncate_lineage(
        e.groupBy(F.col("a").alias("doc_id"))
        .agg(F.min("b").alias("min_nbr"))
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.col("min_nbr")).alias("cluster_id"),
            (F.col("min_nbr") < F.col("doc_id")).alias("changed"),
        ),
        lazy_ok=True,
    )

    wall_anchor = [time.monotonic()]

    def probe(lab: DataFrame, it: int, mode: str) -> tuple[int, int]:
        """One job: materializes any pending lazy checkpoints in lab's
        plan AND counts the round's changed labels (the convergence
        test) plus total vertices (the frontier-fraction gate). The
        label sum (decimal(38,0), immune to 64-bit wrap on hash-derived
        ids) is kept in the metrics as a cross-run fingerprint of the
        labelling itself."""
        t0 = time.monotonic()
        row = lab.agg(
            F.sum(F.col("changed").cast("long")),
            F.count(F.lit(1)),
            F.sum(F.col("cluster_id").cast("decimal(38,0)")),
        ).first()
        n_changed = int(row[0] or 0)
        if metrics_out is not None:
            metrics_out.append(
                {
                    "iteration": it,
                    "seconds": round(time.monotonic() - t0, 3),
                    # wall since the previous probe entry: captures the
                    # round's UNTIMED eager work (offers materialization,
                    # broadcast-gate counts) the agg timer alone misses
                    "round_wall": round(time.monotonic() - wall_anchor[0], 3),
                    "label_sum": str(row[2]),
                    "changed": n_changed,
                    "converged": n_changed == 0,
                    "mode": mode,
                }
            )
        wall_anchor[0] = time.monotonic()
        return n_changed, int(row[1] or 0)

    n_changed, n_vertices = probe(labels, -1, "warm")
    streak = 0
    for it in range(cfg.cc_max_iterations):
        if n_changed == 0:
            break
        base = labels.select("doc_id", "cluster_id")
        # Frontier rounds pay off when the changed set is BOTH
        # broadcast-safe (<= cc_frontier_max rows) and a minority of the
        # graph (<= cc_frontier_frac_pct of vertices): a mid-convergence
        # graph with a fat frontier propagates faster through a full
        # round's global pointer jump than through one-hop frontier
        # offers.
        frontier_ok = (
            n_changed <= cfg.cc_frontier_max
            and n_changed * 100 <= n_vertices * cfg.cc_frontier_frac_pct
        )
        if frontier_ok and streak < _FRONTIER_STREAK_MAX:
            # ---- frontier round: no edge shuffle --------------------
            # Offers come only from last round's changed vertices; the
            # frontier is bounded by cc_frontier_max, so broadcasting it
            # into the pinned edge table is a map-side filter. The tiny
            # offer table is materialized eagerly so the (up to three)
            # label-scan consumers below never replay the edge scan.
            fr = labels.filter("changed").select(
                F.col("doc_id").alias("b"), F.col("cluster_id").alias("offer")
            )
            offers = (
                e.join(F.broadcast(fr), "b")
                .groupBy(F.col("a").alias("doc_id"))
                .agg(F.min("offer").alias("offer"))
            )
            offers = _truncate_lineage(offers)
            # Pinned and (usually) tiny: counting it is one fast job over
            # cached blocks, and the count decides whether the REST of
            # the round can go fully map-side. The frontier cap bounds
            # the changed set but not its adjacency (a changed star
            # center offers to every leaf), so the broadcast decision
            # needs the materialized size, not an a-priori bound.
            bcast_ok = offers.count() <= cfg.cc_offer_bcast_max
            if bcast_ok:
                offers = F.broadcast(offers)
            merged = base.join(offers, "doc_id", "left").select(
                "doc_id",
                F.col("cluster_id").alias("old"),
                F.least("cluster_id", "offer").alias("cluster_id"),
            )
            # pointer-jump ONLY the rows that just changed (label :=
            # label(label)); unchanged rows whose label's label improved
            # are reached through later frontier offers instead — any
            # subset of jumps preserves correctness, jumps only
            # accelerate (O(log n) on chains).
            ch = merged.filter(F.col("cluster_id") < F.col("old")).select(
                "doc_id", "cluster_id"
            )
            if bcast_ok:
                # |ch| <= |offers| (only offered-to rows can change), so
                # the jump's lookup table can be RESTRICTED to the rows
                # ch actually targets — a broadcast semi-join over the
                # (map-side) merged scan — and the whole round touches
                # no exchange except offers' own small groupBy: `base`
                # is scanned from pinned blocks, never shuffled.
                targets = ch.select(F.col("cluster_id").alias("t_id")).distinct()
                lk = merged.join(
                    F.broadcast(targets),
                    merged.doc_id == F.col("t_id"),
                    "left_semi",
                ).select(
                    F.col("doc_id").alias("p_id"),
                    F.col("cluster_id").alias("p_label"),
                )
                jumped = ch.join(
                    F.broadcast(lk), ch.cluster_id == F.col("p_id"), "left"
                ).select(
                    F.col("doc_id").alias("j_id"),
                    F.coalesce("p_label", "cluster_id").alias("j_label"),
                )
                jumped = F.broadcast(jumped)
            else:
                lk = merged.select(
                    F.col("doc_id").alias("p_id"),
                    F.col("cluster_id").alias("p_label"),
                )
                jumped = ch.join(lk, ch.cluster_id == lk.p_id, "left").select(
                    F.col("doc_id").alias("j_id"),
                    F.coalesce("p_label", "cluster_id").alias("j_label"),
                )
            labels = merged.join(
                jumped, merged.doc_id == F.col("j_id"), "left"
            ).select(
                "doc_id",
                F.coalesce("j_label", "cluster_id").alias("cluster_id"),
                (F.coalesce("j_label", "cluster_id") < F.col("old")).alias(
                    "changed"
                ),
            )
            mode = "frontier"
            streak += 1
        else:
            # ---- full round: offer neighbor labels -------------------
            # Offers only need to come from vertices whose label CHANGED
            # last round — the same monotonicity argument as frontier
            # rounds (an unchanged neighbor's label was folded into its
            # neighbors whenever it last changed), applied to the full
            # shuffle shape: the e-join's probe side shrinks to the
            # changed subset (48% of vertices after a typical warm
            # start, and falling every round) while the groupBy still
            # carries every vertex's self row, so the fixpoint test
            # stays exact.
            nbr = e.join(
                labels.filter("changed").select("doc_id", "cluster_id"),
                e.b == F.col("doc_id"),
            ).select(
                F.col("a").alias("doc_id"),
                "cluster_id",
                F.lit(False).alias("is_self"),
            )
            m = (
                base.withColumn("is_self", F.lit(True))
                .unionByName(nbr)
                .groupBy("doc_id")
                .agg(
                    F.min("cluster_id").alias("cluster_id"),
                    # exactly one self row per doc: its label is the
                    # round's starting label, so `changed` needs no
                    # second join against the previous label table.
                    F.min(
                        F.when(F.col("is_self"), F.col("cluster_id"))
                    ).alias("old"),
                )
            )
            # pointer-jumping shortcut: label := label(label). A neighbor
            # hop alone moves the frontier one edge per round (O(diameter)
            # on chains); composing it with this doubling step converges
            # in O(log n) rounds — the large-star/small-star idea.
            parents = m.select(
                F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_label")
            )
            labels = m.join(parents, m.cluster_id == parents.p_id, "left").select(
                "doc_id",
                F.coalesce("p_label", "cluster_id").alias("cluster_id"),
                (F.coalesce("p_label", "cluster_id") < F.col("old")).alias(
                    "changed"
                ),
            )
            mode = "full"
            streak = 0
        # Lazy checkpoint + probe = ONE job per barrier: the probe's
        # aggregation computes the round's labels, persisting them as
        # the checkpoint blocks the next round reads.
        t_ckpt = time.monotonic()
        labels = _truncate_lineage(labels, lazy_ok=True)
        ckpt_wall = round(time.monotonic() - t_ckpt, 3)
        n_changed, n_vertices = probe(labels, it, mode)
        if metrics_out is not None:
            metrics_out[-1]["ckpt_wall"] = ckpt_wall
    return labels.select("doc_id", "cluster_id")


def _moved(comp: DataFrame, cfg: DedupConfig) -> DataFrame:
    """The rows of a :func:`connected_components` table whose cluster_id
    differs from doc_id — the only rows an assign join needs, since a
    vertex that IS its component min (or a doc outside the graph)
    coalesces to its own id either way.

    The subset is counted (comp is pinned by the CC loop, so the count is
    a cheap scan) and broadcast when it has at most
    ``cfg.assign_bcast_max`` rows, keeping the corpus-sized probe side
    map-side. Past the cap the join degrades to a shuffle join instead
    of failing on an oversized build side."""
    moved = comp.filter(F.col("cluster_id") != F.col("doc_id"))
    if moved.count() <= cfg.assign_bcast_max:
        moved = F.broadcast(moved)
    return moved


def assign_clusters(
    docs: DataFrame, edges: DataFrame, cfg: DedupConfig = DEFAULT,
    id_col: str = "doc_id",
    metrics_out: list | None = None,
) -> DataFrame:
    """Every doc gets a cluster_id (its own id when untouched by any edge)
    and is_representative (deterministic min-doc_id rule). Docs join
    only the moved component rows (:func:`_moved`)."""
    comp = connected_components(edges, cfg, metrics_out=metrics_out)
    moved = _moved(comp, cfg).withColumnRenamed("doc_id", id_col)
    return (
        docs.join(moved, id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .withColumn("is_representative", F.col(id_col) == F.col("cluster_id"))
    )


def assign_clusters_via_labels(
    docs: DataFrame | None,
    labels: DataFrame,
    near_edges: DataFrame,
    cfg: DedupConfig = DEFAULT,
    id_col: str = "doc_id",
    metrics_out: list | None = None,
) -> DataFrame:
    """:func:`assign_clusters` on the exact-dup QUOTIENT graph — identical
    output, but label propagation never touches exact-duplicate members.

    ``labels`` is an :func:`exact.labels` table (one row per doc,
    ``keeper`` = min doc_id of its exact-duplicate group). ``near_edges``
    must connect ONLY keepers — true by construction for every near
    family in the engine, because fingerprints / CDC chunks are computed
    on exact SURVIVORS (the reference's own stage order,
    image_deduper.cpp:293-359: md5 dedup precedes hashing).

    Why the contraction is exact: an edge (u, v) of the full pair graph
    ``exact_pairs ∪ near_edges`` either lies inside an exact group (u or
    v is the group's keeper — pairs_from_labels emits keeper→dup stars)
    or connects two keepers. Contracting each group to its keeper
    therefore preserves components, and since a keeper IS the minimum
    doc_id of its group, the min over a contracted component equals the
    min over the full component — so ``cluster_id`` (= component min)
    is unchanged for every doc.

    Why it scales: connected_components runs on the near graph alone
    (vertices = keepers with at least one verified near edge), typically
    orders of magnitude smaller than the corpus; the full corpus pays
    ONE join against that small component table (broadcast when it
    fits, :func:`_moved`) instead of riding every propagation round.
    Measured at 1M docs / pinned 8 cores: the CC stage's label loop
    drops from 22.7s (5 probe barriers over 1M-vertex label tables) to
    the near-graph loop over ~100k vertices (BENCH/ANALYSIS_r4.md §8).

    ``docs=None``: when the caller needs no extra doc columns and the
    labels table was built over the SAME rows (always true for
    exact.labels on the input corpus — one row per doc), the result is
    derived from ``labels`` directly and the corpus-sized
    docs-join-back (a full sort-merge join that only re-discovers rows
    the labels table already enumerates) is skipped entirely."""
    comp = connected_components(near_edges, cfg, metrics_out=metrics_out)
    # Only keepers whose component min DIFFERS from themselves matter,
    # broadcast when they fit so the corpus-sized labels table is never
    # shuffled on the join key — the assign step becomes one map-side
    # pass (this join was the worst-scaling piece of the CC stage: a
    # 5M x ~3M shuffle join at bench scale).
    comp_k = _moved(comp, cfg).select(
        F.col("doc_id").alias("keeper"), F.col("cluster_id").alias("_comp_min")
    )
    lab = (
        labels.select(F.col(id_col), "keeper")
        .join(comp_k, "keeper", "left")
        .select(
            F.col(id_col),
            F.coalesce("_comp_min", "keeper").alias("_quotient_cluster"),
        )
    )
    if docs is None:
        return lab.select(
            F.col(id_col),
            F.col("_quotient_cluster").alias("cluster_id"),
        ).withColumn("is_representative", F.col(id_col) == F.col("cluster_id"))
    return (
        docs.join(lab, id_col, "left")
        .withColumn(
            "cluster_id", F.coalesce("_quotient_cluster", F.col(id_col))
        )
        .drop("_quotient_cluster")
        .withColumn("is_representative", F.col(id_col) == F.col("cluster_id"))
    )


_GREEDY_SCHEMA = "doc_id long, removed boolean"


def _greedy_remove(pdf: pd.DataFrame) -> pd.DataFrame:
    """Reference-compatible greedy max-degree removal within one component
    (/root/reference/samples.cpp:552-574) with DETERMINISTIC tie-break:
    highest remaining degree, then smallest doc_id (the reference's tie
    order is unordered_map iteration order — unreproducible, SURVEY §7)."""
    adj: dict[int, set[int]] = {}
    for s, d in zip(pdf["src_id"], pdf["dst_id"]):
        adj.setdefault(int(s), set()).add(int(d))
        adj.setdefault(int(d), set()).add(int(s))
    removed = []
    while True:
        best, best_deg = None, 0
        for node in sorted(adj):
            deg = len(adj[node])
            if deg > best_deg:
                best, best_deg = node, deg
        if best is None or best_deg == 0:
            break
        for nbr in adj.pop(best):
            adj[nbr].discard(best)
        removed.append(best)
    rows = [(n, True) for n in removed] + [(n, False) for n in adj]
    return pd.DataFrame(rows, columns=["doc_id", "removed"])


def greedy_survivors(
    edges: DataFrame, cfg: DedupConfig = DEFAULT
) -> DataFrame:
    """(doc_id, removed) via per-component greedy max-degree removal.
    Components are small after near-dup detection, so grouped-map pandas
    execution is safe (applyInPandas per cluster_id); survivors form an
    independent set — no two survivors are duplicates of each other,
    exactly the reference's postcondition.

    Mega-component guard: a pathological component (boilerplate star
    chains) would put its whole edge list in one pandas group — one
    task's memory. Components with more than ``cfg.greedy_max_component``
    edges skip the greedy pass and fall back to the keep-first rule
    (min doc_id survives, everything else removed): deterministic, one
    aggregation, and the same independent-set postcondition under the
    near-dup relation's transitive closure."""
    comp = connected_components(edges, cfg)
    e = (
        edges.select("src_id", "dst_id")
        .join(
            comp.withColumnRenamed("doc_id", "src_id").withColumnRenamed(
                "cluster_id", "cid"
            ),
            "src_id",
        )
    )
    sizes = e.groupBy("cid").agg(F.count("*").alias("n_edges"))
    e = e.join(sizes, "cid")
    small = e.filter(F.col("n_edges") <= cfg.greedy_max_component)
    big = e.filter(F.col("n_edges") > cfg.greedy_max_component)
    greedy = small.groupBy("cid").applyInPandas(
        lambda pdf: _greedy_remove(pdf), schema=_GREEDY_SCHEMA
    )
    fallback = (
        big.select("cid", F.explode(F.array("src_id", "dst_id")).alias("doc_id"))
        .distinct()
        .select("doc_id", (F.col("doc_id") != F.col("cid")).alias("removed"))
    )
    return greedy.unionByName(fallback)
