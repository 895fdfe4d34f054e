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

Scale notes: a pair graph whose edge rows fit Spark's broadcast
threshold by the engine's one byte rule (:func:`_rows_that_fit`, the
same rule that gates every forced broadcast) is labelled on the driver:
one bounded Arrow collect of the edges, then a numpy min-hook and
pointer-jump labeller (:func:`_label_arrays`). The memory bound is one
broadcast build side's, which Spark collects to the driver anyway.
Above it, the labels come from a Spark loop in which every iteration
has one shape — offers from the vertices whose label changed last
round, a min-label groupBy, then a global pointer jump
(large-star/small-star, Kiveris et al., SoCC 2014), so the round count
is O(log n). The changed set is broadcast into the pinned edge table
when the previous probe's count of it fits the threshold
(:func:`_broadcast_if_fits`, which also gates the assign join). Lineage
is truncated every round with the engine's one lineage cut,
``sources.io.checkpoint`` (reliable ``checkpoint()`` when the
SparkContext has a checkpoint dir, a lazy ``localCheckpoint``
otherwise); the convergence probe (counts of changed and moved labels,
computed inside the round's own aggregation) rides the job that fills
the lazy checkpoint. Both paths give the same rows, null endpoints
included.

A checkpoint keeps its origin plan's size estimate, so each round's
label table inherits the estimate of the plan that built it. One round
multiplies it by a bounded factor (the pinned edge table's estimate
enters once, through the offer join), so its decimal length grows by a
fixed amount per round
(``tests/test_components.py::test_cc_size_estimate_grows_linearly``).
A pointer jump that read the previous round's table instead of the
round's own aggregate would square it every round (245k digits after
15 rounds on that test's 200-vertex graph), until Catalyst's stats
visitor stalls in BigInteger multiplication.
"""

from __future__ import annotations

import re
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from image_dedup_spark.config import DEFAULT, DedupConfig
from image_dedup_spark.session import drop_zip_finders
from image_dedup_spark.sources import io as IO


_UNIT_SHIFT = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def _byte_size(text: str) -> int:
    """Bytes in one of Spark's size strings (``67108864``, ``10485760b``,
    ``64m``, ``10MB``). The sign is kept: Spark reads a negative
    broadcast threshold (``-1``) as "never broadcast"."""
    m = re.fullmatch(r"(-?\d+)([kmgtp]?)b?", text.strip().lower())
    if m is None:
        raise ValueError(f"not a Spark byte size: {text!r}")
    return int(m.group(1)) << _UNIT_SHIFT[m.group(2)]


def _rows_that_fit(spark: SparkSession, n_cols: int) -> int:
    """Rows of ``n_cols`` long columns that fit under
    ``spark.sql.autoBroadcastJoinThreshold`` by Spark's per-row size
    estimate: an 8-byte row header plus 8 bytes per column, 24 B for two
    columns, ~2.8M rows under the 64 MB :func:`session.get_spark` sets.
    Negative when the threshold is negative (``-1``: never broadcast)."""
    conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    return _byte_size(conf) // (8 + 8 * n_cols)


def _broadcast_if_fits(df: DataFrame, n_rows: int) -> DataFrame:
    """``F.broadcast(df)`` when ``n_rows`` (a count the caller already
    has) fits :func:`_rows_that_fit`, the limit Spark's planner applies
    to its own statistics; otherwise ``df`` as is, so an oversized build
    side degrades to a shuffle join instead of failing."""
    if n_rows <= _rows_that_fit(df.sparkSession, len(df.columns)):
        return F.broadcast(df)
    return df


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

    Round structure: every round is the same shape. Offers come only
    from vertices whose label changed last round (an unchanged
    neighbor's label was already folded in whenever it last changed —
    labels are monotone non-increasing), the groupBy still carries every
    vertex's self row, and a global pointer jump (label := label(label))
    follows. While the previous probe's changed count fits the broadcast
    threshold (:func:`_broadcast_if_fits`), the changed set is broadcast
    into the pinned edge table, so the edge side is never shuffled; the
    gate reads a count the loop already takes, so it costs no job. Each
    round carries a ``changed`` flag computed inside its own aggregation
    (executor-side change detection — no cross-round sum diffing).
    Convergence = changed == 0, which is exact: every edge's endpoints
    are re-tested whenever either end changes, so an all-quiet round
    means every edge has equal labels at both ends — uniform per
    component.

    ``metrics_out``: optional list that receives one dict per probe
    barrier {"iteration", "seconds", "round_wall", "label_sum",
    "changed", "moved", "converged", "mode"} (mode "local" for a graph
    labelled on the driver — its one entry, with "seconds" the edge
    collect and "round_wall" the whole call; "warm" for the loop's warm
    start, "full" for every loop round; "moved" counts labels that differ
    from their doc_id), plus "ckpt_wall" on loop rounds — the bench uses
    it to separate real propagation work from barrier latency when
    comparing runs."""
    return _label_loop(edges, cfg, metrics_out)[0]


def _label_loop(
    edges: DataFrame, cfg: DedupConfig, metrics_out: list | None
) -> tuple[DataFrame, int]:
    """:func:`connected_components`' labels, plus the last probe's count
    of their moved rows (cluster_id != doc_id), which gates the assign
    join's broadcast at no extra job (:func:`_moved`). A graph that fits
    the driver (:func:`_label_on_driver`) never reaches the loop."""
    local = _label_on_driver(edges, metrics_out)
    if local is not None:
        return local
    # Pin the symmetrized edge table: every probe is its own Spark job,
    # and an unpinned `e` would replay the union shuffle each round
    # (shuffle reuse does not cross job boundaries). Lazy in local mode:
    # the warm-start probe job below materializes e's blocks as a side
    # effect, so edge pinning + label init + first probe are ONE job
    # submission instead of three (the ~9s/stage fixed floor measured in
    # BENCH/ANALYSIS_r2.md was mostly these serial barriers).
    e = IO.checkpoint(
        edges.select(F.col("src_id").alias("a"), F.col("dst_id").alias("b"))
        .unionByName(
            edges.select(F.col("dst_id").alias("a"), F.col("src_id").alias("b"))
        )
    )
    # Warm start: label(v) = min(v, min neighbor) — the result round 1
    # would produce, folded into the same shuffle the old doc_id-distinct
    # init already paid. Dup-pair graphs are shallow (exact-dup stars,
    # small near-dup clumps), so most vertices are already converged
    # after this; `changed` vs the implicit self-label init seeds the
    # first round's offers.
    labels = IO.checkpoint(
        e.groupBy(F.col("a").alias("doc_id"))
        .agg(F.min("b").alias("min_nbr"))
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.col("min_nbr")).alias("cluster_id"),
            (F.col("min_nbr") < F.col("doc_id")).alias("changed"),
        )
    )

    wall_anchor = [time.monotonic()]

    def probe(lab: DataFrame, it: int, mode: str) -> tuple[int, int]:
        """One job: materializes any pending lazy checkpoints in lab's
        plan AND counts the round's changed labels (the convergence
        test and the next round's broadcast gate) and moved labels (the
        assign join's broadcast gate, read after the last round). The
        label sum (decimal(38,0), immune to 64-bit wrap on hash-derived
        ids) is kept in the metrics as a cross-run fingerprint of the
        labelling itself."""
        t0 = time.monotonic()
        row = lab.agg(
            F.sum(F.col("changed").cast("long")),
            F.sum(F.col("cluster_id").cast("decimal(38,0)")),
            F.sum((F.col("cluster_id") != F.col("doc_id")).cast("long")),
        ).first()
        n_changed, n_moved = int(row[0] or 0), int(row[2] or 0)
        if metrics_out is not None:
            metrics_out.append(
                {
                    "iteration": it,
                    "seconds": round(time.monotonic() - t0, 3),
                    # wall since the previous probe entry: captures the
                    # round's work outside the agg timer (the lazy
                    # checkpoint call already runs its shuffle stages)
                    "round_wall": round(time.monotonic() - wall_anchor[0], 3),
                    "label_sum": str(row[1]),
                    "changed": n_changed,
                    "moved": n_moved,
                    "converged": n_changed == 0,
                    "mode": mode,
                }
            )
        wall_anchor[0] = time.monotonic()
        return n_changed, n_moved

    n_changed, n_moved = probe(labels, -1, "warm")
    for it in range(cfg.cc_max_iterations):
        if n_changed == 0:
            break
        # ---- offer neighbor labels from the changed vertices ---------
        # The e-join's probe side shrinks to the changed subset (48% of
        # vertices after a typical warm start, and falling every round)
        # while the groupBy still carries every vertex's self row, so
        # the fixpoint test stays exact. A changed set that fits is
        # broadcast: the pinned edge table is then filtered map-side.
        changed = _broadcast_if_fits(
            labels.filter("changed").select("doc_id", "cluster_id"), n_changed
        )
        nbr = e.join(changed, e.b == F.col("doc_id")).select(
            F.col("a").alias("doc_id"),
            "cluster_id",
            F.lit(False).alias("is_self"),
        )
        m = (
            labels.select("doc_id", "cluster_id")
            .withColumn("is_self", F.lit(True))
            .unionByName(nbr)
            .groupBy("doc_id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                # exactly one self row per doc: its label is the
                # round's starting label, so `changed` needs no
                # second join against the previous label table.
                F.min(F.when(F.col("is_self"), F.col("cluster_id"))).alias("old"),
            )
        )
        # pointer-jumping shortcut: label := label(label). A neighbor
        # hop alone moves a label one edge per round (O(diameter) on
        # chains); composing it with this doubling step converges in
        # O(log n) rounds — the large-star/small-star idea.
        parents = m.select(
            F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_label")
        )
        labels = m.join(parents, m.cluster_id == parents.p_id, "left").select(
            "doc_id",
            F.coalesce("p_label", "cluster_id").alias("cluster_id"),
            (F.coalesce("p_label", "cluster_id") < F.col("old")).alias("changed"),
        )
        # Lazy checkpoint + probe = ONE job per barrier: the probe's
        # aggregation computes the round's labels, persisting them as
        # the checkpoint blocks the next round reads.
        t_ckpt = time.monotonic()
        labels = IO.checkpoint(labels)
        ckpt_wall = round(time.monotonic() - t_ckpt, 3)
        n_changed, n_moved = probe(labels, it, "full")
        if metrics_out is not None:
            metrics_out[-1]["ckpt_wall"] = ckpt_wall
    return labels.select("doc_id", "cluster_id"), n_moved


def _label_on_driver(
    edges: DataFrame, metrics_out: list | None
) -> tuple[DataFrame, int] | None:
    """:func:`_label_loop`'s result computed on the driver, or None when
    the edge rows do not fit :func:`_rows_that_fit` (then the caller's
    Spark loop runs). One job collects at most ``cap + 1`` edge rows as
    Arrow; a full collect means the graph is over the cap and is
    discarded. Ids stay int64 from Arrow to the output table, whose id
    type is the loop's (the wider of the two endpoint types)."""
    spark = edges.sparkSession
    cap = _rows_that_fit(spark, 2)
    if cap <= 0:
        return None
    t0 = time.monotonic()
    ends = edges.select(F.col("src_id").alias("a"), F.col("dst_id").alias("b"))
    table = ends.limit(cap + 1).toArrow()
    if table.num_rows > cap:
        return None
    collect_s = time.monotonic() - t0
    doc, cluster = _label_arrays(table.column("a"), table.column("b"))
    id_type = ends.select(F.least("a", "b")).schema[0].dataType
    comp = spark.createDataFrame(
        pa.table({"doc_id": doc, "cluster_id": cluster}),
        T.StructType(
            [T.StructField("doc_id", id_type), T.StructField("cluster_id", id_type)]
        ),
    )
    n_moved = int(pc.sum(pc.not_equal(doc, cluster)).as_py() or 0)
    if metrics_out is not None:
        labelled = pc.drop_null(cluster).to_numpy()
        metrics_out.append(
            {
                "iteration": 0,
                "seconds": round(collect_s, 3),
                "round_wall": round(time.monotonic() - t0, 3),
                # the loop probe's decimal(38,0) sum, printed the same
                # way ("None" when no vertex has a label)
                "label_sum": str(sum(labelled.tolist())) if len(labelled) else "None",
                "changed": 0,
                "moved": n_moved,
                "converged": True,
                "mode": "local",
            }
        )
    return comp, n_moved


def _label_arrays(a: pa.ChunkedArray, b: pa.ChunkedArray) -> tuple[pa.Array, pa.Array]:
    """(doc_id, cluster_id) Arrow arrays labelling the graph whose edge
    endpoints are ``a[i]``–``b[i]``: every vertex gets the min id of its
    component, as the Spark loop computes it.

    Vertex ids are compacted with ``np.unique`` (sorted, so the min id
    of a component is its min index). Each pass hooks every tree root to
    the min root across its open edges (``np.minimum.at``: a label only
    falls and always stays an index of the same component, no larger
    than its own), then pointer-jumps every label to its root. An edge
    whose ends share a root never separates again, so it closes; labels
    are uniform per component once no edge is open.

    A null endpoint matches the loop: a non-null end is still a vertex
    (its own label, when null is its only neighbour), no label crosses
    a null, and one null vertex row appears whenever an edge has a null
    end, labelled with the min label among its non-null neighbours (null
    when it has none)."""
    valid = np.concatenate(
        [pc.is_valid(a).to_numpy(zero_copy_only=False),
         pc.is_valid(b).to_numpy(zero_copy_only=False)]
    )
    ends = np.concatenate(
        [pc.fill_null(a, 0).to_numpy(), pc.fill_null(b, 0).to_numpy()]
    ).astype(np.int64, copy=False)
    ids, inv = np.unique(ends[valid], return_inverse=True)
    idx = np.full(len(ends), -1, dtype=np.int64)
    idx[valid] = inv
    ia, ib = idx[: len(a)], idx[len(a):]
    whole = (ia >= 0) & (ib >= 0)
    src = np.concatenate([ia[whole], ib[whole]])
    dst = np.concatenate([ib[whole], ia[whole]])
    label = np.arange(len(ids), dtype=np.int64)
    while len(src):
        np.minimum.at(label, label[src], label[dst])
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        open_ = label[src] != label[dst]
        src, dst = src[open_], dst[open_]
    doc, cluster = pa.array(ids), pa.array(ids[label])
    if not valid.all():
        # the null vertex; its neighbours are the valid ends of half-null edges
        half = (ia >= 0) != (ib >= 0)
        nbr = np.maximum(ia, ib)[half]
        null_label = int(ids[label[nbr]].min()) if len(nbr) else None
        doc = pa.concat_arrays([doc, pa.nulls(1, pa.int64())])
        cluster = pa.concat_arrays([cluster, pa.array([null_label], pa.int64())])
    return doc, cluster


def _moved(comp: DataFrame, n_moved: int) -> DataFrame:
    """The rows of a :func:`connected_components` table whose cluster_id
    differs from doc_id — the only rows an assign join needs, since a
    vertex that IS its component min (or a doc outside the graph)
    coalesces to its own id either way.

    ``n_moved`` is their count from the loop's last probe
    (:func:`_label_loop`); when it fits (:func:`_broadcast_if_fits`) the
    subset is broadcast, keeping the corpus-sized probe side map-side."""
    return _broadcast_if_fits(
        comp.filter(F.col("cluster_id") != F.col("doc_id")), n_moved
    )


def assign_clusters(
    docs: DataFrame, edges: DataFrame, cfg: DedupConfig = DEFAULT,
    id_col: str = "doc_id",
    metrics_out: list | None = None,
) -> DataFrame:
    """Every doc gets a cluster_id (its own id when untouched by any edge)
    and is_representative (deterministic min-doc_id rule). Docs join
    only the moved component rows (:func:`_moved`)."""
    comp, n_moved = _label_loop(edges, cfg, metrics_out)
    moved = _moved(comp, n_moved).withColumnRenamed("doc_id", id_col)
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
    comp, n_moved = _label_loop(near_edges, cfg, metrics_out)
    # Only keepers whose component min DIFFERS from themselves matter,
    # broadcast when they fit so the corpus-sized labels table is never
    # shuffled on the join key — the assign step becomes one map-side
    # pass (this join was the worst-scaling piece of the CC stage: a
    # 5M x ~3M shuffle join at bench scale).
    comp_k = _moved(comp, n_moved).select(
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
    drop_zip_finders()
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
