"""Embedding similarity search — ANN over an ``array<float>`` column.

Not in the reference (its similarity space is Hamming over perceptual
hashes); this is the embedding-cosine near-dup / similarity-search
surface a training-data pipeline needs. Brute-force top-k is the
correctness baseline (all built-in expressions: zip_with dot products +
window top-k); the scale path buckets vectors with random-hyperplane LSH
(sign bits — the classic SimHash-for-cosine) so candidate generation is
an equi-join on bucket keys instead of a cross join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from image_dedup_spark.sources import io as IO


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def brute_force_topk(
    df: DataFrame, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """For every vector: its k nearest neighbours by cosine (excluding
    itself). O(n²) — the correctness baseline and small-n path."""
    a = df.select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("dst_id"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("src_id") != F.col("dst_id")).withColumn(
        "cos", cosine(F.col("va"), F.col("vb"))
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cos").desc(), F.col("dst_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "dst_id", F.round("cos", 9).alias("cos"), "rank")
    )


def hyperplane_signature(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 0x5EED_0003,
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds ``bucket``: an n_planes-bit sign signature (int). Plane
    vectors are deterministic rng literals baked into the plan — the
    whole signature is codegen'd column math, no UDF."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    bits = [
        F.when(dot(F.col(vec_col), F.lit(planes[i].tolist())) > 0, 1 << i).otherwise(0)
        for i in range(n_planes)
    ]
    sig = bits[0]
    for bcol in bits[1:]:
        sig = sig + bcol
    return df.withColumn("bucket", sig.cast("long"))


def planes_for(n_rows: int, target_bucket: int = 64, floor: int = 6) -> int:
    """Scale the signature width with corpus size so mean bucket
    occupancy stays ~target_bucket: n_planes = log2(n / target). A fixed
    n_planes makes intra-bucket work grow quadratically with the corpus
    (the round-1 failure mode); callers pass an approximate row count
    (exact precision is irrelevant — one plane halves occupancy)."""
    import math

    return max(floor, math.ceil(math.log2(max(n_rows, 1) / max(target_bucket, 1))))


def lsh_topk(
    df: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    multiprobe: bool = True,
    bucket_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing a bucket in any of
    n_tables independent hyperplane tables; exact cosine re-rank within
    candidates. Recall grows with n_tables; each table is an equi-join.

    ``dim`` comes from the table contract/config (an embedding column's
    element count is not in the parquet schema, and probing a row for it
    would put a driver action inside query construction).

    ``multiprobe`` additionally probes every bucket at Hamming distance 1
    from the query's signature (Lv et al., VLDB'07): the query side emits
    n_planes+1 keys per table while the index side stays at 1, so the
    join stays an equi-join and the shuffle grows only linearly in
    n_planes — the cheap way to buy recall when true neighbours sit at
    modest cosine (where exact-bucket collision probability is tiny).

    ``bucket_cap`` bounds the intra-bucket join: buckets holding more
    than bucket_cap vectors (degenerate directions — near-duplicate
    embedding farms, zero-ish vectors) are EXCLUDED from the INDEX side
    of that table's join. The probe side is left unfiltered — filtering
    it would change nothing (probe keys into an excluded bucket join to
    zero index rows, so output and join cost are identical) and would
    cost a second bucket-size join against the probe's n_planes+1
    multiprobe keys. Unlike the pair-dedup star
    fallback there is no semantics-preserving shortcut for top-k, so the
    honest policy is drop-with-accounting (`lsh_bucket_stats`); the
    same vectors are still reachable through the other n_tables-1
    tables, whose hyperplanes split the crowd differently. Pair with
    ``planes_for`` so caps only trigger on true degeneracy, not on
    corpus growth.

    Plan shape: ONE projection computes every table's signature (the
    round-1 per-table loop re-executed the scan→dot-product subtree 3×
    per table = 12× total, the dominant cost of the bench query); the
    narrow (id, bucket_0..bucket_T) table is pinned with
    :func:`image_dedup_spark.sources.io.checkpoint` (its blocks are freed
    by Spark's ContextCleaner once the result is garbage-collected) and
    exploded into (table_id, bucket) rows, from which the bucket sizes,
    the index side and the Hamming-1 probe side derive. Candidate
    generation is then a single equi-join on (table_id, bucket) across
    all tables at once."""
    sig_cols = []
    for t in range(n_tables):
        rng = np.random.default_rng(0x5EED_0003 + 7919 * t)
        planes = rng.standard_normal((n_planes, dim))
        bits = [
            F.when(
                dot(F.col(vec_col), F.lit(planes[i].tolist())) > 0, 1 << i
            ).otherwise(0)
            for i in range(n_planes)
        ]
        sig = bits[0]
        for bcol in bits[1:]:
            sig = sig + bcol
        sig_cols.append(sig.cast("long").alias(f"_b{t}"))
    # Narrow signature table (id + n_tables longs): the dot-product
    # projection runs once for all of its consumers.
    sigs = IO.checkpoint(df.select(F.col(id_col), *sig_cols))
    entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("table_id"), F.col(f"_b{t}").alias("bucket")
            )
            for t in range(n_tables)
        ]
    )
    idx_long = sigs.select(
        F.col(id_col), F.explode(entries).alias("e")
    ).select(id_col, "e.table_id", "e.bucket")
    kept = (
        idx_long.groupBy("table_id", "bucket")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") <= bucket_cap)
        .select("table_id", "bucket")
    )
    index = idx_long.join(kept, ["table_id", "bucket"]).select(
        F.col(id_col).alias("dst_id"), "table_id", "bucket"
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
        probe = idx_long.select(
            F.col(id_col).alias("src_id"),
            "table_id",
            F.explode(probes).alias("bucket"),
        )
    else:
        probe = idx_long.select(
            F.col(id_col).alias("src_id"), "table_id", "bucket"
        )
    cands = (
        probe.join(index, ["table_id", "bucket"])
        .filter(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "dst_id")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("dst_id"), F.col(vec_col).alias("vb"))
    scored = (
        cands.join(va, "src_id")
        .join(vb, "dst_id")
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cos").desc(), F.col("dst_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "dst_id", F.round("cos", 9).alias("cos"), "rank")
    )


def ivf_train(X: "np.ndarray", k: int, iters: int = 8) -> "np.ndarray":
    """Deterministic spherical k-means over a sample matrix (n, dim):
    unit-normalize, Lloyd-iterate a fixed ``iters`` times from a fixed
    init (the first k sample rows), renormalize means each step. Pure
    float64 numpy with sequential-order reductions only where parity
    matters downstream (the centroids are OUTPUTS consumed as literals,
    so only determinism matters here, not fold order). Empty cells keep
    their previous centroid (never NaN). Returns (k, dim) unit rows."""
    X = np.asarray(X, dtype=np.float64)
    n = X.shape[0]
    if n == 0:
        raise ValueError("ivf_train: empty sample")
    norms = np.linalg.norm(X, axis=1)
    Xn = X[norms > 0] / norms[norms > 0, None]
    if Xn.shape[0] == 0:
        raise ValueError("ivf_train: all-zero sample vectors")
    k = min(k, Xn.shape[0])
    C = Xn[:k].copy()
    for _ in range(iters):
        # argmax cosine == argmax dot (rows and centroids unit-norm);
        # ties -> smallest cell id (np.argmax takes the first maximum)
        cell = np.argmax(Xn @ C.T, axis=1)
        for j in range(k):
            members = Xn[cell == j]
            if len(members):
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                if nm > 0:
                    C[j] = m / nm
    return C


def ivf_centroids(
    df: DataFrame,
    k: int = 16,
    sample_cap: int = 4096,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Train IVF centroids from a DETERMINISTIC bounded sample: the
    ``sample_cap`` rows with the smallest ids. ``orderBy(id).limit(cap)``
    is a TakeOrdered at any scale (map-side partial top-k, no global
    sort), and the collect is bounded by sample_cap × dim doubles —
    driver-safe at 10^12 rows. Seeded random sampling would also be
    deterministic per Spark partitioning but NOT per cluster layout;
    smallest-ids is layout-independent, so the oracle can reproduce the
    exact sample from the raw parquet."""
    rows = (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .orderBy(F.col(id_col).asc())
        .limit(sample_cap)
        .collect()
    )
    X = np.array([r[1] for r in rows], dtype=np.float64)
    return ivf_train(X, k=k, iters=iters)


def cells_for(n_rows: int, target_cell: int = 256, floor: int = 4) -> int:
    """Scale the centroid count so mean cell occupancy stays
    ~target_cell (the IVF analogue of ``planes_for``): a fixed k makes
    intra-cell candidate work grow quadratically with the corpus."""
    return max(floor, -(-max(n_rows, 1) // max(target_cell, 1)))


def _cell_scores(vec_col: str, centroids: "np.ndarray") -> Column:
    """Array of dot(v, c_j) per centroid, as codegen'd column math with
    the SAME left-fold element-order sum as :func:`dot` — bit-identical
    to DuckDB's sequential list_dot_product, so argmax cells and probe
    rankings agree across engines even at float ties. Centroids are
    unit-norm, so ranking by dot ≡ ranking by cosine per vector."""
    return F.array(
        *[dot(F.col(vec_col), F.lit(c.tolist())) for c in centroids]
    )


def ivf_assignments(
    df: DataFrame,
    centroids: "np.ndarray",
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, probe_rank) — each vector's ``nprobe`` nearest
    centroid cells, probe_rank 1 = the assignment cell. One codegen'd
    projection: score every centroid, sort (-score, cell) structs
    inside the row, slice the first nprobe, explode. No shuffle — the
    per-row sort replaces the window/row_number shape, which would
    shuffle n×k score rows on id at corpus scale."""
    k = len(centroids)
    nprobe = min(nprobe, k)
    scored = F.transform(
        _cell_scores(vec_col, centroids),
        lambda s, j: F.struct((-s).alias("neg"), j.alias("cell")),
    )
    top = F.slice(F.array_sort(scored), 1, nprobe)
    return (
        df.select(F.col(id_col), F.posexplode(top).alias("pos", "e"))
        .select(
            id_col,
            F.col("e.cell").cast("int").alias("cell"),
            (F.col("pos") + 1).alias("probe_rank"),
        )
    )


def ivf_topk(
    df: DataFrame,
    centroids: "np.ndarray",
    k: int = 5,
    nprobe: int = 2,
    cell_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: the data-ADAPTIVE counterpart to
    :func:`lsh_topk` (centroids follow the corpus's density, so cells
    are balanced where hyperplane buckets are occupancy-lottery).
    Candidates = vectors whose assignment cell is among the query's
    nprobe nearest cells; exact cosine re-rank within candidates.

    Scale shape: training is driver-side over a bounded deterministic
    sample (``ivf_centroids``); assignment + probe are ONE codegen'd
    projection (k×dim fused multiply-adds per row — at k beyond a few
    hundred, swap ``_cell_scores`` for an Arrow-batched matmul UDF and
    accept engine-specific float ties); candidate generation is an
    equi-join on a dense int cell id. Each dst sits in exactly one
    cell and a query's probe cells are distinct, so a candidate pair
    is emitted at most once — no distinct() pass, unlike the
    multi-table LSH union. Over-cap cells (degenerate embedding farms)
    are EXCLUDED from the index side with accounting
    (``ivf_cell_stats``), same honesty policy as lsh_topk; pair with
    ``cells_for`` so caps only trigger on true degeneracy."""
    probes = ivf_assignments(
        df, centroids, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    )
    assign = probes.filter(F.col("probe_rank") == 1)
    kept = (
        assign.groupBy("cell")
        .agg(F.count("*").alias("cell_n"))
        .filter(F.col("cell_n") <= cell_cap)
        .select("cell")
    )
    index = assign.join(kept, "cell").select(
        F.col(id_col).alias("dst_id"), "cell"
    )
    probe = probes.select(F.col(id_col).alias("src_id"), "cell")
    cands = (
        probe.join(index, "cell")
        .filter(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "dst_id")
    )
    va = df.select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("dst_id"), F.col(vec_col).alias("vb"))
    scored = (
        cands.join(va, "src_id")
        .join(vb, "dst_id")
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cos").desc(), F.col("dst_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "dst_id", F.round("cos", 9).alias("cos"), "rank")
    )


def ivf_cell_stats(
    df: DataFrame,
    centroids: "np.ndarray",
    cell_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Accounting for capped IVF cells: per-cell size and whether
    ivf_topk excluded it from the index side."""
    return (
        ivf_assignments(df, centroids, nprobe=1, id_col=id_col, vec_col=vec_col)
        .groupBy("cell")
        .agg(F.count("*").alias("cell_n"))
        .select(
            "cell", "cell_n", (F.col("cell_n") > cell_cap).alias("dropped")
        )
    )


def lsh_bucket_stats(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    bucket_cap: int = 4096,
    vec_col: str = "embedding",
) -> DataFrame:
    """Accounting for capped ANN buckets (honesty metric, mirroring
    lsh.bucket_stats): per (table, bucket) size and whether lsh_topk
    excluded it from that table's join."""
    out = None
    for t in range(n_tables):
        g = (
            hyperplane_signature(
                df, dim, n_planes, seed=0x5EED_0003 + 7919 * t, vec_col=vec_col
            )
            .groupBy("bucket")
            .agg(F.count("*").alias("bucket_n"))
            .select(
                F.lit(t).alias("table_id"),
                "bucket",
                "bucket_n",
                (F.col("bucket_n") > bucket_cap).alias("dropped"),
            )
        )
        out = g if out is None else out.unionByName(g)
    return out
