"""Substring (verbatim-span) dedup via content-defined chunking — the
mode the reference lists as TODO ("nlogN by sort or tree method",
/root/reference/main.cpp:86-87) and BASELINE.json requires.

A suffix array over a 100 TB corpus does not distribute; the equivalent
detection problem — "find cross-doc verbatim spans >= L bytes" — does,
via content-defined anchors: positions are selected by the CONTENT of a
rolling window (hash & mask == 0), so a span shared by two docs selects
the same anchor positions inside the span regardless of its offset in
either doc. Chunks between consecutive anchors are hashed; two docs
sharing >= cfg.cdc_min_span bytes of chunk-identical content are
substring-duplicate candidates.

The chunker is one ``mapInPandas`` over (doc_id, text) that yields the
flat chunk rows (numpy sliding windows per doc), pinned so every
consumer reads one computation of it; chunk matching is groupBy → pair
aggregation — all shuffles on chunk hashes, which is how it scales.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from image_dedup_spark.config import DEFAULT, DedupConfig
from image_dedup_spark.functions.fingerprints import splitmix64
from image_dedup_spark.session import drop_zip_finders
from image_dedup_spark.sources import io as IO

_U64 = np.uint64


def _window_hashes(b: bytes, w: int) -> np.ndarray:
    """Dispersed u64 hash of every w-byte window (w <= 16 via two packed
    8-byte halves)."""
    a = np.frombuffer(b, dtype=np.uint8)
    if len(a) < w:
        return np.empty(0, dtype=_U64)
    half = w // 2
    pw = _U64(256) ** np.arange(half, dtype=_U64)
    with np.errstate(over="ignore"):
        win = np.lib.stride_tricks.sliding_window_view(a, w)
        lo = (win[:, :half].astype(_U64) * pw).sum(axis=1, dtype=_U64)
        hi = (win[:, half:w].astype(_U64) * pw).sum(axis=1, dtype=_U64)
        return splitmix64(lo) ^ splitmix64(hi + _U64(0x9E37))


def cdc_chunks(text: str, cfg: DedupConfig = DEFAULT) -> list[tuple[int, int, int]]:
    """[(chunk_hash, pos, length)] for one document."""
    b = text.encode("utf-8", errors="replace")[: cfg.max_text_bytes]
    w = cfg.cdc_window
    h = _window_hashes(b, w)
    if len(h) == 0:
        return []
    mask = _U64((1 << cfg.cdc_mask_bits) - 1)
    anchors = np.flatnonzero((h & mask) == 0)
    bounds = np.concatenate(([0], anchors + w, [len(b)]))
    bounds = np.unique(bounds)
    out = []
    for s, e in zip(bounds[:-1], bounds[1:]):
        if e - s <= 0:
            continue
        digest = hashlib.blake2b(b[s:e], digest_size=8).digest()
        hv = int.from_bytes(digest, "little", signed=True)
        out.append((hv, int(s), int(e - s)))
    return out


def chunk_table(
    docs: DataFrame, cfg: DedupConfig = DEFAULT, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, chunk_hash, pos, length): one row per :func:`cdc_chunks`
    chunk of every doc (a null text has none), pinned with
    :func:`image_dedup_spark.sources.io.checkpoint`.

    One ``mapInPandas`` yields the flat rows, so each task runs one
    Python worker and each doc meets the chunker once. (A ``pandas_udf``
    returning the chunk array under ``explode`` would run it twice per
    task: Spark infers ``size(ch) > 0`` below the Generate and evaluates
    it in a second, chained Arrow UDF.) The pin keeps it to once per
    call: the consumers (the shared-chunk count and join, the pair
    expansion) prune different columns, so exchange reuse cannot share
    them."""

    def _chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            rows = [
                (d, *c)
                for d, t in zip(pdf["doc_id"], pdf["text"])
                for c in cdc_chunks(t or "", cfg)
            ]
            yield pd.DataFrame(
                rows, columns=["doc_id", "chunk_hash", "pos", "length"]
            )

    return IO.checkpoint(
        docs.select(F.col(id_col).alias("doc_id"), "text").mapInPandas(
            _chunk, "doc_id long, chunk_hash long, pos int, length int"
        )
    )


def _suffix_array(s: np.ndarray) -> np.ndarray:
    """Suffix array by prefix doubling (numpy argsort per round,
    O(n log^2 n)). Input: uint8 array."""
    n = len(s)
    rank = s.astype(np.int64)
    sa = np.argsort(rank, kind="stable")
    k = 1
    tmp = np.empty(n, dtype=np.int64)
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        sa = order
        tmp[sa[0]] = 0
        prev = sa[:-1]
        cur = sa[1:]
        newgrp = (rank[cur] != rank[prev]) | (key2[cur] != key2[prev])
        tmp[cur] = np.cumsum(newgrp)
        rank = tmp.copy()
        if rank[sa[-1]] == n - 1:
            break
        k *= 2
    return sa


def _lcp_array(s: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """Kasai's algorithm: LCP of adjacent suffixes in SA order."""
    n = len(s)
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    lcp = np.zeros(n, dtype=np.int64)
    h = 0
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = sa[r - 1]
            m = n - max(i, j)
            while h < m and s[i + h] == s[j + h]:
                h += 1
            lcp[r] = h
            if h:
                h -= 1
        else:
            h = 0
    return lcp


def _group_suffix_spans(
    pdf: pd.DataFrame, min_span: int, max_doc_bytes: int
) -> pd.DataFrame:
    """Exact cross-doc shared spans >= min_span within one candidate
    group, PER-PAIR EXHAUSTIVE: concatenate the group's docs with \\x00
    separators, build suffix array + LCP, then scan each maximal run
    ("block") of consecutive SA rows with lcp >= min_span keeping the
    most recent suffix per doc and a running min-LCP since it. For any
    cross-doc suffix pair, min-LCP over the SA range between them is
    their true common-prefix length, and the per-pair maximum is always
    attained at a pair adjacent in the {src,dst}-filtered SA order —
    which the most-recent-per-doc scan visits. Per (src,dst) pair the
    lexicographically greatest (span_len, src_pos, dst_pos) wins (same
    struct-max rule the caller uses to merge across groups). Cost is
    O(block_len x docs_in_block) per block, and only rows with
    lcp >= min_span are ever scanned."""
    drop_zip_finders()
    pdf = pdf.drop_duplicates("doc_id")
    if len(pdf) < 2:
        return pd.DataFrame(
            columns=["src_id", "dst_id", "span_len", "src_pos", "dst_pos"]
        )
    bufs, owners, offs = [], [], []
    pos = 0
    for did, text in zip(pdf["doc_id"], pdf["text"]):
        b = (text or "").encode("utf-8", errors="replace")[:max_doc_bytes]
        bufs.append(b)
        owners.append((pos, pos + len(b), int(did)))
        offs.append(pos)
        pos += len(b) + 1  # separator
    s = np.frombuffer(b"\x00".join(bufs), dtype=np.uint8)
    if len(s) < min_span:
        return pd.DataFrame(
            columns=["src_id", "dst_id", "span_len", "src_pos", "dst_pos"]
        )
    sa = _suffix_array(s)
    lcp = _lcp_array(s, sa)
    starts = np.array([o[0] for o in owners], dtype=np.int64)
    ends = np.array([o[1] for o in owners], dtype=np.int64)
    ids = np.array([o[2] for o in owners], dtype=np.int64)

    def owner(p: int) -> int:
        i = int(np.searchsorted(starts, p, side="right")) - 1
        return i if p < ends[i] else -1

    best: dict[tuple[int, int], tuple[int, int, int]] = {}
    qual = np.flatnonzero(lcp >= min_span)
    if len(qual):
        brk = np.flatnonzero(np.diff(qual) > 1)
        block_lo = np.concatenate(([0], brk + 1))
        block_hi = np.concatenate((brk, [len(qual) - 1]))
        for lo, hi in zip(block_lo, block_hi):
            r0, r1 = int(qual[lo]), int(qual[hi])
            # rows r0-1 .. r1 share pairwise LCP >= min_span (range-min
            # of lcp). cur: doc -> [suffix pos, min lcp since that row].
            cur: dict[int, list[int]] = {}
            for r in range(r0 - 1, r1 + 1):
                p = int(sa[r])
                o = owner(p)
                if r >= r0:
                    l = int(lcp[r])
                    for v in cur.values():
                        if v[1] > l:
                            v[1] = l
                if o < 0:
                    # separator-started suffix: breaks no runs, owns no
                    # doc — it only propagates the min-LCP above.
                    continue
                for d, (dp, dmin) in cur.items():
                    if d == o:
                        continue
                    # clip the match at each doc's end (it cannot cross
                    # the \x00 separator, but clip defensively) and at
                    # the true pairwise LCP (range-min since d's suffix)
                    ln = int(min(dmin, ends[d] - dp, ends[o] - p))
                    if ln < min_span:
                        continue
                    a, b_ = (d, o) if ids[d] < ids[o] else (o, d)
                    pa, pb = (dp, p) if ids[d] < ids[o] else (p, dp)
                    key = (int(ids[a]), int(ids[b_]))
                    rec = (ln, int(pa - starts[a]), int(pb - starts[b_]))
                    if key not in best or rec > best[key]:
                        best[key] = rec
                cur[o] = [p, 1 << 62]
    rows = [(k[0], k[1], v[0], v[1], v[2]) for k, v in best.items()]
    return pd.DataFrame(
        rows, columns=["src_id", "dst_id", "span_len", "src_pos", "dst_pos"]
    )


def _shared_chunks(ch: DataFrame, cfg: DedupConfig) -> DataFrame:
    """The rows of chunk inventory ``ch`` whose chunk_hash occurs in more
    than one and at most ``cfg.bucket_cap`` distinct docs: a chunk of one
    doc pairs with nothing, and ubiquitous chunks (boilerplate) are
    dropped, the same skew policy as the LSH buckets."""
    n_docs = ch.select("doc_id", "chunk_hash").distinct().groupBy("chunk_hash").count()
    keep = n_docs.filter((F.col("count") > 1) & (F.col("count") <= cfg.bucket_cap))
    return ch.join(keep.select("chunk_hash"), "chunk_hash")


_SPAN_SCHEMA = (
    "src_id long, dst_id long, span_len long, src_pos long, dst_pos long"
)


def suffix_array_spans(
    docs: DataFrame, cfg: DedupConfig = DEFAULT, id_col: str = "doc_id"
) -> DataFrame:
    """Suffix-array substring mode: exact shared spans >= cfg.cdc_min_span
    bytes between doc pairs, with positions.

    Pair coverage contract (stated precisely): PER-PAIR EXHAUSTIVE
    within each candidate group. Every doc pair in a group that shares
    a >= min_span span is reported with its true maximum span length —
    including pairs whose shared string also occurs in a third doc
    whose suffixes interleave theirs in the suffix array (the
    nearest-preceding-suffix-per-doc scan in _group_suffix_spans covers
    exactly the {src,dst}-filtered-adjacent pairs where the per-pair
    max is attained). The scan touches only SA rows with
    lcp >= min_span, so exhaustiveness costs O(qualifying_rows x
    docs_per_block), not O(group_len x docs).

    Position tie-break caveat: when a pair shares several spans of the
    SAME maximal length, the reported (src_pos, dst_pos) is the
    struct-max over the combos the scan visited — a subset of all
    position combos (the scan pairs each suffix with the other doc's
    most RECENT suffix only). span_len is always the true per-pair
    maximum; positions always point at a genuine matching span (pytest
    re-checks byte equality), but WHICH max-length span wins a tie is
    scan-order-dependent, which is why the driver oracle compares the
    (src_id, dst_id, span_len) projection.

    Scale shape: a suffix array over the whole corpus does not
    distribute, but the detection problem does — CDC chunk hashes
    co-locate candidate docs (docs sharing any non-ubiquitous chunk land
    in the same group), then each group builds a LOCAL suffix array +
    Kasai LCP over its concatenated docs and extracts exact cross-doc
    spans. Groups are bounded by cfg.bucket_cap (ubiquitous chunks are
    dropped with the same accounting as LSH buckets), so per-task memory
    is bounded regardless of corpus size. The reference left this as a
    TODO ('nlogN by sort or tree method', main.cpp:86-87)."""
    shared = _shared_chunks(
        chunk_table(docs, cfg, id_col).dropDuplicates(["doc_id", "chunk_hash"]),
        cfg,
    )
    # One group per DISTINCT doc-set, not per shared chunk: a long shared
    # span yields many interior chunks all shared by the same doc set, and
    # grouping per chunk would ship every member's full text once per
    # chunk and rebuild the same suffix array per chunk. Collapsing to the
    # distinct doc-set (group key = hash of the sorted member list) ships
    # each text once per distinct co-occurrence set.
    groups = (
        shared.groupBy("chunk_hash")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .select("docs")
        .distinct()
        .select(F.xxhash64("docs").alias("grp_id"), F.explode("docs").alias("doc_id"))
    )
    members = groups.join(
        docs.select(F.col(id_col).alias("doc_id"), "text"), "doc_id"
    )
    min_span, max_bytes = cfg.cdc_min_span, cfg.max_text_bytes
    spans = members.groupBy("grp_id").applyInPandas(
        lambda pdf: _group_suffix_spans(pdf, min_span, max_bytes),
        schema=_SPAN_SCHEMA,
    )
    # The same pair may still surface from several doc-set groups (e.g.
    # {A,B} and {A,B,C}): keep the best record ATOMICALLY via a struct
    # max so span_len/src_pos/dst_pos always come from one group's record
    # and the positions provably point at a matching span.
    return (
        spans.groupBy("src_id", "dst_id")
        .agg(F.max(F.struct("span_len", "src_pos", "dst_pos")).alias("s"))
        .select("src_id", "dst_id", "s.*")
    )


def chunk_pairs(ch: DataFrame, cfg: DedupConfig = DEFAULT) -> DataFrame:
    """(src_id, dst_id, score=shared bytes, stage='substring') from a
    chunk inventory (doc_id, chunk_hash, pos, length) — the relational
    half of the substring mode, shared by every chunker variant.

    Only shared, non-ubiquitous chunks (:func:`_shared_chunks`) reach
    the pair expansion."""
    common = _shared_chunks(ch.dropDuplicates(["doc_id", "chunk_hash"]), cfg)
    a = common.select(
        "chunk_hash", F.col("doc_id").alias("src_id"), F.col("length").alias("len")
    )
    b = common.select("chunk_hash", F.col("doc_id").alias("dst_id"))
    return (
        a.join(b, "chunk_hash")
        .filter(F.col("src_id") < F.col("dst_id"))
        .groupBy("src_id", "dst_id")
        .agg(F.sum("len").alias("shared_bytes"))
        .filter(F.col("shared_bytes") >= cfg.cdc_min_span)
        .select(
            "src_id",
            "dst_id",
            F.col("shared_bytes").cast("double").alias("score"),
            F.lit("substring").alias("stage"),
        )
    )


def substring_dup_pairs(
    docs: DataFrame, cfg: DedupConfig = DEFAULT, id_col: str = "doc_id"
) -> DataFrame:
    """Production path: numpy CDC chunker (one pinned pass) + chunk_pairs."""
    return chunk_pairs(chunk_table(docs, cfg, id_col), cfg)


def sql_chunk_table(
    docs: DataFrame, cfg: DedupConfig = DEFAULT, id_col: str = "doc_id",
    seed: int = 0xCDC,
) -> DataFrame:
    """Chunk inventory via built-in Column expressions only — the
    cross-engine-reproducible chunker variant (DuckDB computes the
    identical table, so every downstream relational operator is
    SQL-oracle-checkable end to end).

    Same content-defined-anchor idea as the numpy chunker: a position is
    an anchor iff the md5-derived 60-bit hash of the w-char window
    starting there has its low ``cdc_mask_bits`` bits zero; chunks run
    between consecutive anchor ends. Character positions (the testdata
    is ASCII) instead of byte positions; md5 instead of the packed
    rolling hash. The numpy chunker stays the fast production path."""
    from image_dedup_spark.functions.hashing import md5_hash64

    w = cfg.cdc_window
    mask = (1 << cfg.cdc_mask_bits) - 1
    n = F.length("text")
    starts = F.sequence(F.lit(1), n - F.lit(w - 1))  # 1-based window starts
    anchor_ends = F.filter(
        starts,
        lambda i: md5_hash64(F.substring(F.col("text"), i, w), seed=seed)
        .bitwiseAND(F.lit(mask))
        == 0,
    )
    bounds = F.array_sort(
        F.array_distinct(
            F.concat(
                F.array(F.lit(0)),
                F.transform(anchor_ends, lambda i: i + F.lit(w - 1)),
                F.array(n),
            )
        )
    )
    bounds = F.when(n >= w, bounds).otherwise(F.array(F.lit(0), n))
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(bounds) - 1),
        lambda j: F.struct(
            F.md5(
                F.substring(
                    F.col("text"),
                    F.element_at(bounds, j) + 1,
                    F.element_at(bounds, j + 1) - F.element_at(bounds, j),
                )
            ).alias("chunk_hash"),
            F.element_at(bounds, j).alias("pos"),
            (F.element_at(bounds, j + 1) - F.element_at(bounds, j)).alias(
                "length"
            ),
        ),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.col("text"), chunks.alias("ch"))
        .select("doc_id", F.explode("ch").alias("c"))
        .filter(F.col("c.length") > 0)
        .select("doc_id", "c.chunk_hash", "c.pos", "c.length")
    )


def chunk_run_spans(
    ch: DataFrame, cfg: DedupConfig = DEFAULT
) -> DataFrame:
    """Exact shared spans as maximal runs of CONSECUTIVE matching chunks
    — the fully relational substring-span path (no suffix array, no
    grouped-map UDF): chunks partition each doc, so a run of adjacent
    chunk indices matching along one diagonal (src_idx - dst_idx
    constant) is a verbatim shared byte span. Classic gaps-and-islands
    over the chunk-match join; every operator is a shuffle on chunk
    hashes or a window over (pair, diagonal) — this is the shape that
    scales to 100 TB, and it is SQL-oracle-checkable.

    Returns (src_id, dst_id, span_len, src_pos, dst_pos): the best run
    per pair (>= cfg.cdc_min_span), whole record kept atomically via a
    struct max. Span boundaries are quantized to chunk boundaries
    (~2^cdc_mask_bits bytes), vs the suffix-array mode's byte-exact
    spans — the tradeoff for a pure-relational plan."""
    from pyspark.sql import Window

    kept = _shared_chunks(ch, cfg)
    idx_w = Window.partitionBy("doc_id").orderBy("pos")
    c = kept.withColumn("idx", F.row_number().over(idx_w))
    a = c.select(
        "chunk_hash",
        F.col("doc_id").alias("src_id"),
        F.col("idx").alias("a_idx"),
        F.col("pos").alias("a_pos"),
        F.col("length").alias("len"),
    )
    b = c.select(
        "chunk_hash",
        F.col("doc_id").alias("dst_id"),
        F.col("idx").alias("b_idx"),
        F.col("pos").alias("b_pos"),
    )
    m = (
        a.join(b, "chunk_hash")
        .filter(F.col("src_id") < F.col("dst_id"))
        .withColumn("diag", F.col("a_idx") - F.col("b_idx"))
    )
    isl_w = Window.partitionBy("src_id", "dst_id", "diag").orderBy("a_idx")
    runs = (
        m.withColumn("island", F.col("a_idx") - F.row_number().over(isl_w))
        .groupBy("src_id", "dst_id", "diag", "island")
        .agg(
            F.sum("len").alias("span_len"),
            F.min("a_pos").alias("src_pos"),
            F.min("b_pos").alias("dst_pos"),
        )
        .filter(F.col("span_len") >= cfg.cdc_min_span)
    )
    return (
        runs.groupBy("src_id", "dst_id")
        .agg(F.max(F.struct("span_len", "src_pos", "dst_pos")).alias("s"))
        .select("src_id", "dst_id", "s.*")
    )
