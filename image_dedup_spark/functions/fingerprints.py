"""Fingerprint computation — the engine's only Python hot path, fully
vectorized with numpy inside Arrow-batched pandas UDFs (no per-row
Python; north_rule).

One Arrow pass per document batch computes, per doc:
  - ``minhash``  : array of k multiply-shift permutation minima
                   (high ``cfg.minhash_bits`` bits each) over
                   the set of packed character shingles (the text
                   analogue of the reference's phash,
                   /root/reference/hash_func.cpp:147-198);
  - ``simhash``  : array<long>, nbits-bit sign-of-bit-sums fingerprint
                   (the analogue of dhash,
                   /root/reference/hash_func.cpp:76-132);
  - ``shingles`` : array<long>, bottom-k sketch of shingle hashes used
                   for exact-Jaccard verification (intersection of two
                   sorted arrays — JVM-side ``array_intersect``);
  - ``n_shingles``: long, |unique shingles| — the cheap prefilter column
                   (analogue of the popcount prefilter,
                   /root/reference/samples.cpp:584-585,616-617).

Shingles of width w ≤ 8 bytes pack losslessly into uint64 (no string
hashing needed), then a splitmix64 finalizer disperses them.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import functions as F

from image_dedup_spark.config import DEFAULT, DedupConfig
from image_dedup_spark.session import drop_zip_finders

_U64 = np.uint64

# minhash components are the HIGH cfg.minhash_bits bits of the 64-bit
# multiply-shift minima (min first, then truncate — any deterministic
# post-map of the min preserves the MinHash collision property; see
# config.DedupConfig.minhash_bits for the bias/recall accounting).
# Narrower components shrink every downstream shuffle and the
# fingerprint table itself.
_MINHASH_ELEM = {16: T.ShortType(), 32: T.IntegerType(), 64: T.LongType()}
_MINHASH_DTYPE = {16: np.int16, 32: np.int32, 64: np.int64}


def fingerprint_schema(cfg: DedupConfig = DEFAULT) -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                "minhash", T.ArrayType(_MINHASH_ELEM[cfg.minhash_bits]), False
            ),
            T.StructField("simhash", T.ArrayType(T.LongType()), False),
            T.StructField("shingles", T.ArrayType(T.LongType()), False),
            T.StructField("n_shingles", T.LongType(), False),
        ]
    )


FINGERPRINT_SCHEMA = fingerprint_schema(DEFAULT)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant set)."""
    x = x.astype(_U64, copy=True)
    with np.errstate(over="ignore"):
        x += _U64(0x9E3779B97F4A7C15)
        z = x
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
        z = z ^ (z >> _U64(31))
    return z


def _permutation_params(k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """k multiply-shift hash params: odd multipliers + offsets."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**63, size=k, dtype=np.uint64) * _U64(2) + _U64(1)
    b = rng.integers(0, 2**63, size=k, dtype=np.uint64)
    return a, b


def _stream_offsets(n_words: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(1, 2**63, size=n_words, dtype=np.uint64)


def shingle_hashes(text: str, cfg: DedupConfig = DEFAULT) -> np.ndarray:
    """Unique dispersed uint64 hashes of the doc's char shingles."""
    w = cfg.shingle_width
    b = text.encode("utf-8", errors="replace")[: cfg.max_text_bytes]
    if len(b) < w:
        b = b.ljust(w, b"\x00")
    a = np.frombuffer(b, dtype=np.uint8)
    n = len(a) - w + 1
    # Horner evaluation of sum(byte[i+j] * 256^j): w passes over one
    # uint64 accumulator instead of materializing an (n, w) uint64
    # window matrix (8x the text in RAM and the kernel's largest temp).
    packed = np.zeros(n, dtype=_U64)
    with np.errstate(over="ignore"):
        for j in range(w - 1, -1, -1):
            packed <<= _U64(8)
            packed += a[j : j + n]
    u = np.unique(packed)
    u = splitmix64(u)
    u.sort()
    if len(u) > cfg.max_shingles_per_doc:
        # bottom-k sketch: smallest dispersed hashes form a uniform sample,
        # keeping exact-Jaccard verify meaningful on huge docs.
        u = u[: cfg.max_shingles_per_doc]
    return u


# Little-endian is assumed by the unpackbits fast path below (uint64 ->
# byte view); every platform this runs on (x86-64, arm64) is LE, and the
# slow path keeps the kernel correct elsewhere.
_LITTLE = __import__("sys").byteorder == "little"
# Block size for the shingle loop: per-block temporaries stay
# ~(BLOCK, k)*8B = 512KiB — cache-resident instead of one flat
# (n_shingles, k) uint64 pass (~1.5MB+ per doc per family). Measured
# (16-process contention microbench): ~20-35% faster per worker than
# the round-1 unblocked kernel, best at 512 among {128,256,512,1024}.
_BLOCK = 512


def _fingerprint_core(
    u: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
    offs: np.ndarray,
    shifts: np.ndarray,
    mh_bits: int = 32,
) -> tuple[np.ndarray, np.ndarray]:
    """(minhash int{mh_bits}[k], simhash int64[n_words]) for one doc's
    shingle set — blocked so per-block temporaries stay cache-resident.
    Min is associative and the bit counts are plain sums, so the result
    is bit-identical to the unblocked round-1 kernel (and to the DuckDB
    oracle's replay of the same arithmetic)."""
    k = len(a)
    n_words = len(offs)
    n = len(u)
    mins = np.full(k, np.iinfo(np.uint64).max, dtype=_U64)
    bitcnt = np.zeros((n_words, 64), dtype=np.int64)
    for s in range(0, n, _BLOCK):
        ub = u[s : s + _BLOCK]
        vals = ub[:, None] * a[None, :]
        vals += b[None, :]
        np.minimum(mins, vals.min(axis=0), out=mins)
        for j in range(n_words):
            v = splitmix64(ub + offs[j])
            if _LITTLE:
                bitcnt[j] += np.unpackbits(
                    v.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                ).sum(axis=0, dtype=np.int64)
            else:
                bitcnt[j] += (
                    (v[:, None] >> shifts[None, :]) & _U64(1)
                ).sum(axis=0, dtype=np.int64)
    # High bits of the min, reinterpreted into the signed storage type
    # (the wrap is a bijection on the truncated value, so equality —
    # the only operation downstream — is preserved).
    minhash = (
        (mins >> _U64(64 - mh_bits))
        .astype(np.int64)
        .astype(_MINHASH_DTYPE[mh_bits])
    )
    # bit set iff strictly more than half the shingles set it (exact
    # integer form of the old float `bits > n/2` comparison)
    words = np.empty(n_words, dtype=np.int64)
    for j in range(n_words):
        mask = (2 * bitcnt[j]) > n
        words[j] = (
            (mask.astype(_U64) << shifts).sum(dtype=_U64).astype(np.int64)
        )
    return minhash, words


_EMPTY_I64 = np.empty(0, dtype=np.int64)


def make_fingerprint_udf(cfg: DedupConfig = DEFAULT, store_sketch: bool = True):
    """Series→DataFrame pandas UDF computing all fingerprint columns in
    one Arrow pass. Usage::

        df.withColumn("fp", make_fingerprint_udf(cfg)(F.col("text")))

    ``store_sketch=False`` emits empty ``shingles`` arrays (schema
    unchanged): the bottom-k sketch exists only for the exact-Jaccard
    verify, and when verification runs in signature-estimate mode the
    sketch would be pure dead weight — up to ``max_shingles_per_doc``
    longs per row through every downstream shuffle and parquet write.
    """

    def _compute(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        a, b = _permutation_params(cfg.num_hashes, cfg.minhash_seed)
        n_words = cfg.simhash_bits // 64
        offs = _stream_offsets(n_words, cfg.simhash_seed)
        shifts = np.arange(64, dtype=_U64)
        for texts in it:
            mh, sh, sk, ns = [], [], [], []
            with np.errstate(over="ignore"):
                for t in texts:
                    u = shingle_hashes(t or "", cfg)
                    minhash, words = _fingerprint_core(
                        u, a, b, offs, shifts, cfg.minhash_bits
                    )
                    mh.append(minhash)
                    sh.append(words)
                    sk.append(u.astype(np.int64) if store_sketch else _EMPTY_I64)
                    ns.append(len(u))
            yield pd.DataFrame(
                {
                    "minhash": mh,
                    "simhash": sh,
                    "shingles": sk,
                    "n_shingles": ns,
                }
            )

    return F.pandas_udf(_compute, fingerprint_schema(cfg))


def exact_jaccard(u: np.ndarray, v: np.ndarray) -> float:
    """Exact Jaccard of two shingle-hash sets (test/oracle helper)."""
    inter = len(np.intersect1d(u, v, assume_unique=True))
    union = len(u) + len(v) - inter
    return inter / union if union else 1.0
