"""Hash / bitstring column expressions — the engine's ``big_int`` surface
re-expressed as native Spark types.

The reference carries fingerprints as fixed-width byte arrays with
popcount, Hamming distance (64-bit chunked XOR+popcount,
/root/reference/big_int.hpp:151-181), hex serde, ordering and equality
(/root/reference/big_int.hpp). Here fingerprints are ``array<long>``
(n x 64 bits): natively comparable/groupable, and Hamming/popcount are
whole-stage-codegen'd built-ins — no UDF, no custom type.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def popcount(fp: Column) -> Column:
    """Total set bits of an array<long> fingerprint.
    Analogue of count_nbits_set (/root/reference/big_int.hpp:87-112)."""
    return F.aggregate(fp, F.lit(0), lambda acc, x: acc + F.bit_count(x))


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two array<long> fingerprints.
    Analogue of count_diff_bits_v3 (/root/reference/big_int.hpp:151-181):
    per-64-bit-chunk XOR + popcount, summed — but expressed declaratively
    so Catalyst codegens it."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def fp_to_hex(fp: Column) -> Column:
    """Hex rendering of an array<long> fingerprint (big-endian words).
    Analogue of to_hex_string (/root/reference/big_int.hpp:75-85)."""
    return F.lower(
        F.concat_ws(
            "", F.transform(fp, lambda x: F.lpad(F.hex(x), 16, "0"))
        )
    )


def hex_to_fp(col: Column, n_words: int) -> Column:
    """Parse a hex fingerprint string back to array<long> — the inverse
    of :func:`fp_to_hex` and the analogue of create_from_string_hex
    (/root/reference/big_int.hpp:40-60), closing the text-format
    interchange loop (round-trip: hex_to_fp(fp_to_hex(fp)) == fp).

    ``conv(hex, 16, 10)`` yields the unsigned decimal string, which a
    plain long cast nulls out for values >= 2^63; parsing each 16-hex
    word as two 8-hex halves and recombining with shiftleft|bitwiseOR
    reproduces the exact 64-bit pattern (shiftleft wraps bits, which is
    the point)."""
    idx = F.sequence(F.lit(0), F.lit(n_words - 1))

    def word(i: Column) -> Column:
        hi = F.conv(F.substring(col, i * 16 + 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(col, i * 16 + 9, 8), 16, 10).cast("long")
        return F.shiftleft(hi, 32).bitwiseOR(lo)

    return F.transform(idx, word)


def md5_hash64(col: Column, seed: int = 0) -> Column:
    """Deterministic 60-bit hash of a string via md5 hex prefix.

    Cross-engine reproducible: DuckDB computes the identical value with
    ``CAST('0x' || substring(md5(s || ':<seed>'), 1, 15) AS BIGINT)`` —
    this is the hash primitive for every SQL-oracle-checkable query.
    (Production paths use xxhash64 / numpy hashing instead; this one is
    for verifiability.)
    """
    salted = F.concat(col, F.lit(f":{seed}")) if seed else col
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")


def duckdb_md5_hash64(expr: str, seed: int = 0) -> str:
    """DuckDB SQL fragment equal to md5_hash64 (keep in lockstep)."""
    salted = f"({expr}) || ':{seed}'" if seed else f"({expr})"
    return f"CAST('0x' || substring(md5({salted}), 1, 15) AS BIGINT)"
