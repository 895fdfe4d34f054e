"""Unit tests for scalar/hash functions (SURVEY.md §5 tier 1)."""

import duckdb
import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from image_dedup_spark.config import DEFAULT
from image_dedup_spark.functions import text as TXT
from image_dedup_spark.functions.fingerprints import (
    exact_jaccard,
    make_fingerprint_udf,
    shingle_hashes,
)
from image_dedup_spark.functions.hashing import (
    duckdb_md5_hash64,
    fp_to_hex,
    hamming,
    md5_hash64,
    popcount,
)


def _kernel(s: pd.Series, cfg=DEFAULT) -> pd.DataFrame:
    """The fingerprint UDF's own Python function on one batch, no Spark."""
    return pd.concat(make_fingerprint_udf(cfg).func(iter([s])), ignore_index=True)


def _py_popcount(vals):
    return sum(bin(v & 0xFFFFFFFFFFFFFFFF).count("1") for v in vals)


def test_popcount_and_hamming_vs_python_oracle(spark):
    rng = np.random.default_rng(0)
    rows = [
        (
            [int(x) for x in rng.integers(-(2**63), 2**63, 4)],
            [int(x) for x in rng.integers(-(2**63), 2**63, 4)],
        )
        for _ in range(50)
    ]
    df = spark.createDataFrame(rows, "a array<long>, b array<long>")
    got = df.select(
        popcount(F.col("a")).alias("p"),
        hamming(F.col("a"), F.col("b")).alias("h"),
    ).collect()
    for (a, b), r in zip(rows, got):
        assert r.p == _py_popcount(a)
        expect_h = sum(
            bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1") for x, y in zip(a, b)
        )
        assert r.h == expect_h


def test_fp_to_hex(spark):
    df = spark.createDataFrame([([1, -1],)], "a array<long>")
    assert (
        df.select(fp_to_hex(F.col("a")).alias("h")).first().h
        == "0000000000000001ffffffffffffffff"
    )


def test_md5_hash64_matches_duckdb(spark):
    vals = ["", "abc", "hello world", "ünïcode ☃"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        r.s: r.h
        for r in df.select("s", md5_hash64(F.col("s"), seed=7).alias("h")).collect()
    }
    frag = duckdb_md5_hash64("?", seed=7)
    for v in vals:
        expect = duckdb.execute(f"select {frag}", [v]).fetchone()[0]
        assert got[v] == expect, v


def test_text_functions(spark):
    df = spark.createDataFrame(
        [("  The  quick THE fox ",), ("",)], "t string"
    )
    r = df.select(
        TXT.normalize(F.col("t")).alias("n"),
        TXT.token_count(F.col("t")).alias("tc"),
        TXT.distinct_word_count(F.col("t")).alias("dw"),
        TXT.stopword_ratio(F.col("t")).alias("sr"),
    ).collect()
    assert r[0].n == "the quick the fox"
    assert r[0].tc == 4
    assert r[0].dw == 3
    assert r[0].sr == pytest.approx(0.5)
    assert r[1].tc == 0 and r[1].sr == 0.0


def test_extract_text_roundtrip(spark, corpus):
    """Per-row invariant (BASELINE.json): extracted text byte-identical."""
    pages, truth = corpus
    bad = (
        pages.join(truth.select("doc_id", "kind"), "doc_id")
        .filter(F.col("kind") != "reject")
        .withColumn("ex", TXT.extract_text_from_html(F.col("html")))
        .filter(F.col("ex") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_char_shingles_expr(spark):
    df = spark.createDataFrame([("abcdef",), ("ab",)], "t string")
    r = df.select(TXT.char_shingles(F.col("t"), 4).alias("s")).collect()
    assert r[0].s == ["abcd", "bcde", "cdef"]
    assert r[1].s == []


def test_fingerprints_deterministic_and_sane():
    t1 = "the quick brown fox jumps over the lazy dog " * 10
    t2 = t1.replace("lazy", "hazy")
    t3 = "entirely different words compose this other document " * 10
    s = pd.Series([t1, t2, t3])
    fp = _kernel(s)
    mh1, mh2 = fp["minhash"], _kernel(s)["minhash"]
    for a, b in zip(mh1, mh2):
        assert (a == b).all()
    # similar docs agree on most components; dissimilar on none
    assert (mh1[0] == mh1[1]).mean() > 0.5
    assert (mh1[0] == mh1[2]).mean() < 0.1
    sh = fp["simhash"]
    d12 = _py_popcount([int(x) ^ int(y) for x, y in zip(sh[0], sh[1])])
    d13 = _py_popcount([int(x) ^ int(y) for x, y in zip(sh[0], sh[2])])
    assert d12 < d13
    u1, u2 = shingle_hashes(t1), shingle_hashes(t2)
    assert 0.5 < exact_jaccard(u1, u2) < 1.0
    assert exact_jaccard(u1, u1) == 1.0


def test_minhash_width_truncates_same_minima():
    """minhash_bits is a post-map of the SAME 64-bit minima: the
    16-bit components must equal the high 16 bits of the 32-bit ones
    (equality structure is preserved, only the storage narrows)."""
    from dataclasses import replace

    t = "the quick brown fox jumps over the lazy dog " * 10
    s = pd.Series([t])
    mh16 = _kernel(s, replace(DEFAULT, minhash_bits=16))["minhash"][0]
    mh32 = _kernel(s, replace(DEFAULT, minhash_bits=32))["minhash"][0]
    assert mh16.dtype == np.int16 and mh32.dtype == np.int32
    assert (mh16 == (mh32.astype(np.uint32) >> 16).astype(np.int16)).all()


def test_hex_roundtrip_including_negative_words(spark):
    """P8 serde both ways (big_int.hpp:40-60, 75-85): parse(render(fp))
    reproduces the exact 64-bit patterns, including sign-bit words."""
    import pyspark.sql.functions as F

    from image_dedup_spark.functions.hashing import fp_to_hex, hex_to_fp

    rows = [
        (1, [0, -1, 2**63 - 1, -(2**63), 123456789]),
        (2, [5, -42, 7, 0x0123456789ABCDEF, -(2**32)]),
    ]
    df = spark.createDataFrame(rows, "id long, fp array<long>")
    out = df.select(
        "id",
        fp_to_hex(F.col("fp")).alias("hx"),
        (hex_to_fp(fp_to_hex(F.col("fp")), 5) == F.col("fp")).alias("ok"),
    ).collect()
    assert all(r.ok for r in out)
    by_id = {r.id: r.hx for r in out}
    assert by_id[1].startswith("0000000000000000" + "f" * 16)
    assert len(by_id[1]) == 5 * 16


def test_bpe_tokens_pretokenizer_cases(spark):
    import pyspark.sql.functions as F

    from image_dedup_spark.functions import text as TXT

    cases = [
        (0, "don't stop", ["don", "'t", " stop"]),
        (1, "abc 123 x!y", ["abc", " 123", " x", "!", "y"]),
        (2, "hello,   world", ["hello", ",", " world"]),
        (3, "a1b2", ["a", "1", "b", "2"]),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases], "i long, t string")
    got = {
        r["i"]: r["toks"]
        for r in df.select("i", TXT.bpe_tokens(F.col("t")).alias("toks")).collect()
    }
    for i, t, want in cases:
        assert got[i] == want, (t, got[i], want)
