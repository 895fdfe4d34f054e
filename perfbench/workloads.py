"""Seeded input generators and their planted truth.

Every table is built from Spark built-in expressions keyed by
``xxhash64(seed, ...)``, so the same seed gives byte-identical inputs at
any parallelism. Nothing here imports the engine: a change to the
program can never change what the benchmark feeds it.

Sizes and the share of each planted kind are fixed per workload; the
seed only changes content. That keeps the work per run the same from
seed to seed while the inputs still differ.
"""

from __future__ import annotations

import hashlib
from functools import reduce
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB_SIZE = 4096
# One tail shared by ~5% of web_mix pages: crawl boilerplate.
BOILERPLATE = (
    " share this page subscribe to our newsletter cookie settings privacy"
    " policy terms of use all rights reserved contact us sitemap careers"
    " help centre accessibility statement"
)


def generator_digest() -> str:
    """sha256 of this file: names the generator that made a run's input."""
    return hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:16]


def _h(seed: int, *cols: Column) -> Column:
    return F.xxhash64(F.lit(seed), *cols)


def _u(seed: int, mod: int, *cols: Column) -> Column:
    """Uniform int in [0, mod) keyed by (seed, cols)."""
    return F.pmod(_h(seed, *cols), F.lit(mod))


def _word(seed: int, *cols: Column) -> Column:
    """One of VOCAB_SIZE words of 4-5 letters: the word's index spread
    over [26^3, 26^5) and written in base 26 with letters for digits."""
    n = F.lit(26**3) + _u(seed, VOCAB_SIZE, *cols) * 2741
    return F.translate(
        F.conv(n.cast("string"), 10, 26),
        "0123456789abcdefghijklmnop",
        "abcdefghijklmnopqrstuvwxyz",
    )


def _words(seed: int, key: Column, n: Column) -> Column:
    """array<string> of n words keyed by key."""
    return F.transform(F.sequence(F.lit(0), n - 1), lambda j: _word(seed, key, j))


def _edit(seed: int, words: Column, key: Column, pct: int) -> Column:
    """Replace ~pct% of the tokens of words, keyed by key."""
    return F.transform(
        words,
        lambda w, j: F.when(
            _u(seed, 100, key, j) < pct, _word(seed + 1, key, j)
        ).otherwise(w),
    )


def _page_len(seed: int, key: Column) -> Column:
    """Widely spread page lengths: 30 to ~630 words, skewed short (mean ~105)."""
    r = _u(seed, 1000, key).cast("double") / 1000.0
    return (F.lit(30) + F.floor(F.pow(r, 4) * 600)).cast("int")


def _as_pages(df: DataFrame) -> DataFrame:
    """The engine's web_pages shape (doc_id, url, warc_ts, html, text, lang)
    plus the planted-truth ``t_*`` columns; ``html`` and ``lang`` default
    to a well-formed page in English."""
    i = F.col("doc_id")
    cols = set(df.columns)
    html = (
        F.col("html") if "html" in cols
        else F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>"))
    )
    return _with_url(df).select(
        i,
        "url",
        F.timestamp_seconds(F.lit(1_700_000_000) + i * 60).alias("warc_ts"),
        html.cast("binary").alias("html"),
        "text",
        (F.col("lang") if "lang" in cols else F.lit("en")).alias("lang"),
        *sorted(c for c in cols if c.startswith("t_")),
    )


class WebMix:
    """Crawl-shaped pages for ``run_pipeline(include_substring=True)``.

    Of every 100 pages: 52 unique; 12 in exact-copy clusters of 3; 14 in
    near-variant clusters of 2 to 8 (~4% token edits of the cluster's
    first page); 6 in verbatim-span pairs (the second page embeds 60
    words of the first between its own text); 10 on edit chains of
    ``chain_len`` pages; 6 quality rejects (empty, short, bad language,
    malformed html). A boilerplate tail sits on ~5% of the pages off
    the chains.

    Chain page s differs from page s-1 in exactly 2 of its 50 words
    (4%): word j takes a new version every 25 steps, at a per-chain
    phase. Pages 1 and 2 steps apart clear the 0.7 Jaccard threshold, so
    a chain is a long path in the near-dup graph and one planted cluster.

    ``t_leader`` is the planted cluster (its first page); ``t_kind`` the
    kind above."""

    n_pages = 800
    chain_len = 40
    KINDS = (("unique", 52), ("exact", 12), ("near", 14), ("substring", 6),
             ("chain", 10), ("reject", 6))

    def pages(self, spark: SparkSession, seed: int) -> DataFrame:
        n, L = self.n_pages, self.chain_len
        bounds, end = {}, 0
        for name, pct in self.KINDS:
            bounds[name] = end
            end += n * pct // 100
        i = F.col("id")
        # the last kind (reject) takes whatever the rounding leaves
        kind = F.lit(self.KINDS[-1][0])
        for (name, _), (nxt, _) in reversed(list(zip(self.KINDS, self.KINDS[1:]))):
            kind = F.when(i < bounds[nxt], name).otherwise(kind)
        # near clusters cycle through sizes 2..8, so sizes never depend on seed
        near_off = i - bounds["near"]
        near_cycle = near_off % 35  # 2+3+...+8 = 35 pages per size cycle
        near_start = near_off - near_cycle + F.coalesce(
            *[F.when(near_cycle >= s, F.lit(s)) for s in (27, 20, 14, 9, 5, 2, 0)]
        )

        def grouped(k: str, size: int) -> Column:
            return bounds[k] + F.floor((i - bounds[k]) / size) * size

        leader = (
            F.when(kind == "exact", grouped("exact", 3))
            .when(kind == "near", bounds["near"] + near_start)
            .when(kind == "substring", grouped("substring", 2))
            .when(kind == "chain", grouped("chain", L))
            .otherwise(i)
        ).cast("long")
        ids = spark.range(n).select(
            i.alias("doc_id"), kind.alias("t_kind"), leader.alias("t_leader")
        )

        d, lead, k = F.col("doc_id"), F.col("t_leader"), F.col("t_kind")
        variant = d - lead
        base = _words(seed, lead, _page_len(seed + 1, lead))
        # a span source page is 60 words longer, so it always holds the span
        span_src = _words(seed, lead, _page_len(seed + 1, lead) + 60)
        embed = F.concat(
            _words(seed + 3, d, (_u(seed + 4, 60, d) + 30).cast("int")),
            F.slice(span_src, 1, 60),
            _words(seed + 5, d, (_u(seed + 6, 60, d) + 30).cast("int")),
        )
        off = _u(seed + 8, 25, lead)
        chain = F.transform(
            F.sequence(F.lit(0), F.lit(49)),
            lambda j: _word(seed + 9, lead, j, F.floor((variant + off + j) / 25)),
        )
        words = (
            F.when((k == "near") & (variant > 0), _edit(seed + 2, base, d, 4))
            .when((k == "substring") & (variant > 0), embed)
            .when(k == "substring", span_src)
            .when(k == "chain", chain)
            .otherwise(base)
        )
        # every 20th planted cluster (by leader) carries the tail, so exact
        # copies stay byte-identical; chains are left out, because one
        # 40-page chain would swing the tail's share from seed to seed
        boiler = ~k.isin("reject", "chain") & ((lead + seed) % 20 == 0)
        body = ids.withColumn("body", F.concat_ws(" ", words)).withColumn(
            "body",
            F.when(boiler, F.concat("body", F.lit(BOILERPLATE))).otherwise(F.col("body")),
        )
        rej = d % 4
        text = (
            F.when(k != "reject", F.col("body"))
            .when(rej == 0, F.lit(""))
            .when(rej == 1, F.lit("too short"))
            .otherwise(F.col("body"))
        )
        pages = body.withColumn("text", text).withColumn(
            "lang", F.when((k == "reject") & (rej == 2), "zz").otherwise("en")
        )
        html = F.when(
            (k == "reject") & (rej == 3),
            F.concat(F.lit("<div>"), F.col("text"), F.lit("</span>")),
        ).otherwise(F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")))
        return _as_pages(pages.withColumn("html", html).drop("body"))


class MergeBatches:
    """A seeded gallery and K crawl batches for ``incremental_near_merge``.

    Each batch has 20% exact and 20% near (~4% token edits) copies, 60%
    novel pages. From the second batch on, half the copies are of the
    previous batch's novel pages, which the fold appended to the table it
    now reads; the rest copy gallery pages. ``t_src`` is the planted
    source of a copy (null for gallery and novel pages)."""

    gallery = 800
    batches = 5
    batch_pages = 300

    def gallery_pages(self, spark: SparkSession, seed: int) -> DataFrame:
        i = F.col("id")
        return spark.range(self.gallery).select(
            i.alias("doc_id"),
            F.concat_ws(" ", _words(seed, i, _page_len(seed + 1, i))).alias("text"),
        ).transform(_with_url)

    def batch(self, spark: SparkSession, seed: int, k: int) -> DataFrame:
        b, g = self.batch_pages, self.gallery
        n_copy = b * 40 // 100
        n_novel = b - n_copy
        t = F.col("id")
        first_id = g + k * b
        is_copy = t < n_copy
        exact = t < n_copy // 2
        # copies: odd slots of later batches copy the previous batch's novel pages
        prev_novel = F.lit(g + (k - 1) * b + n_copy) + t % n_novel
        gal = F.lit(k * n_copy) + t  # disjoint gallery slice per batch
        src = F.when(
            is_copy,
            F.when(F.lit(k > 0) & (t % 2 == 1), prev_novel).otherwise(gal % g),
        ).cast("long")
        novel_id = F.lit(first_id) + t
        # gallery and novel pages are keyed by their own doc_id, so a copy
        # rebuilds its source's words without a join
        src_words = _words(seed, src, _page_len(seed + 1, src))
        words = (
            F.when(~is_copy, _words(seed, novel_id, _page_len(seed + 1, novel_id)))
            .when(exact, src_words)
            .otherwise(_edit(seed + 2, src_words, novel_id, 4))
        )
        return spark.range(b).select(
            (F.lit(first_id) + t).alias("doc_id"),
            F.concat_ws(" ", words).alias("text"),
            src.alias("t_src"),
        ).transform(_with_url)

    def pages(self, spark: SparkSession, seed: int) -> DataFrame:
        """Gallery and batches in one table: ``t_batch`` is the batch
        number, -1 for the gallery."""
        return reduce(DataFrame.unionByName, [
            self.gallery_pages(spark, seed).withColumns(
                {"t_src": F.lit(None).cast("long"), "t_batch": F.lit(-1)}),
            *[self.batch(spark, seed, k).withColumn("t_batch", F.lit(k))
              for k in range(self.batches)],
        ])


def _with_url(df: DataFrame) -> DataFrame:
    i = F.col("doc_id")
    return df.withColumn(
        "url",
        F.concat(
            F.lit("https://s"), _u(11, 500, i).cast("string"),
            F.lit(".example/p/"), i.cast("string"),
        ),
    )
