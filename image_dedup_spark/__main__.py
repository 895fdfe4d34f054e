"""CLI dispatch — the engine's counterpart of the reference's subcommand
surface (/root/reference/image_deduper.cpp:26-102: parse_args/run_cmd
with 12 subcommands; /root/reference/main.cpp).

Subcommand map (reference -> here):
  filter            -> filter        (quality filter + quarantine)
  gen_md5           -> gen_exact     (exact keys)
  dedup_md5         -> dedup_exact   (keep-first survivors)
  gen_dhash/phash   -> gen_fp        (MinHash+SimHash in one Arrow pass)
  dedup_dhash/phash -> dedup_near    (LSH + SimHash pairs -> components)
  merge_*           -> merge         (fold incoming into accumulated set)
  remain_*          -> remain        (drop src rows duplicated in gallery)
  pipeline          -> pipeline      (full flagship flow, resumable)

Parallelism comes from the Spark conf (the reference took n_proc from
argv[2]); inputs/outputs are parquet directories (Iceberg tables at
deployment). Run as:

  spark-submit --py-files dist/image_dedup_spark.zip -m image_dedup_spark ...
  (or: python -m image_dedup_spark <subcommand> ...)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pyspark.sql.functions as F

from image_dedup_spark.config import DEFAULT
from image_dedup_spark.functions.fingerprints import make_fingerprint_udf
from image_dedup_spark.operators import components as CC
from image_dedup_spark.sources import catalog as CAT
from image_dedup_spark.operators import crosscorpus as XC
from image_dedup_spark.operators import exact as EX
from image_dedup_spark.operators import lsh as LSH
from image_dedup_spark.operators import quality as Q
from image_dedup_spark.operators import simhash_block as SB
from image_dedup_spark.plans.pipeline import run_pipeline
from image_dedup_spark.session import get_spark
from image_dedup_spark.sources import io as IO


def _read(spark, path):
    # Accepts either a parquet directory or an Iceberg table identifier
    # (db.table) when the session has a catalog configured — the
    # deployment path for Common-Crawl-style inputs.
    return CAT.read_table(spark, path)


def _write(df, path):
    CAT.write_table(df, path, mode="overwrite")


def _fp(df, store_sketch=False):
    udf = make_fingerprint_udf(DEFAULT, store_sketch=store_sketch)
    spark = df.sparkSession
    n_par = spark.sparkContext.defaultParallelism * 2
    return (
        df.repartition(n_par)
        .select("doc_id", "url", "text", udf(F.col("text")).alias("fp"))
        .select("doc_id", "url", "text", "fp.*")
    )


def cmd_extract(spark, a):
    """Error-capturing html->text extraction (reference
    catch_non_silent.py flow): clean rows out, failures quarantined with
    a taxonomy code — nothing silently dropped."""
    from image_dedup_spark.operators import extraction as EXTR

    pages = _read(spark, a.input)
    ex = EXTR.extract_text(pages)
    clean, quar = EXTR.split_quarantine(ex)
    _write(clean, a.output)
    if a.quarantine:
        _write(quar, a.quarantine)


def cmd_filter(spark, a):
    pages = _read(spark, a.input)
    _write(Q.keep(pages, DEFAULT), a.output)
    if a.quarantine:
        _write(Q.quarantine(pages, DEFAULT), a.quarantine)


def cmd_gen_exact(spark, a):
    df = _read(spark, a.input)
    _write(df.withColumn("exact_key", EX.exact_key(F.col("text"))), a.output)


def cmd_dedup_exact(spark, a):
    df = _read(spark, a.input)
    # One md5+normalize pass: survivors and pairs both derive from it.
    lab = IO.checkpoint(EX.labels(df))
    _write(EX.survivors_from_labels(df, lab), a.output)
    if a.pairs:
        _write(EX.pairs_from_labels(lab), a.pairs)


def cmd_gen_fp(spark, a):
    _write(_fp(_read(spark, a.input), store_sketch=a.sketch), a.output)


def cmd_dedup_near(spark, a):
    fp = _read(spark, a.input)
    if a.verify in ("exact", "hybrid"):
        # Fail fast on a fingerprint table written without --sketch:
        # store_sketch=False emits empty shingle arrays while n_shingles
        # keeps the true count, so exact-Jaccard verify would silently
        # score every candidate 0 and emit zero pairs.
        bad = (
            fp.filter((F.col("n_shingles") > 0) & (F.size("shingles") == 0))
            .limit(1)
            .count()
        )
        if bad:
            raise SystemExit(
                "dedup_near --verify exact/hybrid needs shingle sketches, but "
                "the input fingerprint table has empty 'shingles' arrays (it "
                "was written by gen_fp without --sketch). Regenerate with "
                "gen_fp --sketch, or use --verify estimate."
            )
    mh = LSH.minhash_dup_pairs(fp, DEFAULT, mode=a.verify)
    sh = SB.simhash_dup_pairs(fp, DEFAULT)
    pairs = mh.unionByName(sh)
    if a.pairs:
        _write(pairs, a.pairs)
    clusters = CC.assign_clusters(fp.select("doc_id", "url"), pairs, DEFAULT)
    _write(clusters, a.output)


def _dataset_tag(path: str) -> str:
    """Normalized dataset tag from an input path: absolute, symlinks and
    ``.``/``..`` segments resolved, trailing separators stripped — so the
    SAME corpus given via different path spellings (relative vs absolute,
    trailing slash, ``./``) re-keys to the SAME doc_ids across runs, and
    downstream joins on doc_id stay stable."""
    return os.path.realpath(path).rstrip(os.sep) or os.sep


def _namespaced(df, tag: str):
    """Collision-proof doc_ids for multi-dataset folds. The reference
    keys rows by path string — globally unique by construction
    (image_deduper.cpp:143-157); here two independently-fingerprinted
    corpora can collide on doc_id, which would silently conflate rows in
    the folded table and any downstream clustering. Re-key as
    xxhash64(dataset_tag, doc_id), keeping the original id
    (``src_doc_id``) and the tag (``dataset``) as columns. Tables
    carrying BOTH marker columns (``dataset`` + ``src_doc_id`` — the
    output schema of a previous merge) pass through untouched, so
    chained folds keep stable ids; a table with only one of them is
    treated as not-yet-namespaced (a user column merely NAMED dataset
    must not skip re-keying, or a schema mismatch would conflate rows
    downstream)."""
    if "dataset" in df.columns and "src_doc_id" in df.columns:
        return df
    rest = [c for c in df.columns if c not in ("doc_id", "dataset", "src_doc_id")]
    return df.select(
        F.xxhash64(F.lit(tag), F.col("doc_id")).alias("doc_id"),
        F.col("doc_id").alias("src_doc_id"),
        F.lit(tag).alias("dataset"),
        *rest,
    )


def cmd_merge(spark, a):
    """Sequential left-fold over the incoming fingerprint tables, earlier
    datasets' copies winning — the reference folds a LIST of datasets the
    same way (/root/reference/image_deduper.cpp:143-157). Every input is
    namespaced first (:func:`_namespaced`), so overlapping doc_id ranges
    across independently-fingerprinted corpora never conflate."""
    acc = _namespaced(_read(spark, a.acc), _dataset_tag(a.acc))
    for path in a.incoming:
        inc = _namespaced(_read(spark, path), _dataset_tag(path))
        acc = XC.near_merge(acc, acc, inc, inc, DEFAULT)
    _write(acc, a.output)


def cmd_remain(spark, a):
    src = _read(spark, a.src)
    gal = _read(spark, a.gallery)
    _write(XC.near_remain(src, src, gal, DEFAULT), a.output)


def cmd_urlcollapse(spark, a):
    """Recrawl collapse: latest capture per (canonical) url — the crawl
    front-door before any content dedup (operators/webcrawl.py)."""
    from image_dedup_spark.operators import webcrawl as WCR

    pages = _read(spark, a.input)
    if a.normalize:
        _write(WCR.url_dedup(pages, ts_col=a.ts_col), a.output)
    else:
        _write(
            WCR.latest_capture(pages, key_col="url", ts_col=a.ts_col), a.output
        )


def cmd_analyze(spark, a):
    """Per-doc text-analysis table: repetition signals (Gopher-style),
    BPE-ish token counts, quality score, language guess — one
    shuffle-free projection over the corpus."""
    from image_dedup_spark.functions import text as TXTF
    from image_dedup_spark.operators import repetition as REPO

    docs = _read(spark, a.input)
    rep = REPO.repetition_stats(docs)
    t = F.coalesce(F.col("text"), F.lit(""))  # quarantine rows carry nulls
    extra = docs.select(
        "doc_id",
        TXTF.bpe_token_count(t).alias("n_bpe_tokens"),
        F.round(TXTF.quality_score(t), 6).alias("quality_score"),
        TXTF.lang_guess(t).alias("lang_guess"),
    )
    _write(rep.join(extra, "doc_id"), a.output)


def cmd_pipeline(spark, a):
    pages = _read(spark, a.input)
    res = run_pipeline(
        spark,
        pages,
        DEFAULT,
        checkpoint_dir=a.checkpoint_dir,
        include_substring=a.substring,
        verify_mode=a.verify,
        sequential=a.sequential,
    )
    _write(res.clusters, CAT.sub_target(a.output, "clusters"))
    _write(res.survivors, CAT.sub_target(a.output, "survivors"))
    _write(res.pairs, CAT.sub_target(a.output, "pairs"))
    _write(res.quarantine, CAT.sub_target(a.output, "quarantine"))
    print(json.dumps(res.metrics))


def main(argv=None):
    p = argparse.ArgumentParser(prog="image_dedup_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("extract")
    sp.add_argument("--input", required=True, help="pages table with html column")
    sp.add_argument("--output", required=True)
    sp.add_argument("--quarantine")
    sp.set_defaults(fn=cmd_extract)

    sp = sub.add_parser("filter")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--quarantine")
    sp.set_defaults(fn=cmd_filter)

    sp = sub.add_parser("gen_exact")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.set_defaults(fn=cmd_gen_exact)

    sp = sub.add_parser("dedup_exact")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--pairs")
    sp.set_defaults(fn=cmd_dedup_exact)

    sp = sub.add_parser("gen_fp")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--sketch", action="store_true")
    sp.set_defaults(fn=cmd_gen_fp)

    sp = sub.add_parser("dedup_near")
    sp.add_argument("--input", required=True, help="fingerprint table")
    sp.add_argument("--output", required=True)
    sp.add_argument("--pairs")
    sp.add_argument("--verify", default="estimate", choices=["exact", "estimate", "hybrid"])
    sp.set_defaults(fn=cmd_dedup_near)

    sp = sub.add_parser("merge")
    sp.add_argument("--acc", required=True, help="accumulated fingerprint table")
    sp.add_argument(
        "--incoming",
        required=True,
        action="append",
        help="incoming fingerprint table; repeat to fold several datasets "
        "in order (earlier wins)",
    )
    sp.add_argument("--output", required=True)
    sp.set_defaults(fn=cmd_merge)

    sp = sub.add_parser("remain")
    sp.add_argument("--src", required=True, help="src fingerprint table")
    sp.add_argument("--gallery", required=True)
    sp.add_argument("--output", required=True)
    sp.set_defaults(fn=cmd_remain)

    sp = sub.add_parser("urlcollapse")
    sp.add_argument("--input", required=True, help="pages table with url column")
    sp.add_argument("--output", required=True)
    sp.add_argument("--ts-col", default="warc_ts")
    sp.add_argument(
        "--normalize",
        action="store_true",
        help="canonicalize urls (scheme/www/utm/fragment) before collapsing",
    )
    sp.set_defaults(fn=cmd_urlcollapse)

    sp = sub.add_parser("analyze")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.set_defaults(fn=cmd_analyze)

    sp = sub.add_parser("pipeline")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--checkpoint-dir")
    sp.add_argument("--substring", action="store_true")
    sp.add_argument("--verify", default="exact", choices=["exact", "estimate", "hybrid"])
    sp.add_argument(
        "--sequential",
        action="store_true",
        help="reference-parity stage order: simhash runs only on the "
        "minhash stage's survivors (default: union-of-edges, one "
        "order-independent clustering)",
    )
    sp.set_defaults(fn=cmd_pipeline)

    a = p.parse_args(argv)
    spark = get_spark(app_name=f"image_dedup_spark_{a.cmd}")
    a.fn(spark, a)
    return 0


if __name__ == "__main__":
    sys.exit(main())
