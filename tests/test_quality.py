"""Quality filter + quarantine (reference: image_filter.cpp:13-82,
catch_non_silent.py bad/warn splits)."""

import pyspark.sql.functions as F

from image_dedup_spark.operators import quality as Q


def test_reject_reasons(spark):
    rows = [
        (1, "<html><body>ok</body></html>", "x" * 100, "en", None),
        (2, "<html><body></body></html>", "", "en", "text_too_short"),
        (3, "<html><body>ok</body></html>", "y" * 100, "zz", "bad_lang"),
        (4, "<div>bad</span>", "z" * 100, "en", "malformed_html"),
        (5, "<html><body>ok</body></html>", "w" * 100, None, "bad_lang"),
        (6, None, "v" * 100, "en", "malformed_html"),
    ]
    df = spark.createDataFrame(
        [(i, h and h.encode(), t, lg) for i, h, t, lg, _ in rows],
        "doc_id long, html binary, text string, lang string",
    )
    got = {
        r.doc_id: r.reject_reason
        for r in Q.with_reject_reason(df).collect()
    }
    for i, _, _, _, expect in rows:
        assert got[i] == expect, (i, got[i])


def test_planted_rejects_quarantined(spark, corpus):
    pages, truth = corpus
    qr = Q.quarantine(pages).join(truth.select("doc_id", "kind"), "doc_id")
    # every quarantined doc is a planted reject, and all rejects are caught
    assert qr.filter(F.col("kind") != "reject").count() == 0
    n_rejects = truth.filter(F.col("kind") == "reject").count()
    assert qr.count() == n_rejects
    # reasons are populated
    assert qr.filter(F.col("reject_reason").isNull()).count() == 0
