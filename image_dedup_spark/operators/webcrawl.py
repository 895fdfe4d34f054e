"""Crawl-identity operators over the canonical page table
``(doc_id, url, warc_ts, html, text, lang)``: recrawl collapse (latest
capture per url), URL canonicalization + canonical-url dedup, and
host-level rollups.

These are the web-corpus counterparts of the reference's file-path
identity model (`/root/reference/samples.cpp:44-76` keys images by
directory-walk path; a crawl keys pages by ``(url, capture_time)``).
The reference has no crawl model, so semantics follow the standard
Common-Crawl conventions: one surviving capture per canonical url (the
LATEST ``warc_ts``, ``doc_id`` tiebreak — recrawls supersede), host =
the authority component of the url minus scheme/``www.``/port.

Scale notes: every operator here is ONE hash shuffle on its key (url /
canonical url / host) with map-side partial aggregation. The per-url
winner is a struct-max — ``max(struct(ts, doc_id, payload...))`` — so
the full winning row comes out of the aggregate itself: no window (no
per-partition sort), no join-back against the corpus. URL
canonicalization is a chain of ``regexp_replace`` Column expressions
(whole-stage codegen, pushdown-eligible); no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# URL canonicalization
# --------------------------------------------------------------------------

# Tracking params to drop from query strings. utm_[a-z0-9_]+ (not just
# [a-z]+): real keys include utm_source_platform, utm_id — underscores
# and digits are part of the vocabulary. Bare keys (no '=') count too.
_TRACKING_PARAM = r"^utm_[a-z0-9_]+(=.*)?$"


def normalize_url(url: Column) -> Column:
    """Canonical form of a url: lowercase, fragment stripped, userinfo
    (``user:pw@``) stripped, default ports (``:80`` for http, ``:443``
    for https) stripped, scheme and leading ``www.`` dropped, %-escape
    hex case normalized (``%3a`` → ``%3A``), ``utm_*`` tracking params
    and empty params removed, trailing separators trimmed.

    Deterministic pure-Column chain (regexp + split/filter/array_join —
    whole-stage codegen, no UDF); the rules a Common-Crawl-style recrawl
    collapse uses to decide "same page".

    The query string is cleaned structurally — split on ``&``, drop
    tracking/empty params, rejoin — rather than by regex surgery on the
    full url. The round-4 regex "separator repair" turned a literal
    ``&`` in a query-less path into ``?`` (``a.com/a&b?utm_x=1`` →
    ``a.com/a?b``, merging distinct pages); operating on the query part
    alone cannot touch the path.
    """
    u = F.lower(url)
    u = F.regexp_replace(u, r"#.*", "")                      # fragment
    # userinfo: only when the scheme is present (authority is
    # unambiguous there); '@' later in a path is untouched because the
    # class excludes /?# and must end at '@' before any of them.
    u = F.regexp_replace(u, r"^(https?://)[^/?#@]*@", r"$1")
    # scheme-appropriate default ports (before the scheme is dropped —
    # afterwards we could no longer tell :80-on-http from :80-on-https).
    u = F.regexp_replace(u, r"^(http://[^/:?#]*):80([/?#].*)?$", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/:?#]*):443([/?#].*)?$", r"$1$2")
    u = F.regexp_replace(u, r"^https?://", "")               # scheme
    u = F.regexp_replace(u, r"^(?:www\.)+", "")              # www. (all — idempotence)
    # %-escape hex case: split on '%', uppercase the two hex chars that
    # open every later piece ('%3a…' → '%3A…'); non-hex pieces (a loose
    # literal '%') pass through. Array transform, still codegen-side.
    parts = F.split(u, "%", -1)
    u = F.array_join(
        F.transform(
            parts,
            lambda p, i: F.when(
                (i > 0) & p.rlike(r"^[0-9a-f]{2}"),
                F.concat(F.upper(F.substring(p, 1, 2)), F.substring(p, 3, 2_000_000)),
            ).otherwise(p),
        ),
        "%",
    )
    # query cleanup: split off the query, drop tracking/empty params,
    # re-attach only if something survived.
    path = F.substring_index(u, "?", 1)
    query = F.when(F.instr(u, "?") > 0, F.substring(u, F.instr(u, "?") + 1, 2_000_000))
    kept = F.filter(
        F.split(F.coalesce(query, F.lit("")), "&", -1),
        lambda p: (p != F.lit("")) & ~p.rlike(_TRACKING_PARAM),
    )
    joined = F.array_join(kept, "&")
    u = F.when(joined != F.lit(""), F.concat(path, F.lit("?"), joined)).otherwise(path)
    u = F.regexp_replace(u, r"/+$", "")                      # trailing slash(es)
    return u


def host_of(url: Column) -> Column:
    """Authority component of a url: scheme, userinfo (``user:pw@``) and
    ``www.`` dropped, cut at the first ``/ : ? #`` — i.e. the host
    without port or path. The userinfo group excludes ``/?#`` so an
    ``@`` appearing later (in path or query) can never pull the match
    forward. An empty host stays empty (``http://:80/p``,
    ``https://www.``): the host group may match nothing, so the regex
    never backtracks into reading the scheme or the userinfo as the
    host."""
    return F.regexp_extract(
        F.lower(url), r"^(?:https?://)?(?:[^/?#@]*@)?(?:www\.)*([^/:?#]*)", 1
    )


# --------------------------------------------------------------------------
# Recrawl collapse
# --------------------------------------------------------------------------

def _orderable(dt) -> bool:
    """Whether Spark can sort/compare a column of this type (map types —
    at any nesting depth — are not orderable and would fail analysis
    inside ``max(struct(...))``)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def latest_capture(
    pages: DataFrame, key_col: str = "url", ts_col: str = "warc_ts"
) -> DataFrame:
    """One row per ``key_col``: the capture with the greatest
    ``(ts_col, doc_id)``. Returns the winner's FULL row (same schema,
    column order preserved).

    Struct-max aggregation: all non-key columns ride inside
    ``max(struct(ts, doc_id, rest...))`` — struct ordering is
    lexicographic, ``doc_id`` is unique, so the payload fields never
    influence the order and the whole winning row falls out of one
    hash aggregate with map-side combine. No window sort, no
    corpus-sized join-back.

    Unorderable payload columns (maps, or arrays/structs containing
    maps) cannot ride in the packed struct — Spark's analyzer rejects
    ``max`` over them. Those columns are carried around the aggregate
    instead: winners are picked from the orderable columns, then the
    unorderable ones are joined back by the winner's ``doc_id``.
    The join-back ships only ``doc_id`` plus the map columns, deduped on
    ``doc_id`` so a duplicated id cannot multiply winner rows (one of
    its rows' carried values is taken) — still no window sort, and the
    common all-orderable schema path is unchanged (zero joins).
    """
    cols = pages.columns
    if key_col not in cols or ts_col not in cols:
        raise ValueError(f"pages must carry {key_col!r} and {ts_col!r}")
    dtypes = {f.name: f.dataType for f in pages.schema.fields}
    for c in (key_col, ts_col, "doc_id"):
        if c in dtypes and not _orderable(dtypes[c]):
            raise ValueError(f"{c!r} must be an orderable type, got {dtypes[c]}")
    rest = [c for c in cols if c not in (key_col, ts_col, "doc_id")]
    packable = [c for c in rest if _orderable(dtypes[c])]
    carried = [c for c in rest if not _orderable(dtypes[c])]
    packed = F.struct(
        F.col(ts_col), F.col("doc_id"), *[F.col(c) for c in packable]
    ).alias("_w")
    won = pages.groupBy(key_col).agg(F.max(packed).alias("_w"))
    out = won.select(
        key_col,
        F.col(f"_w.{ts_col}").alias(ts_col),
        F.col("_w.doc_id").alias("doc_id"),
        *[F.col(f"_w.{c}").alias(c) for c in packable],
    )
    if carried:
        back = pages.select("doc_id", *carried).dropDuplicates(["doc_id"])
        out = out.join(back, on="doc_id", how="inner")
    return out.select(*cols)  # original column order


def url_dedup(
    pages: DataFrame, ts_col: str = "warc_ts", keep_url: bool = False
) -> DataFrame:
    """Canonical-url dedup: normalize ``url`` and keep the latest capture
    per canonical form. ``canonical_url`` replaces (or, with
    ``keep_url``, joins) the raw ``url`` column in the output."""
    canon = pages.withColumn("canonical_url", normalize_url(F.col("url")))
    if not keep_url:
        canon = canon.drop("url")
    return latest_capture(canon, key_col="canonical_url", ts_col=ts_col)


# --------------------------------------------------------------------------
# Host rollup
# --------------------------------------------------------------------------

def host_stats(pages: DataFrame, ts_col: str = "warc_ts") -> DataFrame:
    """Per-host corpus rollup: page count, distinct urls, total text
    chars, latest capture. The groupBy key is the derived host
    expression itself — one shuffle, map-side combined; distinct-url
    counting is exact (count_distinct) which partial-aggregates on
    (host, url) before the merge."""
    h = host_of(F.col("url")).alias("host")
    return (
        pages.groupBy(h)
        .agg(
            F.count("*").alias("n_pages"),
            F.count_distinct(F.col("url")).alias("n_urls"),
            F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).alias(
                "total_text_chars"
            ),
            F.max(F.col(ts_col)).alias("latest_ts"),
        )
    )
