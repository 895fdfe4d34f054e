"""Crawl-identity operators (operators/webcrawl.py) and repetition /
boilerplate signals (operators/repetition.py)."""

import re
from collections import Counter
from urllib.parse import urlsplit

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from image_dedup_spark.operators import repetition as REP
from image_dedup_spark.operators import webcrawl as WC


# --------------------------------------------------------------------------
# URL canonicalization
# --------------------------------------------------------------------------

NORMALIZE_CASES = [
    ("https://a.example.com/p1", "a.example.com/p1"),
    ("HTTP://WWW.A.Example.com/p1/", "a.example.com/p1"),
    ("https://a.example.com/p1?utm_source=feed&utm_medium=rss",
     "a.example.com/p1"),
    ("https://a.example.com/p1#frag", "a.example.com/p1"),
    # utm in the middle of a kept query: separator repair must re-anchor
    # the query at the FIRST orphaned '&'
    ("https://a.example.com/p1?utm_source=x&id=7&sort=asc",
     "a.example.com/p1?id=7&sort=asc"),
    ("https://a.example.com/p1?id=7&utm_campaign=x&sort=asc",
     "a.example.com/p1?id=7&sort=asc"),
    # bare host, trailing slash only
    ("www.b.example.com/", "b.example.com"),
    # fragment before query params is stripped whole
    ("https://c.example.com/x?a=1#frag?utm_source=z",
     "c.example.com/x?a=1"),
    # --- adversarial authorities / query shapes (round-5 hardening) ---
    # userinfo stripped (with and without password)
    ("https://user:pw@a.example.com/p", "a.example.com/p"),
    ("http://alice@b.example.com/x?id=1", "b.example.com/x?id=1"),
    # default ports stripped scheme-appropriately; non-default kept
    ("http://a.example.com:80/p", "a.example.com/p"),
    ("https://a.example.com:443/p?id=2", "a.example.com/p?id=2"),
    ("https://a.example.com:443", "a.example.com"),
    ("http://a.example.com:8080/p", "a.example.com:8080/p"),
    ("https://a.example.com:80/p", "a.example.com:80/p"),  # 80 on httpS is NOT default
    # %-escape hex case normalized (uppercase canonical); loose % kept
    ("https://a.example.com/a%2fb%3Ac", "a.example.com/a%2Fb%3Ac"),
    ("https://a.example.com/100%25off", "a.example.com/100%25off"),
    ("https://a.example.com/50%-off", "a.example.com/50%-off"),
    # literal '&' in a query-less path must NOT become '?' (ADVICE r4:
    # the old separator-repair merged a.com/a&b?utm_x=1 into a.com/a?b)
    ("https://a.example.com/a&b?utm_x=1", "a.example.com/a&b"),
    ("https://a.example.com/a&b", "a.example.com/a&b"),
    # underscore/digit tracking keys; bare utm key without '='
    ("https://a.example.com/p?utm_source_platform=web&id=5",
     "a.example.com/p?id=5"),
    ("https://a.example.com/p?utm_id2=9&id=6", "a.example.com/p?id=6"),
    ("https://a.example.com/p?utm_source&id=7", "a.example.com/p?id=7"),
    # empty params dropped; consecutive separators collapse
    ("https://a.example.com/p?&id=8&&sort=asc", "a.example.com/p?id=8&sort=asc"),
    # '@' in the path is not userinfo
    ("https://a.example.com/u/@handle", "a.example.com/u/@handle"),
    # multiple trailing slashes
    ("https://a.example.com/p//", "a.example.com/p"),
]


def test_normalize_url_cases(spark):
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(NORMALIZE_CASES)], "i long, url string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select("i", WC.normalize_url(F.col("url")).alias("n")).collect()
    }
    for i, (raw, want) in enumerate(NORMALIZE_CASES):
        assert got[i] == want, f"{raw!r}: {got[i]!r} != {want!r}"


HOST_CASES = [
    ("https://www.a.example.com:8080/path?q=1", "a.example.com"),
    ("http://b.example.com/x", "b.example.com"),
    ("c.example.com", "c.example.com"),
    ("https://d.example.com#f", "d.example.com"),
    # userinfo must not shadow the host (VERDICT r4: the old class
    # stopped at ':' inside user:pw and returned the username)
    ("https://user:pw@e.example.com/p", "e.example.com"),
    ("http://alice@f.example.com", "f.example.com"),
    ("user:pw@g.example.com:8080/p", "g.example.com"),
    # '@' later in the path is not userinfo
    ("https://h.example.com/u/@handle", "h.example.com"),
    # an empty host stays empty; the scheme or userinfo is not read as one
    ("http://:80/p", ""),
    ("https://user@/p", ""),
    ("https://www.", ""),
]


def test_host_of_cases(spark):
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(HOST_CASES)], "i long, url string"
    )
    got = {
        r["i"]: r["h"]
        for r in df.select("i", WC.host_of(F.col("url")).alias("h")).collect()
    }
    for i, (u, want) in enumerate(HOST_CASES):
        assert got[i] == want, f"{u!r}: {got[i]!r} != {want!r}"


# --------------------------------------------------------------------------
# latest_capture
# --------------------------------------------------------------------------

def test_latest_capture_keeps_max_ts_full_row(spark):
    rows = [
        # (doc_id, url, ts, payload)
        (1, "u1", 100, "a"),
        (2, "u1", 300, "b"),   # winner for u1
        (3, "u1", 200, "c"),
        (4, "u2", 50, "d"),    # only capture
        (5, "u3", 70, "e"),
        (6, "u3", 70, "f"),    # ts tie -> max doc_id wins
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, warc_ts long, payload string")
    got = {
        r["url"]: (r["doc_id"], r["warc_ts"], r["payload"])
        for r in WC.latest_capture(df, key_col="url", ts_col="warc_ts").collect()
    }
    assert got == {
        "u1": (2, 300, "b"),
        "u2": (4, 50, "d"),
        "u3": (6, 70, "f"),
    }
    # schema/column order preserved
    out = WC.latest_capture(df, key_col="url", ts_col="warc_ts")
    assert out.columns == df.columns


def test_latest_capture_with_map_column(spark):
    """A map-typed payload column (unorderable — would fail analysis
    inside max(struct(...))) is carried around the aggregate and joined
    back by the winner's doc_id; values follow the winning row."""
    df = spark.createDataFrame(
        [
            (1, "u1", 100, {"etag": "a"}, "x"),
            (2, "u1", 300, {"etag": "b"}, "y"),   # winner for u1
            (3, "u2", 50, {"etag": "c"}, "z"),
        ],
        "doc_id long, url string, warc_ts long, headers map<string,string>, t string",
    )
    out = WC.latest_capture(df, key_col="url", ts_col="warc_ts")
    assert out.columns == df.columns
    got = {r["url"]: (r["doc_id"], r["headers"], r["t"]) for r in out.collect()}
    assert got == {"u1": (2, {"etag": "b"}, "y"), "u2": (3, {"etag": "c"}, "z")}


def test_latest_capture_map_column_duplicate_doc_ids(spark):
    """Duplicated doc_ids (a re-ingested capture, a bad merge) must not
    multiply rows through the map column's doc_id join-back: still
    exactly one row per key."""
    df = spark.createDataFrame(
        [
            (1, "u1", 100, {"etag": "a"}),
            (1, "u1", 100, {"etag": "a2"}),
            (2, "u1", 300, {"etag": "b"}),
            (2, "u2", 50, {"etag": "b2"}),
            (3, "u2", 40, {"etag": "c"}),
        ],
        "doc_id long, url string, warc_ts long, headers map<string,string>",
    )
    rows = WC.latest_capture(df, key_col="url", ts_col="warc_ts").collect()
    assert sorted(r["url"] for r in rows) == ["u1", "u2"]
    got = {r["url"]: (r["doc_id"], r["warc_ts"]) for r in rows}
    assert got == {"u1": (2, 300), "u2": (2, 50)}
    assert all(r["headers"]["etag"] in ("b", "b2") for r in rows)


def test_latest_capture_rejects_unorderable_key(spark):
    df = spark.createDataFrame(
        [(1, {"k": "v"}, 10)], "doc_id long, key map<string,string>, ts long"
    )
    with pytest.raises(ValueError, match="orderable"):
        WC.latest_capture(df, key_col="key", ts_col="ts")


def test_url_dedup_collapses_variants(spark):
    rows = [
        (1, "https://a.example.com/p", 10, "x"),
        (2, "http://www.a.example.com/p/", 20, "y"),       # same page, newer
        (3, "https://a.example.com/p?utm_source=s", 15, "z"),
        (4, "https://b.example.com/q", 5, "w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, warc_ts long, t string")
    got = {
        r["canonical_url"]: r["doc_id"]
        for r in WC.url_dedup(df, ts_col="warc_ts").collect()
    }
    assert got == {"a.example.com/p": 2, "b.example.com/q": 4}


def test_host_stats(spark):
    rows = [
        (1, "https://a.example.com/p1", 10, "xx"),
        (2, "https://www.a.example.com/p2", 30, "yyy"),
        (3, "https://a.example.com/p1", 20, "z"),     # same url recrawl
        (4, "http://b.example.com/q", 5, "wwww"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, warc_ts long, text string")
    got = {
        r["host"]: (r["n_pages"], r["n_urls"], r["total_text_chars"], r["latest_ts"])
        for r in WC.host_stats(df, ts_col="warc_ts").collect()
    }
    # n_urls counts RAW url spellings (docs 1 and 3 share p1; the www.
    # p2 variant is distinct) — host_stats rolls up the crawl as-is;
    # canonicalize first for canonical counts
    assert got == {
        "a.example.com": (3, 2, 6, 30),
        "b.example.com": (1, 1, 4, 5),
    }


# --------------------------------------------------------------------------
# repetition_stats — run-length maxima vs a Python Counter oracle
# --------------------------------------------------------------------------

REP_DOCS = [
    (0, "a b c d e"),                    # all distinct
    (1, "a a a a"),                      # one token repeated; bigram 'a a' x3
    (2, "x y x y x"),                    # bigrams: 'x y' x2, 'y x' x2
    (3, "w"),                            # single token, no bigrams
    (4, "p q p q p q p"),                # 'p q' x3
]


def _py_rep(text: str):
    toks = text.split()
    bigrams = [f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)]
    return {
        "n_tokens": len(toks),
        "n_distinct_tokens": len(set(toks)),
        "top_token_count": max(Counter(toks).values()) if toks else 0,
        "top_bigram_count": max(Counter(bigrams).values()) if bigrams else 0,
    }


def test_repetition_stats_matches_counter_oracle(spark):
    df = spark.createDataFrame(REP_DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in REP.repetition_stats(df).collect()}
    for doc_id, text in REP_DOCS:
        want = _py_rep(text)
        for k, v in want.items():
            assert got[doc_id][k] == v, (doc_id, k, got[doc_id], want)
    assert got[1]["dup_token_frac"] == 0.75
    assert got[4]["top_bigram_frac"] == pytest.approx(6 / 7, abs=1e-6)


def test_repetition_stats_on_corpus_matches_exploded_shape(spark, corpus):
    """The shuffle-free sorted-run-length path equals the canonical
    explode -> groupBy shape on the real synthetic corpus."""
    pages, _ = corpus
    docs = pages.select("doc_id", "text").filter(F.length("text") > 0).limit(300)
    fast = {
        r["doc_id"]: (r["top_token_count"], r["top_bigram_count"])
        for r in REP.repetition_stats(docs).collect()
    }
    toks = F.split(F.col("text"), r"\s+")
    exploded = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok").count()
        .groupBy("doc_id").agg(F.max("count").alias("top"))
    )
    slow_tok = {r["doc_id"]: r["top"] for r in exploded.collect()}
    for d, (tt, _) in fast.items():
        assert tt == slow_tok[d], d


# --------------------------------------------------------------------------
# frequent shingles — hashed scale path ≡ string oracle path
# --------------------------------------------------------------------------

def test_frequent_shingle_counts_hash_eq_string(spark, corpus):
    pages, _ = corpus
    docs = pages.select("doc_id", "text").filter(F.length("text") > 0).limit(400)
    a = {
        (r["doc_id"], r["n_frequent_shingles"], r["max_shingle_docs"])
        for r in REP.frequent_shingle_doc_counts(
            docs, hash_shingles=False
        ).collect()
    }
    b = {
        (r["doc_id"], r["n_frequent_shingles"], r["max_shingle_docs"])
        for r in REP.frequent_shingle_doc_counts(
            docs, hash_shingles=True
        ).collect()
    }
    assert a == b
    assert a, "corpus has planted duplicate structure; expected hits"


def test_frequent_shingles_small_case(spark):
    rows = [
        (0, "one two three four five six"),
        (1, "zz one two three four five yy"),   # shares 2 shingles with doc 0
        (2, "totally different words here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    freq = {
        r["shingle"]: r["n_docs"]
        for r in REP.frequent_shingles(df, hash_shingles=False).collect()
    }
    # the only 5-gram present in >= 2 docs
    assert freq == {"one two three four five": 2}


def test_repetition_stats_null_and_empty_text(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "a a")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in REP.repetition_stats(df).collect()}
    # null behaves like empty; the cross-engine split convention counts
    # empty text as one '' token (token_stats parity)
    for d in (0, 1):
        assert got[d]["n_tokens"] == 1 and got[d]["top_bigram_count"] == 0, got[d]
    assert got[2]["top_token_count"] == 2


# --------------------------------------------------------------------------
# batch property checks (seeded random; single Spark job each)
# --------------------------------------------------------------------------

def _random_messy_urls(n=300, seed=7):
    import random

    rng = random.Random(seed)
    hosts = ["a.com", "b.org", "www.c.net", "D.example.com",
             "user:pw@e.com", "alice@f.net"]
    ports = ["", "", "", ":80", ":443", ":8080"]
    schemes = ["", "http://", "https://", "HTTP://", "HTTPS://www."]
    paths = ["", "/", "/x", "/x/y", "/x/y/", "/a&b", "/x%2fy", "/50%-off", "/u/@h"]
    queries = ["", "?id=1", "?utm_source=s", "?utm_source=s&id=2",
               "?id=3&utm_medium=m", "?utm_a=1&utm_b=2", "?id=4&utm_x=9&z=5",
               "?utm_source_platform=web&id=6", "?utm_source&id=7",
               "?&id=8&&z=9", "?p=%3a%2F"]
    frags = ["", "#f", "#sec?utm_source=t"]
    return [
        rng.choice(schemes) + rng.choice(hosts) + rng.choice(ports)
        + rng.choice(paths) + rng.choice(queries) + rng.choice(frags)
        for _ in range(n)
    ]


def test_normalize_url_idempotent(spark):
    """normalize is a projection: applying it twice equals once — the
    invariant that makes canonical urls safe as join/group keys (a
    canonical table re-canonicalized must not re-key)."""
    urls = _random_messy_urls()
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, url string")
    once = WC.normalize_url(F.col("url"))
    bad = (
        df.select("url", once.alias("n1"), WC.normalize_url(once).alias("n2"))
        .filter(F.col("n1") != F.col("n2"))
        .collect()
    )
    assert bad == [], bad[:5]


def test_normalize_url_never_leaves_utm_or_scheme(spark):
    urls = _random_messy_urls(seed=11)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(WC.normalize_url(F.col("url")).alias("n")).collect()
    for r in out:
        n = r["n"]
        assert "utm_" not in n and "#" not in n, n
        assert not n.startswith(("http://", "https://", "www.")), n
        assert not n.endswith(("?", "&", "/")), n


# Generated http(s) urls: any-case scheme, optional userinfo, stacked
# `www.` prefixes, hosts whose labels may themselves be `www` (or no
# host at all), any port, and paths, queries and fragments over the RFC 3986 character
# classes (with %-escapes, tracking and empty params, `/` and `?`
# inside the query).
_ALNUM = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
_SUB_DELIMS = "!$'()*+,;="
_escape = st.sampled_from(["%3a", "%3A", "%2f", "%2F", "%25", "%", "%zz"])


def _chars(extra):
    return st.lists(
        st.one_of(st.sampled_from(_ALNUM + "-._~" + extra), _escape), max_size=6
    ).map("".join)


_label = st.one_of(st.just("www"), st.text(_ALNUM + "-", min_size=1, max_size=6))
_param = st.tuples(
    st.sampled_from(["id", "q", "utm_source", "utm_id2", "Utm_X", ""]),
    st.one_of(st.none(), _chars(_SUB_DELIMS.replace("&", "") + ":@/?")),
).map(lambda kv: kv[0] if kv[1] is None else f"{kv[0]}={kv[1]}")
http_urls = st.builds(
    lambda scheme, user, www, labels, port, segs, params, frag: (
        scheme + user + www + ".".join(labels) + port
        + "".join("/" + s for s in segs)
        + ("" if params is None else "?" + "&".join(params))
        + ("" if frag is None else "#" + frag)
    ),
    st.sampled_from(["http://", "https://", "HTTP://", "Https://"]),
    st.one_of(st.just(""), _chars(_SUB_DELIMS + ":").map(lambda u: u + "@")),
    st.sampled_from(["", "www.", "WWW.", "www.www."]),
    st.lists(_label, max_size=4),
    st.one_of(st.just(""), st.sampled_from([":80", ":443", ":"]),
              st.integers(0, 99999).map(lambda p: f":{p}")),
    st.lists(_chars(_SUB_DELIMS + ":@"), max_size=4),
    st.one_of(st.none(), st.lists(_param, max_size=4)),
    st.one_of(st.none(), _chars(_SUB_DELIMS + ":@/?#")),
)
_url_settings = settings(
    max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def _apply(spark, urls, fn):
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, url string")
    out = df.select("i", fn(F.col("url")).alias("o")).collect()
    return [r["o"] for r in sorted(out, key=lambda r: r["i"])]


@_url_settings
@given(urls=st.lists(http_urls, min_size=1, max_size=40))
def test_normalize_url_idempotent_on_generated_urls(spark, urls):
    """normalize_url is a projection over generated http(s) urls."""
    once = _apply(spark, urls, WC.normalize_url)
    twice = _apply(spark, once, WC.normalize_url)
    bad = [(u, a, b) for u, a, b in zip(urls, once, twice) if a != b]
    assert bad == [], bad[:5]


@_url_settings
@given(urls=st.lists(http_urls, min_size=1, max_size=40))
def test_host_of_matches_urlsplit_hostname(spark, urls):
    """host_of equals ``urlsplit(url).hostname`` with its leading
    ``www.`` labels stripped, as host_of strips them."""
    got = _apply(spark, urls, WC.host_of)
    want = [re.sub(r"^(?:www\.)+", "", urlsplit(u).hostname or "") for u in urls]
    bad = [(u, g, w) for u, g, w in zip(urls, got, want) if g != w]
    assert bad == [], bad[:5]


def test_latest_capture_matches_python_oracle(spark):
    import random

    rng = random.Random(13)
    rows = [
        (i, f"u{rng.randrange(40)}", rng.randrange(50), f"p{i}")
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, ts long, payload string")
    got = {
        r["url"]: (r["doc_id"], r["ts"], r["payload"])
        for r in WC.latest_capture(df, key_col="url", ts_col="ts").collect()
    }
    want = {}
    for doc_id, url, ts, payload in rows:
        cur = want.get(url)
        if cur is None or (ts, doc_id) > (cur[1], cur[0]):
            want[url] = (doc_id, ts, payload)
    assert got == want
