"""Ported TestRobotsMetaProcessor (parse-html) over the span encoding.

Each reference HTML test page becomes a span array whose <meta>/<base>
tags are kind='meta' spans ('<name>:<content>'); the answers matrix is
the reference's verbatim (TestRobotsMetaProcessor.java:88-98)."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nutch_spark.operators.metatags import meta_directives

SPAN = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)


def _m(text, ref=None):
    return ("meta", text, ref, 0)


def _tx(text):
    return ("text", text, None, 1)


# (url, spans, no_index, no_follow, no_cache, base_href) — cases 1-9 of
# TestRobotsMetaProcessor.java:45-118 in order
CASES = [
    ("http://www.nutch.org", [_m("ROBOTS:NONE"), _m("PRAGMA:NO-CACHE"), _tx("some text")],
     True, True, True, None),
    ("http://www.nutch.org", [_m("robots:all"), _m("pragma:no-cache"), _tx("some text")],
     False, False, True, None),
    ("http://www.nutch.org", [_m("RoBoTs:nOnE"), _m("pRaGmA:No-CaChE"), _tx("some text")],
     True, True, True, None),
    ("http://www.nutch.org", [_m("robots:none"), _tx("some text")],
     True, True, False, None),
    ("http://www.nutch.org", [_m("robots:noindex,nofollow"), _tx("some text")],
     True, True, False, None),
    ("http://www.nutch.org", [_m("robots:noindex,follow"), _tx("some text")],
     True, False, False, None),
    ("http://www.nutch.org", [_m("robots:index,nofollow"), _tx("some text")],
     False, True, False, None),
    ("http://www.nutch.org/foo/", [_m("robots:index,follow"), _m("base:http://www.nutch.org/"), _tx("some text")],
     False, False, False, "http://www.nutch.org/"),
    # content-less robots meta sets nothing (missing content attr)
    ("http://www.nutch.org", [_m("robots"), _m("base:http://www.nutch.org/base/"), _tx("some text")],
     False, False, False, "http://www.nutch.org/base/"),
]


def _directives(spark, rows):
    df = spark.createDataFrame(
        rows, T.StructType([T.StructField("url", T.StringType()), T.StructField("spans", SPAN)])
    )
    return (
        df.select("url", meta_directives(F.col("spans"), F.col("url")).alias("d"))
        .select("url", "d.*")
        .collect()
    )


def test_robots_meta_matrix(spark):
    rows = [(url, spans) for url, spans, *_ in CASES]
    got = _directives(spark, rows)
    for r, (url, _, ni, nf, nc, base) in zip(got, CASES):
        assert r["no_index"] == ni, f"noindex wrong for {url}: {r}"
        assert r["no_follow"] == nf, f"nofollow wrong for {url}: {r}"
        assert r["no_cache"] == nc, f"nocache wrong for {url}: {r}"
        assert r["base_href"] == base, f"base wrong for {url}: {r}"
        assert not r["refresh"]


def test_refresh_forms(spark):
    # HTMLMetaProcessor.java:146-193: bare time -> self; url= form; ';'
    # form; unparseable time -> no refresh at all
    rows = [
        ("http://h.example.com/a/page", [_m("refresh:3")]),
        ("http://h.example.com/a/page", [_m("refresh:7;url=http://other.example.com/x")]),
        ("http://h.example.com/a/page", [_m("refresh:7; http://other.example.com/y")]),
        ("http://h.example.com/a/page", [_m("refresh:abc")]),
        # relative target resolves against the page like new URL(curr, spec)
        ("http://h.example.com/a/page", [_m("refresh:2;url=sub/p2")]),
        # pre-resolved producer target wins
        ("http://h.example.com/a/page", [_m("refresh:2;url=ignored", "http://pre.example.com/t")]),
        # last parseable refresh wins
        ("http://h.example.com/a/page",
         [_m("refresh:2;url=http://first.example.com/"), _m("refresh:9;url=http://second.example.com/")]),
    ]
    got = _directives(spark, rows)
    assert (got[0]["refresh"], got[0]["refresh_time"], got[0]["refresh_href"]) == (
        True, 3, "http://h.example.com/a/page")
    assert (got[1]["refresh_time"], got[1]["refresh_href"]) == (7, "http://other.example.com/x")
    assert (got[2]["refresh_time"], got[2]["refresh_href"]) == (7, "http://other.example.com/y")
    assert got[3]["refresh"] is False and got[3]["refresh_time"] is None
    assert got[4]["refresh_href"] == "http://h.example.com/a/sub/p2"
    assert got[5]["refresh_href"] == "http://pre.example.com/t"
    assert (got[6]["refresh_time"], got[6]["refresh_href"]) == (9, "http://second.example.com/")


def test_refresh_empty_url_target_is_page_itself(spark):
    # HTMLMetaProcessor.java:161-193: '7;url=' -> substring after url=
    # is '', new URL('') throws, new URL(currURL, '') resolves to the
    # page; 'url=' glued to the time (no ';') never parses as a time
    rows = [
        ("http://h.example.com/a/page", [_m("refresh:7;url=")]),
        ("http://h.example.com/a/page", [_m("refresh:7url=x")]),
        ("http://h.example.com/a/page", [_m("refresh:7;")]),
    ]
    got = _directives(spark, rows)
    assert (got[0]["refresh"], got[0]["refresh_time"], got[0]["refresh_href"]) == (
        True, 7, "http://h.example.com/a/page")
    assert got[1]["refresh"] is False  # time '7url=x' unparseable
    assert (got[2]["refresh"], got[2]["refresh_href"]) == (
        True, "http://h.example.com/a/page")


def test_base_hrefless_and_last_valid_wins(spark):
    # HTMLMetaProcessor.java:198-217: setBaseHref only fires when the
    # href attr exists AND the URL constructs — an href-less <base>
    # keeps the earlier valid one; among valid bases the last wins
    rows = [
        ("http://h.example.com/a/page",
         [_m("base:http://good.example.com/"), _m("base")]),
        ("http://h.example.com/a/page",
         [_m("base:http://old.example.com/"), _m("base:http://new.example.com/n/")]),
        ("http://h.example.com/a/page", [_m("base")]),
        # relative href resolves against the page
        ("http://h.example.com/a/page", [_m("base:sub/")]),
    ]
    got = _directives(spark, rows)
    assert got[0]["base_href"] == "http://good.example.com/"
    assert got[1]["base_href"] == "http://new.example.com/n/"
    assert got[2]["base_href"] is None
    assert got[3]["base_href"] == "http://h.example.com/a/sub/"


def test_robots_first_value_and_sticky_or(spark):
    # tags OR together for directives (sticky setters), but the
    # metadata 'robots' value is the FIRST tag's content
    # (Metadata.get -> values[0]; IndexerMapReduce.java:279-285)
    rows = [
        ("http://h.example.com/", [_m("robots:index,follow"), _m("robots:noindex")]),
    ]
    got = _directives(spark, rows)
    assert got[0]["no_index"] is True
    assert got[0]["robots"] == "index,follow"


# ---------------------------------------------------------------------------
# parse() integration (HtmlParser.java:208-263, ParseOutputFormat.java:273-293)
# ---------------------------------------------------------------------------

from nutch_spark.config import NutchConfig
from nutch_spark.operators.parse import parse
from nutch_spark.schema import STATUS_LINKED

NOW = 1_700_000_000_000
CFG = NutchConfig()

CONTENT_SCHEMA = (
    "url string, score float, fetch_time long, gen_time long,"
    " spans array<struct<kind:string,text:string,media_ref:string,offset:int>>,"
    " is_canonical boolean"
)


def _doc(url, spans):
    return (url, 1.0, NOW, None, spans, True)


def test_parse_nofollow_suppresses_outlinks_noindex_empties_text(spark):
    link = ("link", "a1", "http://t.example.com/1", 2)
    rows = [
        _doc("http://a.example.com/", [_m("robots:nofollow"), _tx("kept text"), link]),
        _doc("http://b.example.com/", [_m("robots:noindex"), _tx("gone text"), link]),
        _doc("http://c.example.com/", [_tx("plain"), link]),
    ]
    out = parse(spark.createDataFrame(rows, CONTENT_SCHEMA), CFG)
    links = {r["url"]: r["to_url"] for r in out["outlinks"].collect()}
    assert "http://a.example.com/" not in links  # nofollow
    assert links["http://b.example.com/"] == "http://t.example.com/1"  # noindex still follows
    assert links["http://c.example.com/"] == "http://t.example.com/1"
    texts = {r["url"]: r["text"] for r in out["parse_text"].collect()}
    assert texts["http://a.example.com/"] == "kept text"
    assert texts["http://b.example.com/"] == ""  # noindex
    assert texts["http://c.example.com/"] == "plain"


def test_parse_refresh_emits_linked_datum_with_repr(spark):
    rows = [
        # temp refresh (time < PERM_REFRESH_TIME=5) from a root page:
        # chooseRepr keeps the root source as repr
        _doc("http://a.example.com/", [_m("refresh:2;url=http://a.example.com/deep/page")]),
        # perm refresh from a root: repr = src when src is root -> src;
        # both root/den: chooseRepr(not temp) -> src root => src
        _doc("http://b.example.com/x", [_m("refresh:9;url=http://other.example.com/y")]),
        _doc("http://c.example.com/", [_tx("no refresh")]),
    ]
    out = parse(spark.createDataFrame(rows, CONTENT_SCHEMA), CFG)
    linked = {
        r["url"]: r
        for r in out["crawl_parse"].filter(F.col("from_url").isNotNull()).collect()
        if r["status"] == STATUS_LINKED and r["anchor"] is None
    }
    a = linked["http://a.example.com/deep/page"]
    assert a["from_url"] == "http://a.example.com/"
    # temp redirect root->deep keeps the root as representative
    assert a["repr_url"] == "http://a.example.com/"
    assert a["score"] == 0.0 and a["fetch_interval"] == 0
    b = linked["http://other.example.com/y"]
    # cross-domain: chooseRepr returns dst == to_url -> repr omitted
    assert b["repr_url"] is None
    assert "http://c.example.com/" not in {r["from_url"] for r in linked.values()}


def test_parse_drops_links_to_self(spark):
    # ParseOutputFormat.filterNormalize:406-408 'ignore links to self':
    # a bare-time refresh resolves to the page itself and emits NO
    # LINKED datum; a self-targeting outlink is dropped AND excluded
    # from the OPIC validCount (the surviving link takes a bigger share)
    self_link = ("link", "me", "http://a.example.com/", 1)
    other = ("link", "you", "http://t.example.com/1", 2)
    rows = [
        _doc("http://a.example.com/", [_tx("t"), self_link, other]),
        _doc("http://b.example.com/", [_m("refresh:3"), _tx("t")]),
    ]
    out = parse(spark.createDataFrame(rows, CONTENT_SCHEMA), CFG)
    links = out["outlinks"].collect()
    assert {r["to_url"] for r in links} == {"http://t.example.com/1"}
    # validCount = 1 (self link excluded): full score flows to the survivor
    assert links[0]["link_score"] == 1.0
    assert out["refresh_links"].count() == 0
    assert out["crawl_parse"].filter(F.col("status") == STATUS_LINKED).count() == 1


def test_parse_refresh_links_split_from_gateable(spark):
    # the refresh datum bypasses scoring filters in the reference
    # (appended before the outlink-targets loop) — parse() ships it in
    # 'refresh_links', and 'crawl_parse_gateable' + 'refresh_links'
    # reassemble exactly 'crawl_parse'
    rows = [
        _doc("http://a.example.com/", [_m("refresh:9;url=http://other.example.com/y"),
                                       ("link", "a1", "http://t.example.com/1", 1)]),
    ]
    out = parse(spark.createDataFrame(rows, CONTENT_SCHEMA), CFG)
    refresh = out["refresh_links"].collect()
    assert [r["url"] for r in refresh] == ["http://other.example.com/y"]
    gateable = {(r["url"], r["status"]) for r in out["crawl_parse_gateable"].collect()}
    assert ("http://other.example.com/y", STATUS_LINKED) not in gateable
    total = out["crawl_parse"].count()
    assert total == out["crawl_parse_gateable"].count() + len(refresh)


def test_parse_meta_caching_forbidden_and_indexer_noindex_delete(spark):
    rows = [
        _doc("http://a.example.com/", [_m("robots:noindex,follow"), _tx("t")]),
        _doc("http://b.example.com/", [_m("pragma:no-cache"), _tx("t")]),
        _doc("http://c.example.com/", [_tx("t")]),
    ]
    out = parse(spark.createDataFrame(rows, CONTENT_SCHEMA), CFG)
    pm = {r["url"]: r for r in out["parse_meta"].collect()}
    assert pm["http://a.example.com/"]["robots"] == "noindex,follow"
    assert pm["http://b.example.com/"]["caching_forbidden"] == "content"
    assert pm["http://c.example.com/"]["caching_forbidden"] is None

    from nutch_spark.operators.indexer import index_actions
    from nutch_spark.schema import STATUS_DB_FETCHED

    crawldb = spark.createDataFrame(
        [(u, STATUS_DB_FETCHED) for u in pm], "url string, status int"
    )
    acts = index_actions(
        crawldb,
        out["parse_text"],
        parse_meta=out["parse_meta"],
        delete_robots_noindex=True,
    )
    got = {r["url"]: (r["action"], r["reason"]) for r in acts.collect()}
    assert got["http://a.example.com/"] == ("delete", "robots_noindex")
    assert got["http://b.example.com/"] == ("add", "indexed")
    assert got["http://c.example.com/"] == ("add", "indexed")
