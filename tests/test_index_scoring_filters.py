"""Indexing-filter battery, scoring-orphan/similarity, validator/automaton."""

import pytest
from pyspark.sql import functions as F
from url_oracles import validator_accept

from nutch_spark.operators.index_filters import (
    anchor_field,
    clean_mime,
    detect_mime_by_url,
    links_fields,
    metadata_fields,
    mimetype_keep,
    more_fields,
    replace_fields,
    static_fields,
)
from nutch_spark.urls.filters import AutomatonURLFilter, ValidatorURLFilter
from nutch_spark.urls.urlutil import get_tld


def test_more_fields(spark):
    rows = spark.createDataFrame(
        [
            ("http://a.com/x.html", "Text/HTML; charset=utf-8", " 123 ", 5000, 0, 9000),
            ("http://a.com/y.pdf", None, None, None, 7000, 9000),
            ("http://a.com/z", None, "  ", None, 0, 9000),
        ],
        "url string, content_type string, content_length string, "
        "last_modified long, modified_time long, fetch_time long",
    )
    out = {r["url"]: r for r in more_fields(rows).collect()}
    a = out["http://a.com/x.html"]
    assert a["type"] == "text/html"
    assert a["type_primary"] == "text" and a["type_sub"] == "html"
    assert a["content_length"] == "123"
    assert a["date"] == 5000  # last-modified wins
    b = out["http://a.com/y.pdf"]
    assert b["type"] == "application/pdf"  # URL-extension fallback
    assert b["date"] == 7000  # modified_time next
    c = out["http://a.com/z"]
    assert c["type"] == "application/octet-stream"
    assert c["content_length"] is None  # whitespace-only -> null
    assert c["date"] == 9000  # fetch_time last


def test_anchor_dedup_and_metadata(spark):
    docs = spark.createDataFrame([("u1",), ("u2",)], "url string")
    linkdb = spark.createDataFrame(
        [("u1", [("f1", "Home"), ("f2", "home"), ("f3", "About")])],
        "url string, inlinks array<struct<from_url string, anchor string>>",
    )
    out = {r["url"]: r for r in anchor_field(docs, linkdb, deduplicate=True).collect()}
    assert out["u1"]["anchors"] == ["Home", "About"]  # ci-dedup keeps first
    assert out["u2"]["anchors"] == []

    md = spark.createDataFrame(
        [("u1", {"k": "a, b , ,c"}, {"author": " me "})],
        "url string, metadata map<string,string>, parse_metadata map<string,string>",
    )
    row = metadata_fields(
        md, db_keys=("k",), parse_keys=("author",),
        separator=",", mv_fields=("k",),
    ).collect()[0]
    assert row["k"] == ["a", "b", "c"] and row["author"] == ["me"]


def test_replace_static_mimegate(spark):
    docs = spark.createDataFrame(
        [("u1", "h1.example.com", "page 42"), ("u2", "other.com", "page 43")],
        "url string, host string, title string",
    )
    out = replace_fields(docs, [{
        "scope": "host", "match": r"^h1\.", "field": "title",
        "to_field": "t2", "pattern": r"\d+", "replacement": "#",
    }])
    rows = {r["url"]: r for r in static_fields(out, {"src": ["x"]}).collect()}
    assert rows["u1"]["t2"] == "page #" and rows["u2"]["t2"] is None
    assert rows["u1"]["src"] == ["x"]

    mt = spark.createDataFrame(
        [("text/html",), ("application/pdf",), (None,)], "t string"
    )
    keep = [
        r["k"] for r in mt.select(
            mimetype_keep(F.col("t"), ["application"]).alias("k")
        ).collect()
    ]
    assert keep == [True, False, True]  # block application/*, null passes


def test_links_fields(spark):
    docs = spark.createDataFrame([("http://a.com/p",)], "url string")
    outlinks = spark.createDataFrame(
        [("http://a.com/p", "http://a.com/q"),   # same host -> dropped
         ("http://a.com/p", "http://b.com/r"),
         ("http://a.com/p", "http://b.com/s")],  # same host as r -> one entry
        "url string, to_url string",
    )
    linkdb = spark.createDataFrame(
        [("http://a.com/p", [("http://c.com/z", "a")])],
        "url string, inlinks array<struct<from_url string, anchor string>>",
    )
    row = links_fields(
        docs, outlinks, linkdb, only_hosts=True, ignore_same_host_out=True
    ).collect()[0]
    assert row["outlinks"] == ["b.com"]
    assert row["inlinks"] == ["c.com"]


def test_scoring_orphan(spark):
    from nutch_spark.operators.scoring import orphan_update

    now = 1_700_000_000
    db = spark.createDataFrame(
        [("u1", 2, {"_orphan_": str(now - 45 * 86400)}),
         ("u2", 2, {"_orphan_": str(now - 35 * 86400)}),
         ("u3", 2, {"_orphan_": str(now - 5 * 86400)}),
         ("u4", 2, {}),
         ("u5", 2, {"_orphan_": str(now - 45 * 86400)})],
        "url string, status int, metadata map<string,string>",
    )
    inl = spark.createDataFrame([("u5", 3)], "url string, n_inlinks long")
    out = {r["url"]: r for r in orphan_update(db, inl, now).collect()}
    assert out["u1"]["status"] == 8      # > 40d -> orphan
    assert out["u2"]["status"] == 3      # > 30d -> gone
    assert out["u3"]["status"] == 2      # fresh enough
    assert out["u4"]["status"] == 2      # never stamped
    assert out["u5"]["status"] == 2      # inlinked: refreshed, not aged
    assert out["u5"]["metadata"]["_orphan_"] == str(now)


def test_scoring_similarity(spark):
    from nutch_spark.operators.scoring import similarity_scores

    pt = spark.createDataFrame(
        [("u1", "spark engine spark"), ("u2", "unrelated words only"),
         ("u3", ""), ("u4", None)],
        "url string, text string",
    )
    out = {r["url"]: r["score"] for r in
           similarity_scores(pt, "spark engine", stopwords=("the",)).collect()}
    # doc tf {spark:2, engine:1}, gold {spark:1, engine:1}:
    # 3 / (sqrt(5) * sqrt(2))
    assert out["u1"] == pytest.approx(3 / (5 ** 0.5 * 2 ** 0.5), abs=1e-6)
    assert out["u2"] == 0.0 and out["u3"] == 0.0 and out["u4"] == 0.0


def test_validator_and_automaton(spark):
    v = ValidatorURLFilter()
    cases = [
        ("https://issues.apache.org/jira/NUTCH-1127", True),
        ("http://999.000.456.32/x", False),
        ("www.example.com/main.html", False),
        ("http://host:123456/x", False),
        ("http://10.0.0.7/x", True),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["ok"] for r in df.select(v.cond(F.col("url")).alias("ok")).collect()]
    for (u, want), g in zip(cases, got):
        assert g == want == validator_accept(u), u

    auto = AutomatonURLFilter([r"-\.png$", r"+^http://", r"-."])
    adf = spark.createDataFrame([("http://a.com/x.html",), ("http://a.com/x.png",)], "url string")
    assert [r["ok"] for r in adf.select(auto.cond(F.col("url")).alias("ok")).collect()] == [True, False]
    with pytest.raises(ValueError):
        AutomatonURLFilter([r"+^(?=look)ahead"])


def test_tld():
    assert get_tld("http://a.b.example.com/x") == "com"
    assert get_tld("http://example.co.uk/") == "co.uk"
    assert get_tld("localhost") == "localhost"
    assert get_tld(None) is None


def test_metadata_scoring_chain(spark):
    """Port of TestMetadataScoringFilter.java: datum metadata rides to
    parse metadata, parse keys land on every outlink datum."""
    from nutch_spark.operators.scoring import (
        metadata_to_outlinks,
        metadata_to_parse,
    )
    from nutch_spark.schema import STATUS_LINKED

    page = spark.createDataFrame(
        [("u1", {"md1": "val1", "other": "x"}, {"pmd": "pv"})],
        "url string, metadata map<string,string>, "
        "parse_metadata map<string,string>",
    )
    out = metadata_to_parse(page, ["md1", "missing"]).collect()[0]
    assert out["parse_metadata"] == {"pmd": "pv", "md1": "val1"}

    links = spark.createDataFrame(
        [
            ("t1", STATUS_LINKED, "u1", {}),
            ("t2", STATUS_LINKED, "u1", {"pmd": "old"}),
            ("t3", STATUS_LINKED, "nope", {}),
        ],
        "url string, status int, from_url string, "
        "metadata map<string,string>",
    )
    pm = spark.createDataFrame(
        [("u1", {"pmd": "pv", "md1": "val1"})],
        "url string, parse_metadata map<string,string>",
    )
    got = {
        r["url"]: r["metadata"]
        for r in metadata_to_outlinks(links, pm, ["pmd", "md1"]).collect()
    }
    assert got["t1"] == {"pmd": "pv", "md1": "val1"}
    assert got["t2"] == {"pmd": "pv", "md1": "val1"}  # parent overwrites
    assert got["t3"] == {}  # unknown parent: untouched


def test_link_and_opic_indexer_scores(spark):
    from nutch_spark.operators.scoring import (
        LINK_INITIAL_SCORE,
        link_generator_sort,
        link_indexer_score,
        opic_indexer_score,
    )

    assert LINK_INITIAL_SCORE == 0.0
    df = spark.createDataFrame(
        [(4.0,), (0.25,), (None,)], "score double"
    )
    rows = df.select(
        link_indexer_score(F.col("score"), 2.0, normalized_score=1.5)
        .alias("lk"),
        opic_indexer_score(F.col("score"), 2.0).alias("op"),
        link_generator_sort(F.col("score"), 3.0).alias("gs"),
    ).collect()
    assert [r["lk"] for r in rows] == [6.0, 0.375, 2.0]
    assert [r["op"] for r in rows] == [4.0, 1.0, 2.0]
    assert rows[0]["gs"] == 12.0


def test_orphan_stamp_survives_null_metadata(spark):
    """A crawldb row with metadata=NULL that gains inlinks still gets
    the _orphan_ last-seen stamp (map_concat(NULL, ..) would null it)."""
    from nutch_spark.operators.scoring import ORPHAN_KEY, orphan_update

    db = spark.createDataFrame(
        [("http://n/", 2, 0, 0, 3600, 1.0, None, 0, None, None, None)],
        "url string, status int, fetch_time long, retries int,"
        " fetch_interval int, score float, signature string,"
        " modified_time long, metadata map<string,string>,"
        " gen_time long, repr_url string",
    )
    inl = spark.createDataFrame([("http://n/", 3)], "url string, n_inlinks int")
    (row,) = orphan_update(db, inl, 1_000).collect()
    assert row["metadata"][ORPHAN_KEY] == "1000"
