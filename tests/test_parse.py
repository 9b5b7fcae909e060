"""Parse stage: span-order outlink extraction, caps, dedup, OPIC score
distribution, signature determinism, non-canonical fork rule
(ParseOutputFormat.java expectations; per-row invariant = span-sequence
equality)."""

import pytest
from pyspark.sql import functions as F

from nutch_spark import schema as S
from nutch_spark.config import NutchConfig
from nutch_spark.operators.parse import parse, span_signature

NOW = 1_700_000_000_000
CFG = NutchConfig()

CONTENT_SCHEMA = (
    "url string, score float, fetch_time long, gen_time long,"
    " spans array<struct<kind:string,text:string,media_ref:string,offset:int>>,"
    " is_canonical boolean"
)


def span(kind, text, media_ref=None, offset=0):
    return (kind, text, media_ref, offset)


def content(spark, rows):
    return spark.createDataFrame(rows, CONTENT_SCHEMA)


def test_outlinks_in_span_order_with_dedup_and_text(spark):
    spans = [
        span("text", "hello", None, 0),
        span("link", "a1", "http://t.example.com/1", 1),
        span("media", "m1", "http://t.example.com/img.png", 2),
        span("link", "a2", "http://t.example.com/2", 3),
        span("link", "dup", "http://t.example.com/1", 4),  # within-page dup
        span("text", "world", None, 5),
    ]
    c = content(spark, [("http://src.example.com/", 1.0, NOW, None, spans, True)])
    out = parse(c, CFG)
    pd_rows = out["parse_data"].collect()[0]
    assert [o["to_url"] for o in pd_rows["outlinks"]] == [
        "http://t.example.com/1",
        "http://t.example.com/img.png",
        "http://t.example.com/2",
    ]
    # media refs are first-class outlinks; anchors preserved
    assert [o["anchor"] for o in pd_rows["outlinks"]] == ["a1", "m1", "a2"]
    text = out["parse_text"].collect()[0]["text"]
    assert text == "hello world"


def test_outlink_cap_applies_before_filtering(spark):
    spans = [span("link", f"a{i}", f"http://t.example.com/{i}", i) for i in range(150)]
    c = content(spark, [("http://src.example.com/", 1.0, NOW, None, spans, True)])
    out = parse(c, CFG)
    assert out["outlinks"].count() == CFG.db_max_outlinks_per_page


def test_opic_score_distribution(spark):
    spans = [
        span("link", "in", "http://src.example.com/other", 0),   # internal
        span("link", "out", "http://ext.example.com/x", 1),      # external
    ]
    c = content(spark, [("http://src.example.com/", 3.0, NOW, None, spans, True)])
    out = parse(c, CFG)
    rows = {r["to_url"]: r for r in out["outlinks"].collect()}
    # score/validCount = 3.0/2 = 1.5, internal and external factors 1.0
    assert rows["http://src.example.com/other"]["link_score"] == pytest.approx(1.5)
    assert rows["http://ext.example.com/x"]["link_score"] == pytest.approx(1.5)
    # linked crawl_parse rows carry the distributed score
    linked = out["crawl_parse"].filter(F.col("status") == S.STATUS_LINKED).collect()
    assert {r["url"]: r["score"] for r in linked} == {
        "http://src.example.com/other": pytest.approx(1.5),
        "http://ext.example.com/x": pytest.approx(1.5),
    }


def test_signature_deterministic_and_content_sensitive(spark):
    spans_a = [span("text", "same", None, 0)]
    spans_b = [span("text", "same", None, 0)]
    spans_c = [span("text", "different", None, 0)]
    c = content(
        spark,
        [
            ("http://a.example.com/", 1.0, NOW, None, spans_a, True),
            ("http://b.example.com/", 1.0, NOW, None, spans_b, True),
            ("http://c.example.com/", 1.0, NOW, None, spans_c, True),
        ],
    )
    sigs = {
        r["url"]: r["signature"]
        for r in c.select("url", span_signature(F.col("spans")).alias("signature")).collect()
    }
    assert sigs["http://a.example.com/"] == sigs["http://b.example.com/"]
    assert sigs["http://a.example.com/"] != sigs["http://c.example.com/"]
    # signature rows present in crawl_parse
    out = parse(c, CFG)
    sig_rows = out["crawl_parse"].filter(F.col("status") == S.STATUS_SIGNATURE).collect()
    assert {r["url"]: r["signature"] for r in sig_rows} == sigs


def test_noncanonical_emits_synthetic_fetch_success(spark):
    c = content(
        spark,
        [
            ("http://canon.example.com/", 1.0, NOW, None, [span("text", "x", None, 0)], True),
            ("http://nc.example.com/", 1.0, NOW, None, [span("text", "y", None, 0)], False),
        ],
    )
    out = parse(c, CFG)
    synth = out["crawl_parse"].filter(F.col("status") == S.STATUS_FETCH_SUCCESS).collect()
    assert [r["url"] for r in synth] == ["http://nc.example.com/"]
    assert synth[0]["fetch_time"] == NOW  # carries the fetch time


def test_outlink_normalization_and_filtering(spark):
    spans = [
        span("link", "a", "HTTP://T.Example.COM//x/../1", 0),
        span("link", "b", "mailto:u@example.com", 1),
    ]
    c = content(spark, [("http://src.example.com/", 1.0, NOW, None, spans, True)])
    out = parse(c, CFG, url_filter_rules=["-^mailto:", "+."])
    links = out["outlinks"].collect()
    assert [r["to_url"] for r in links] == ["http://t.example.com/1"]


def test_ignore_external_links_policy(spark):
    spans = [
        span("link", "in", "http://src.example.com/other", 0),
        span("link", "out", "http://ext.example.com/x", 1),
    ]
    c = content(spark, [("http://src.example.com/", 1.0, NOW, None, spans, True)])
    cfg = CFG.with_(db_ignore_external_links=True)
    out = parse(c, cfg)
    assert [r["to_url"] for r in out["outlinks"].collect()] == ["http://src.example.com/other"]


def test_ignore_external_links_exemption_keeps_accepted_targets(spark):
    """urlfilter-ignoreexempt (ExemptionUrlFilter.java:38-44): with
    db.ignore.external.links on, an external outlink the exemption chain
    accepts is kept and one it rejects is dropped."""
    spans = [
        span("link", "in", "http://src.example.com/other", 0),
        span("link", "exempt", "http://cdn.example.org/a.png", 1),
        span("link", "out", "http://ext.example.com/x", 2),
    ]
    c = content(spark, [("http://src.example.com/", 1.0, NOW, None, spans, True)])
    cfg = CFG.with_(db_ignore_external_links=True)
    out = parse(c, cfg, exemption_rules=[r"+^http://cdn\.example\.org/", "-."])
    assert sorted(r["to_url"] for r in out["outlinks"].collect()) == [
        "http://cdn.example.org/a.png",
        "http://src.example.com/other",
    ]


def test_regex_parse_filter_sources(spark):
    from nutch_spark.operators.parse import regex_parse_filter

    content = spark.createDataFrame(
        [
            ("u1", [("text", "the quick fox", None, 0),
                    ("media", "img", "http://x/m.img", 1)]),
            ("u2", [("text", "no stopword here", None, 0)]),
        ],
        "url string, spans array<struct<kind string, text string,"
        " media_ref string, offset int>>",
    )
    rules = [("has_the", "text", r"\bthe\b"), ("has_img", "html", r"\.img")]
    out = {r["url"]: r["parse_meta"] for r in
           regex_parse_filter(content, rules).collect()}
    assert out["u1"] == {"has_the": "true", "has_img": "true"}
    assert out["u2"] == {"has_the": "false", "has_img": "false"}


def test_unlimited_outlinks_when_cap_negative(spark):
    """db.max.outlinks.per.page < 0 = unlimited (ParseOutputFormat maps
    it to Integer.MAX_VALUE); F.slice would throw on negative length."""
    from nutch_spark.config import NutchConfig
    from nutch_spark.operators.parse import parse

    spans = [("text", "t", None, 0)] + [
        ("link", f"a{i}", f"http://o.example.com/{i}", i + 1) for i in range(150)
    ]
    c = spark.createDataFrame(
        [("http://p.example.com/", 1.0, 1000, None, spans, True)],
        "url string, score float, fetch_time long, gen_time long,"
        " spans array<struct<kind string, text string, media_ref string,"
        " offset int>>, is_canonical boolean",
    )
    cfg = NutchConfig(db_max_outlinks_per_page=-1)
    n = parse(c, cfg)["outlinks"].count()
    assert n == 150  # default cap (100) would have truncated
