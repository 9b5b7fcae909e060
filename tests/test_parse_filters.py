"""HtmlParseFilter battery: metatags, headings, reltag, creativecommons."""

from pyspark.sql import functions as F

from nutch_spark.operators.parse_filters import (
    cc_index_fields,
    cc_license,
    headings,
    meta_tag_pairs,
    meta_tags_map,
    rel_tags,
)

_HTML = """
<html><head>
<meta name="Keywords" content="nutch, spark"/>
<meta name="author" content="me"/>
<meta name="keywords" content="more"/>
<meta http-equiv="Refresh" content="5"/>
<meta charset="utf-8"/>
</head><body>
<h1> First <b>Heading</b>
  here </h1>
<h1>Second</h1>
<h2></h2>
<h2>Sub</h2>
<a href="http://example.com/tags/big%20data" rel="tag">b</a>
<a rel="tag" href="http://example.com/tags/spark?x=1">s</a>
<a href="http://example.com/tags/spark" rel="tag">dup</a>
<a href="http://example.com/nottag">n</a>
<a rel="tag" href="http://a.com/tags/x y">hostile: no valid URI, no tag</a>
</body></html>
"""


def _one(spark, html, col):
    return (
        spark.createDataFrame([(html,)], "html string")
        .select(col.alias("v"))
        .collect()[0]["v"]
    )


def test_meta_tags(spark):
    pairs = _one(spark, _HTML, meta_tag_pairs(F.col("html")))
    assert [(p["name"], p["value"]) for p in pairs] == [
        ("keywords", "nutch, spark"),
        ("author", "me"),
        ("keywords", "more"),
        ("refresh", "5"),
    ]
    m = _one(spark, _HTML, meta_tags_map(F.col("html"), ["Keywords", "nope"]))
    assert m == {"metatag.keywords": ["nutch, spark", "more"]}


def test_headings(spark):
    h = headings(F.col("html"))
    first = _one(spark, _HTML, F.struct(h["h1"].alias("h1"), h["h2"].alias("h2")))
    assert first["h1"] == ["First Heading here"]
    assert first["h2"] == ["Sub"]  # empty h2 dropped, first non-empty kept
    multi = headings(F.col("html"), multivalued=True)
    allh = _one(spark, _HTML, multi["h1"])
    assert allh == ["First Heading here", "Second"]


def test_rel_tags(spark):
    tags = _one(spark, _HTML, rel_tags(F.col("html")))
    assert tags == ["big data", "spark"]  # decoded, distinct, sorted


_CC_REL = (
    '<a rel="license" href="http://creativecommons.org/licenses/by-nc/2.0/">cc</a>'
    '<a href="http://creativecommons.org/licenses/by/3.0/">plain</a>'
    # a hostile href (no valid URI) is just not a CC license, not a crash
    '<a rel="tag" href="http://a.com/tags/x y">t</a>'
)
_CC_RDF = (
    "<!-- RDF here <rdf:RDF xmlns:cc=\"http://web.resource.org/cc/\">"
    '<cc:Work><dc:type rdf:resource="http://purl.org/dc/dcmitype/Text"/></cc:Work>'
    '<cc:License rdf:about="http://creativecommons.org/licenses/by-nd/1.0/">'
    "</cc:License></rdf:RDF> -->"
)


def test_cc_precedence_and_fields(spark):
    # rdf beats rel beats plain anchor (Walker.walk:87-98)
    both = _one(spark, _CC_RDF + _CC_REL, cc_license(F.col("html")))
    assert both["license_url"] == "http://creativecommons.org/licenses/by-nd/1.0/"
    assert both["license_loc"] == "rdf" and both["work_type"] == "text"

    rel_only = _one(spark, _CC_REL, cc_license(F.col("html")))
    assert rel_only["license_url"] == "http://creativecommons.org/licenses/by-nc/2.0/"
    assert rel_only["license_loc"] == "rel" and rel_only["work_type"] is None

    plain = _one(
        spark,
        '<a href="http://creativecommons.org/licenses/by/3.0/">x</a>',
        cc_license(F.col("html")),
    )
    assert plain["license_loc"] == "a"
    none = _one(spark, "<a href='http://example.com/'>x</a>", cc_license(F.col("html")))
    assert none["license_url"] is None and none["license_loc"] is None

    f = _one(
        spark,
        "http://creativecommons.org/licenses/by-nc-sa/2.5/",
        cc_index_fields(F.col("html")),
    )
    assert f["license"] == "by-nc-sa"
    assert f["features"] == ["by", "nc", "sa"]
    assert f["version"] == "2.5"
    short = _one(spark, "http://creativecommons.org/x", cc_index_fields(F.col("html")))
    assert short["license"] is None


def test_debug_dom_meta(spark):
    """parsefilter-debug: parse_meta gains a DOM key carrying the
    serialized document (here: the source markup — no DOM in a
    regex-scan engine, documented deviation)."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.parse_filters import debug_dom_meta

    df = spark.createDataFrame(
        [("u1", "<html><body>x</body></html>", {"k": "v"}), ("u2", None, None)],
        "url string, markup string, parse_meta map<string,string>",
    )
    out = {
        r["url"]: r["m"]
        for r in df.select(
            "url",
            debug_dom_meta(F.col("markup"), F.col("parse_meta")).alias("m"),
        ).collect()
    }
    assert out["u1"]["DOM"] == "<html><body>x</body></html>"
    assert out["u1"]["k"] == "v"  # existing meta preserved
    assert out["u2"]["DOM"] == ""  # null markup -> empty serialization
