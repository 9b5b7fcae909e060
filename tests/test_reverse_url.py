"""TableUtil reversed-url keys (util/TableUtil.java:41-140), including
the javadoc's own example and round-trip inversion."""

from pyspark.sql import functions as F

from nutch_spark.urls.urlutil import (
    reverse_host,
    reverse_url_col,
    unreverse_url_col,
)


def _rev(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {
        r["url"]: (r["rev"], r["back"])
        for r in df.select(
            "url",
            reverse_url_col(F.col("url")).alias("rev"),
            unreverse_url_col(reverse_url_col(F.col("url"))).alias("back"),
        ).collect()
    }


def test_javadoc_example_and_roundtrip(spark):
    urls = [
        "http://bar.foo.com:8983/to/index.html?a=b",
        "http://example.com/",
        "https://a.b.c.example.org/x/y",
        "http://single/",
    ]
    got = _rev(spark, urls)
    # TableUtil.java:50-51's own example
    assert got["http://bar.foo.com:8983/to/index.html?a=b"][0] == (
        "com.foo.bar:http:8983/to/index.html?a=b"
    )
    assert got["https://a.b.c.example.org/x/y"][0] == (
        "org.example.c.b.a:https/x/y"
    )
    for u in urls:
        assert got[u][1] == u, u


def test_pathless_query_gets_leading_slash(spark):
    # URL.getFile for 'http://h?a=b' is '?a=b' -> reverseUrl prepends /
    got = _rev(spark, ["http://h.example.com?a=b"])
    assert got["http://h.example.com?a=b"][0] == "com.example.h:http/?a=b"


def test_reverse_host(spark):
    df = spark.createDataFrame([("bar.foo.com",), ("localhost",)], "h string")
    got = [
        r["r"]
        for r in df.select(reverse_host(F.col("h")).alias("r")).collect()
    ]
    assert got == ["com.foo.bar", "localhost"]


def test_reverse_url_strips_userinfo(spark):
    """java.net.URL.getHost() excludes userinfo (TableUtil.reverseUrl
    keys by host only): user@bar.com must key as com.bar."""
    df = spark.createDataFrame(
        [("http://user:pw@bar.com:8080/x?a=b",), ("http://u@bar.com/y",)],
        "url string",
    )
    rows = df.select(reverse_url_col(F.col("url")).alias("rev")).collect()
    assert rows[0]["rev"] == "com.bar:http:8080/x?a=b"
    assert rows[1]["rev"] == "com.bar:http/y"
