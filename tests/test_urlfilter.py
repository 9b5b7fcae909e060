"""urlfilter-regex semantics: [+-]regex lines, first match wins, no match
=> reject (lib-regex-filter/RegexURLFilterBase expectations), checked on
the JVM column the crawl filters with; urlfilter-prefix / -suffix on the
trie conditions."""

from pyspark.sql import functions as F

from nutch_spark.urls.filters import CRAWL_RULES, DEFAULT_RULES, url_filter_cond
from nutch_spark.urls.trie import prefix_match_cond, suffix_match_cond


def _evaluate(spark, cond_of, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {r["url"]: r["ok"] for r in df.select("url", cond_of(F.col("url")).alias("ok")).collect()}


def _accepts(spark, rules, urls):
    return _evaluate(spark, lambda c: url_filter_cond(c, rules), urls)


def test_default_rules(spark):
    got = _accepts(spark, DEFAULT_RULES, [
        "http://example.com/page.html",
        "file:///etc/passwd",
        "ftp://example.com/x",
        "mailto:user@example.com",
        # media suffix deny
        "http://example.com/logo.png",
        "http://example.com/LOGO.JPG",
        # query chars deny
        "http://example.com/p?x=1",
        "http://example.com/p@2",
        # path loop deny
        "http://example.com/a/b/a/c/a/d/",
    ])
    assert [u for u, ok in got.items() if ok] == ["http://example.com/page.html"]


def test_first_match_wins(spark):
    got = _accepts(spark, ["+^http://good", "-^http://", "+."], [
        "http://good.example.com/", "http://bad.example.com/", "https://other.example.com/",
    ])
    assert got == {
        "http://good.example.com/": True,
        "http://bad.example.com/": False,
        "https://other.example.com/": True,
    }


def test_no_match_rejects(spark):
    assert _accepts(spark, ["+^https://only"], ["http://example.com/"]) == {
        "http://example.com/": False
    }


def test_none_rejected(spark):
    assert _accepts(spark, DEFAULT_RULES, [None]) == {None: False}


def test_crawl_rules_accept_media_urls(spark):
    got = _accepts(spark, CRAWL_RULES, [
        "http://h1.example.com/img/photo.jpg", "https://h1.example.com/doc/1",
        "mailto:x@y.com", "file:///x",
    ])
    assert got == {
        "http://h1.example.com/img/photo.jpg": True,
        "https://h1.example.com/doc/1": True,
        "mailto:x@y.com": False,
        "file:///x": False,
    }


def test_prefix_suffix_filters(spark):
    prefix = _evaluate(
        spark, lambda c: prefix_match_cond(c, ["http://a.com/", "https://a.com/"]),
        ["http://a.com/x", "http://b.com/x"],
    )
    assert prefix == {"http://a.com/x": True, "http://b.com/x": False}
    # urlfilter-suffix rejects on a match
    suffix = _evaluate(
        spark, lambda c: ~suffix_match_cond(c, [".pdf", ".exe"]),
        ["http://a.com/x.html", "http://a.com/x.PDF"],
    )
    assert suffix == {"http://a.com/x.html": True, "http://a.com/x.PDF": False}


def test_suffix_filter_case_insensitive_entries(spark):
    """A mixed-case suffix entry ('.GIF') must still reject — suffixes
    are lowercased to match the lowercased URL."""
    got = _evaluate(
        spark, lambda c: ~suffix_match_cond(c, [".GIF"]),
        ["http://x/a.gif", "http://x/a.GIF", "http://x/a.html"],
    )
    assert got == {"http://x/a.gif": False, "http://x/a.GIF": False, "http://x/a.html": True}
