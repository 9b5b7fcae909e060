"""JVM host/domain expressions (`host_expr` / `domain_expr`) must agree
exactly with their per-string Python twins (`get_host` / `get_domain`) —
these now feed the generate partition key, the fetch queue key and
robots lookup, dedup keys and webgraph/indexer domains, so any
divergence re-keys politeness or dedup groups silently."""

import pytest
from pyspark.sql import functions as F

from nutch_spark.urls.urlutil import (
    domain_expr,
    get_domain,
    get_host,
    get_tld,
    host_expr,
    host_udf,
    tld_expr,
)

URLS = [
    "http://host3.example.com/doc/42",
    "https://sub.a.example.com/x/y?q=1",
    "HTTP://UPPER.Example.COM/Path",
    "http://user:pw@a.example.com/x",          # userinfo stripped
    "http://user@a.com",                       # userinfo, no path
    "http://a.com:8080/x",                     # port excluded from host
    "http://a.com:8080",                       # port, no path
    "http://1.2.3.4/x",                        # IP host
    "http://1.2.3.4.5/x",                      # not an IP (5 octets)
    "http://256.1.1.1/x",                      # IP regex is width-only
    "http://a.co.uk/x",                        # 2-level public suffix
    "http://b.a.co.uk/x",
    "http://x.example/x",                      # 'example' suffix
    "http://foo.barbaz/x",                     # unknown TLD fallback
    "http://single/x",                         # single-label host
    "http://com/x",                            # bare suffix as host
    "http://a..com/x",                         # empty label
    "http://a.com./x",                          # trailing-dot host
    "http://a.com?q=1",                        # query before any slash
    "http://a.com#f",                          # fragment before any slash
    "http:///x",                               # empty host
    "http://",                                 # empty everything
    "ftp+weird-x.y://h.example.com/z",         # exotic scheme chars
    "notaurl",
    "mailto:user@a.com",                       # no ://
    "//a.com/x",                               # scheme-relative
    "http//a.com/x",                           # missing colon
    "",
    None,
    "http://a.com/x\n",                        # newline in path
    "http://ünïcode.example.com/x",            # non-ASCII host
    "http://[::1]/x",                          # IPv6 literal keeps brackets
    "http://[::1]:8080/x",                     # IPv6 literal + port
]

# domain_expr also accepts bare hosts (no ://) like get_domain does
HOSTS = [
    "host3.example.com", "A.B.CO.UK", "1.2.3.4", "1.2.3.4.", "a.com.",
    "localhost", "com", "co.uk", "uk", "a..com", ".", "..", "x.y.z.co.jp",
]


HASH_STRINGS = [
    "http://host3.example.com/doc/42",
    "",
    "a",
    "abc",                                     # String.hashCode == 96354
    "é",                                       # 2-byte UTF-8
    "日本語テスト",                             # 3-byte UTF-8
    "\U0001F600",                              # 4-byte UTF-8 / surrogate pair
    "x\U0001F600y",
    "\U0001F600\U0010FFFF",                    # max code point
    "߿ࠀ￿",                      # UTF-8 width boundaries
    "\x01\x7f",                                # control chars
    "a" * 300,                                 # long fold
    "host1.example.com",
]


def test_hash_exprs_match_python_twins(spark):
    """java_hashcode_expr is the pure-JVM URLPartitioner hash; it must
    reproduce the reference code-unit semantics on every UTF-8 width
    class, or the outlink-follow waves' queue layout silently diverges
    from the reference."""
    from nutch_spark.urls.urlutil import java_hashcode_expr, java_string_hashcode

    df = spark.createDataFrame([(v,) for v in HASH_STRINGS + [None]], "s string")
    rows = df.select("s", java_hashcode_expr(F.col("s")).alias("jh")).collect()
    for r in rows:
        if r["s"] is None:
            # null propagates through the hash expr
            assert r["jh"] is None
            continue
        assert r["jh"] == java_string_hashcode(r["s"]), repr(r["s"])
    assert java_string_hashcode("abc") == 96354  # pin vs real Java


def test_host_expr_matches_get_host(spark):
    """host_expr (every JVM host key) and host_udf (generate's Arrow
    path) are both exact twins of get_host."""
    df = spark.createDataFrame([(u,) for u in URLS], "url string")
    rows = df.select(
        "url",
        host_expr(F.col("url")).alias("h"),
        host_udf()(F.col("url")).alias("hu"),
    ).collect()
    for r in rows:
        assert r["h"] == get_host(r["url"]), repr(r["url"])
        assert r["hu"] == get_host(r["url"]), repr(r["url"])
    # an IPv6 literal is one host, brackets included (URL.getHost)
    for u in ("http://[::1]/x", "http://[::1]:8080/x"):
        assert get_host(u) == "[::1]"


@pytest.mark.parametrize("values", [URLS, HOSTS])
def test_domain_expr_matches_get_domain(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    rows = df.select("v", domain_expr(F.col("v")).alias("d")).collect()
    for r in rows:
        assert r["d"] == get_domain(r["v"]), repr(r["v"])


@pytest.mark.parametrize("values", [URLS, HOSTS])
def test_tld_expr_matches_get_tld(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    rows = df.select("v", tld_expr(F.col("v")).alias("t")).collect()
    for r in rows:
        assert r["t"] == get_tld(r["v"]), repr(r["v"])
    # pin the walk's subtleties vs URLUtil.getDomainSuffix: a 2-label
    # suffix needs a label in front to match; bare 'co.uk' yields 'uk'
    assert get_tld("b.a.co.uk") == "co.uk"
    assert get_tld("co.uk") == "uk"
    assert get_tld("1.2.3.4") is None
