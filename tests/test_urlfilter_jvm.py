"""JVM-compiled URL filter chain: the `when(rlike)` column must agree
with the Python RegexURLFilter on every rule set (T4/T5), and the
domain / fast filters (T6, urlfilter-domain / urlfilter-fast) must
match their Python twins — all with zero Python UDFs in the plan."""

import pytest
from pyspark.sql import functions as F

from nutch_spark.urls.filters import (
    CRAWL_RULES,
    DEFAULT_RULES,
    DomainURLFilter,
    FastURLFilter,
    RegexURLFilter,
    java_translatable,
    url_filter_cond,
)

URLS = [
    "http://example.com/page.html",
    "https://sub.a.example.com/x/y?q=1",
    "file:///etc/passwd",
    "ftp://example.com/x",
    "mailto:user@example.com",
    "http://example.com/logo.png",
    "http://example.com/LOGO.JPG",
    "http://example.com/p?x=1",
    "http://example.com/p@2",
    "http://example.com/a/b/a/c/a/d/",
    "http://host3.example.com/doc/42",
    "https://h1.example.com/img/photo.jpg",
    "http://a.com/x.html",
    None,
]


def _spark_accepts(spark, rules, urls=URLS):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select("url", url_filter_cond(F.col("url"), rules).alias("ok")).collect()
    return {r["url"]: r["ok"] for r in out}


@pytest.mark.parametrize("rules", [DEFAULT_RULES, CRAWL_RULES,
                                   ["+^http://good", "-^http://", "+."],
                                   ["+^https://only"]])
def test_cond_matches_python_chain(spark, rules):
    py = RegexURLFilter(rules)
    got = _spark_accepts(spark, rules)
    for u in URLS:
        assert got[u] == py.accept(u), (u, rules)


def test_cond_is_jvm_compiled(spark):
    """DEFAULT_RULES are Java-translatable => no Python UDF in the plan."""
    assert all(java_translatable(r[1:]) for r in DEFAULT_RULES)
    df = spark.createDataFrame([("http://x.com/",)], "url string")
    plan = df.filter(
        url_filter_cond(F.col("url"), DEFAULT_RULES)
    )._jdf.queryExecution().executedPlan().toString()
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_python_only_rules_fall_back(spark):
    rules = [r"+^http://(?P<h>good)", "-."]  # named group: Python-only
    assert not java_translatable(rules[0][1:])
    py = RegexURLFilter(rules)
    got = _spark_accepts(spark, rules, ["http://good/x", "http://bad/x", None])
    assert got["http://good/x"] is True and got["http://bad/x"] is False


DOMAINS = ["apache.org", "www.example.com", "com"]


@pytest.mark.parametrize("deny", [False, True])
def test_domain_filter(spark, deny):
    f = DomainURLFilter(DOMAINS, deny=deny)
    urls = [
        "http://lucene.apache.org/x",     # subdomain of listed domain
        "http://apache.org/",             # exact domain
        "http://www.example.com/y",       # exact host entry
        "http://other.example.com/y",     # sibling host: only 'com' matches
        "http://example.net/z",           # no entry
        "http://my_host.example.com/x",   # underscore host: 'com' matches
        None,
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: r["ok"] for r in
           df.select("url", f.cond(F.col("url")).alias("ok")).collect()}
    for u in urls:
        assert got[u] == f.accept(u), u
    assert f.accept("http://example.net/z") is deny
    assert f.accept("http://lucene.apache.org/x") is not deny


FAST_RULES = """
# deny crawler traps on one host, tracking queries domain-wide
Host www.example.com
DenyPath /private/
DenyPath \\.cgi$

Host my_host.example.com
DenyPath /private/

Domain example.org
DenyPathQuery \\?session=
DenyPath .*

Domain .
DenyPathQuery \\butm_source=
""".splitlines()


def test_fast_filter(spark):
    f = FastURLFilter(FAST_RULES)
    urls = [
        "http://www.example.com/private/x",      # host DenyPath
        "http://www.example.com/run.cgi",        # host DenyPath regex
        "http://www.example.com/public/x",       # accepted
        "http://other.example.com/private/x",    # host scope doesn't cascade
        "http://a.example.org/anything",         # domain catch-all deny
        "http://example.org/",                   # domain catch-all, apex
        "http://any.net/p?utm_source=x",         # global DenyPathQuery
        "http://any.net/p?x=1",                  # accepted
        "http://my_host.example.com/private/x",  # underscore host DenyPath
        "http://my_host.example.com/x",          # accepted
        None,
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: r["ok"] for r in
           df.select("url", f.cond(F.col("url")).alias("ok")).collect()}
    expect = {
        "http://www.example.com/private/x": False,
        "http://www.example.com/run.cgi": False,
        "http://www.example.com/public/x": True,
        "http://other.example.com/private/x": True,
        "http://a.example.org/anything": False,
        "http://example.org/": False,
        "http://any.net/p?utm_source=x": False,
        "http://any.net/p?x=1": True,
        "http://my_host.example.com/private/x": False,
        "http://my_host.example.com/x": True,
    }
    for u, want in expect.items():
        assert got[u] == want, u
        assert f.accept(u) == want, u


def test_java_invalid_python_valid_falls_back(spark):
    """A Python-valid regex Java can't compile (conditional group) must
    take the pandas fallback, not crash the executor at rlike time."""
    rules = [r"+(a)?(?(1)b|c)", "-."]
    assert not java_translatable(rules[0][1:])
    got = _spark_accepts(spark, rules, ["ab", "c", "zzz", None])
    py = RegexURLFilter(rules)
    for u in ["ab", "c", "zzz", None]:
        assert got[u] == py.accept(u), u


def test_twins_agree_on_edge_urls(spark):
    """cond() and accept() must agree on NULL, scheme-less, and
    port/userinfo URLs (reference: URL parse failure => reject; host
    comparison is port-less)."""
    edge = [
        None,
        "/doc/1",                            # no scheme
        "not a url",
        "http://www.example.com:8080/private/x",   # port, host rule must fire
        "http://user@lucene.apache.org/x",         # userinfo
    ]
    fast = FastURLFilter(FAST_RULES)
    dom = DomainURLFilter(DOMAINS)
    df = spark.createDataFrame([(u,) for u in edge], "url string")
    got_fast = {r["url"]: r["ok"] for r in
                df.select("url", fast.cond(F.col("url")).alias("ok")).collect()}
    got_dom = {r["url"]: r["ok"] for r in
               df.select("url", dom.cond(F.col("url")).alias("ok")).collect()}
    for u in edge:
        assert got_fast[u] == fast.accept(u), ("fast", u)
        assert got_dom[u] == dom.accept(u), ("dom", u)
    assert fast.accept("/doc/1") is False                       # unparseable
    assert fast.accept("http://www.example.com:8080/private/x") is False  # host rule
    assert dom.accept("http://user@lucene.apache.org/x") is True


def test_fast_filter_tolerates_malformed_lines():
    """Bare section words and operand-less rules are skipped like any
    other malformed line (reference parser behavior), not an
    IndexError at construction."""
    f = FastURLFilter([
        "Host",                   # no operand
        "Domain # comment only",  # operand eaten by comment strip
        "Host www.example.com",
        "DenyPath # todo",        # operand-less after comment strip
        "DenyPath /private",
    ])
    assert not f.accept("http://www.example.com/private/x")
    assert f.accept("http://www.example.com/public")
    assert f.accept("http://other.example.org/private/x")
