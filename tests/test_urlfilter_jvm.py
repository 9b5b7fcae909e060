"""JVM-compiled URL filter chain: the `when(rlike)` column must agree
with the Python rule-chain oracle on every rule set (T4/T5), follow
java.util.regex where the two engines differ, and reject a rule Java
cannot compile; the domain / fast filters (T6, urlfilter-domain /
urlfilter-fast) must match their oracles — all with zero Python UDFs
in the plan."""

import uuid

import pytest
from pyspark.sql import functions as F
from url_oracles import domain_accept, fast_accept, regex_accept

from nutch_spark.urls.filters import (
    CRAWL_RULES,
    DEFAULT_RULES,
    DomainURLFilter,
    FastURLFilter,
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
    got = _spark_accepts(spark, rules)
    for u in URLS:
        assert got[u] == regex_accept(rules, u), (u, rules)


def test_cond_is_jvm_compiled(spark):
    df = spark.createDataFrame([("http://x.com/",)], "url string")
    plan = df.filter(
        url_filter_cond(F.col("url"), DEFAULT_RULES)
    )._jdf.queryExecution().executedPlan().toString()
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def _raises_before_any_job(spark, rules, bad_rule):
    """url_filter_cond(rules) raises ValueError naming ``bad_rule``, and
    no Spark job runs on the way."""
    sc = spark.sparkContext
    group = f"url_filter_cond_compile_check_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "rule compile check")
    try:
        with pytest.raises(ValueError, match="java.util.regex") as e:
            url_filter_cond(F.col("url"), rules)
        assert repr(bad_rule) in str(e.value)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the probe sees jobs of this group when there are any
        spark.range(1).count()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_python_only_rule_raises(spark):
    """A named group in Python syntax is not a Java regex: the rule file
    fails to load, as it does in the reference."""
    rules = ["+^http://good", r"+^http://(?P<h>good)", "-."]
    _raises_before_any_job(spark, rules, r"+^http://(?P<h>good)")


def test_backslash_capital_z_follows_java(spark):
    """Java's \\Z also matches before a final line terminator (Python's
    does not), so this rule rejects a URL with a trailing newline."""
    rules = ["-\\.png\\Z", "+."]
    got = _spark_accepts(spark, rules, ["http://a.com/x.png\n", "http://a.com/x.png", "http://a.com/x"])
    assert got == {
        "http://a.com/x.png\n": False,
        "http://a.com/x.png": False,
        "http://a.com/x": True,
    }


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
        assert got[u] == domain_accept(DOMAINS, u, deny), u
    assert got["http://example.net/z"] is deny
    assert got["http://lucene.apache.org/x"] is not deny


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
        assert fast_accept(f, u) == want, u


def test_java_invalid_rule_raises(spark):
    """A Python-valid regex Java can't compile (conditional group) is a
    configuration error raised while the column is built, not an
    executor crash at rlike time."""
    rules = [r"+(a)?(?(1)b|c)", "-."]
    _raises_before_any_job(spark, rules, r"+(a)?(?(1)b|c)")


def test_twins_agree_on_edge_urls(spark):
    """cond() and the oracles must agree on NULL, scheme-less, and
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
        assert got_fast[u] == fast_accept(fast, u), ("fast", u)
        assert got_dom[u] == domain_accept(DOMAINS, u), ("dom", u)
    assert got_fast["/doc/1"] is False                       # unparseable
    assert got_fast["http://www.example.com:8080/private/x"] is False  # host rule
    assert got_dom["http://user@lucene.apache.org/x"] is True


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
    assert not fast_accept(f, "http://www.example.com/private/x")
    assert fast_accept(f, "http://www.example.com/public")
    assert fast_accept(f, "http://other.example.org/private/x")
