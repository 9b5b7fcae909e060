"""Golden-pair conformance for the URL normalizer chain.

Pairs ported from the reference's test expectations:
TestBasicURLNormalizer.java:44-290 (the expectations, not the code).
"""

import pytest

from nutch_spark.urls.normalizer import basic_normalize, normalize, regex_normalize

BASIC_PAIRS = [
    # NUTCH-1098 percent-encoding normalization
    ("http://foo.com/%66oo.html", "http://foo.com/foo.html"),
    ("http://foo.com/%66oo.htm%6c", "http://foo.com/foo.html"),
    ("http://foo.com/%66oo.ht%6dl", "http://foo.com/foo.html"),
    ("http://foo.com/%66oo.ht%6d%6c", "http://foo.com/foo.html"),
    ("http://foo.com/%66oo.htm%C0", "http://foo.com/foo.htm%C0"),
    ("http://foo.com/%66oo.htm%1A", "http://foo.com/foo.htm%1A"),
    ("http://foo.com/%66oo.htm%c0", "http://foo.com/foo.htm%C0"),
    ("http://foo.com/you%20too.html", "http://foo.com/you%20too.html"),
    ("http://foo.com/you too.html", "http://foo.com/you%20too.html"),
    ("http://foo.com/file.html%23cz", "http://foo.com/file.html%23cz"),
    ("http://foo.com/fast/dir%2fcz", "http://foo.com/fast/dir%2Fcz"),
    ("http://foo.com/!", "http://foo.com/%1A!"),
    ("http://foo.com/!", "http://foo.com/%01!"),
    ("http://mydomain.com/en Español.aspx", "http://mydomain.com/en%20Espa%C3%B1ol.aspx"),
    # NUTCH-2064 reserved characters stay escaped
    ("http://x.com/s?q=a%26b&m=10", "http://x.com/s?q=a%26b&m=10"),
    ("http://x.com/show?http%3A%2F%2Fx.com%2Fb", "http://x.com/show?http%3A%2F%2Fx.com%2Fb"),
    ("http://google.com/search?q=c%2B%2B", "http://google.com/search?q=c%2B%2B"),
    ("http://x.com/s?q=a+b", "http://x.com/s?q=a+b"),
    ("http://bücher.de/", "http://bücher.de/"),
    ("http://x.com/./a/../%66.html", "http://x.com/f.html"),
    ("http://x.com/?x[y]=1", "http://x.com/?x%5By%5D=1"),
    ("http://x.com/foo", "http://x.com/foo%C2%80"),
    ("http://x.com/foo%c2%80", "http://x.com/foo%C2%80"),
    # core normalizer behavior
    (" http://foo.com/ ", "http://foo.com/"),
    ("HTTP://foo.com/", "http://foo.com/"),
    ("http://Foo.Com/index.html", "http://foo.com/index.html"),
    ("https://example%2Ecom/", "https://example.com/"),
    (
        "https://www.0251-sachverst%c3%a4ndiger.de/",
        "https://www.0251-sachverständiger.de/",
    ),
    ("http://foo.com:80/index.html", "http://foo.com/index.html"),
    ("https://foo.com:443/index.html", "https://foo.com/index.html"),
    ("http://foo.com:81/", "http://foo.com:81/"),
    ("http://example.com:/", "http://example.com/"),
    ("https://example.com:/foobar.html", "https://example.com/foobar.html"),
    ("http://foo.com", "http://foo.com/"),
    ("http://foo.com/foo.html#ref", "http://foo.com/foo.html"),
    # dot-segment removal
    ("http://foo.com/..", "http://foo.com/"),
    ("http://foo.com/aa/./foo.html", "http://foo.com/aa/foo.html"),
    ("http://foo.com/aa/../", "http://foo.com/"),
    ("http://foo.com/aa/bb/../", "http://foo.com/aa/"),
    ("http://foo.com/aa/..", "http://foo.com/"),
    ("http://foo.com/aa/bb/cc/../../foo.html", "http://foo.com/aa/foo.html"),
    ("http://foo.com/aa/bb/../cc/dd/../ee/foo.html", "http://foo.com/aa/cc/ee/foo.html"),
    ("http://foo.com/../foo.html", "http://foo.com/foo.html"),
    ("http://foo.com/../../foo.html", "http://foo.com/foo.html"),
    ("http://foo.com/../aa/../foo.html", "http://foo.com/foo.html"),
    ("http://foo.com/aa/../../foo.html", "http://foo.com/foo.html"),
    ("http://foo.com/aa/../bb/../foo.html/../../", "http://foo.com/"),
    ("http://foo.com/../aa/foo.html", "http://foo.com/aa/foo.html"),
    ("http://foo.com/a..a/foo.html", "http://foo.com/a..a/foo.html"),
    ("http://foo.com/a..a/../foo.html", "http://foo.com/foo.html"),
    ("http://foo.com/foo.foo/../foo.html", "http://foo.com/foo.html"),
    ("http://foo.com//aa/bb/foo.html", "http://foo.com/aa/bb/foo.html"),
    ("http://foo.com/aa//bb/foo.html", "http://foo.com/aa/bb/foo.html"),
    ("http://foo.com/aa/bb//foo.html", "http://foo.com/aa/bb/foo.html"),
    ("http://foo.com//aa//bb//foo.html", "http://foo.com/aa/bb/foo.html"),
    ("http://foo.com////aa////bb////foo.html", "http://foo.com/aa/bb/foo.html"),
    ("http://foo.com/aa?referer=http://bar.com", "http://foo.com/aa?referer=http://bar.com"),
    # URLs without authority
    ("file:///foo/bar.txt", "file:///foo/bar.txt"),
    ("ftp:/", "ftp:/"),
    ("http:", "http:/"),
    ("http:////", "http:/"),
    ("http:///////", "http:/"),
    # NUTCH-2555 path must start with /
    ("http://example.com?a=1", "http://example.com/?a=1"),
    # NUTCH-2547 special characters
    ("http://www.example.com/a/c/../b/search?q=foobar|", "http://www.example.com/a/b/search?q=foobar%7C"),
    ("http://www.example.com/a/c/../b/search?q=foobar%", "http://www.example.com/a/b/search?q=foobar%25"),
    ('http://www.example.com/a/c/../b/search?q=foobar"', "http://www.example.com/a/b/search?q=foobar%22"),
    ("http://www.example.com/a/c/../b/search?q=foobar^", "http://www.example.com/a/b/search?q=foobar%5E"),
    ("http://www.example.com/a/c/../b/search?q=foobar<", "http://www.example.com/a/b/search?q=foobar%3C"),
    ("http://www.example.com/a/c/../b/search?q=foobar>", "http://www.example.com/a/b/search?q=foobar%3E"),
    ("http://www.example.com/a/c/../b/search?q=foobar`", "http://www.example.com/a/b/search?q=foobar%60"),
    ("http://www.example.com/p%zz%77%v", "http://www.example.com/p%25zzw%25v"),
    ("http://www.example.com/search?q=foobar%", "http://www.example.com/search?q=foobar%25"),
    ("http://www.example.com/search?q=foobar%2", "http://www.example.com/search?q=foobar%252"),
    ("http://www.example.com/search?q=foobar%25", "http://www.example.com/search?q=foobar%25"),
    ("http://www.example.com/search?q=foobar%252", "http://www.example.com/search?q=foobar%252"),
    # NUTCH-2609 file: path normalization
    ("file:/var/www/html/foo/../bar/index.html", "file:/var/www/html/bar/index.html"),
    ("file:/var/www/html/////./bar/index.html", "file:/var/www/html/bar/index.html"),
    # curly braces
    ("http://foo.com/{{stuff}} ", "http://foo.com/%7B%7Bstuff%7D%7D"),
    # nothing to normalize
    ("https://www.example.org/", "https://www.example.org/"),
]


@pytest.mark.parametrize("weird,normal", BASIC_PAIRS)
def test_basic_normalize(weird, normal):
    assert basic_normalize(weird) == normal


def test_invalid_percent_host_rejected():
    assert basic_normalize("https://example%2Xcom/") is None


def test_idn_to_ascii():
    assert (
        basic_normalize("https://нэб.рф/", host_idn="toAscii")
        == "https://xn--90ax2c.xn--p1ai/"
    )


def test_trailing_dot_trim():
    assert (
        basic_normalize("https://www.example.org./", trim_trailing_dot=True)
        == "https://www.example.org/"
    )


REGEX_PAIRS = [
    # session-id strip (regex-normalize.xml.template rule 1)
    ("http://foo.com/foo.php?phpsessid=2Aa3ASdfasfdadf&a=1", "http://foo.com/foo.php?a=1"),
    # anchor strip
    ("http://foo.com/foo.html#anchor", "http://foo.com/foo.html"),
    # ?& -> ?
    ("http://foo.com/page?&x=1", "http://foo.com/page?x=1"),
    # && collapse
    ("http://foo.com/page?x=1&&y=2", "http://foo.com/page?x=1&y=2"),
    # trailing ? strip
    ("http://foo.com/page?", "http://foo.com/page"),
    # duplicate slash collapse (not after scheme)
    ("http://foo.com/a//b", "http://foo.com/a/b"),
]


@pytest.mark.parametrize("weird,normal", REGEX_PAIRS)
def test_regex_normalize(weird, normal):
    assert regex_normalize(weird) == normal


def test_chain():
    assert normalize("HTTP://Foo.Com//a/../b?phpsessid=xyz&k=v#frag") == "http://foo.com/b?k=v"
    assert normalize(None) is None
    assert normalize("not a url") is None


# ---------------------------------------------------------------------------
# property: the JVM fast path may only accept true fixed points
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nutch_spark.urls.normalizer import fast_canonical_cond, normalize_col


def _assert_fast_path_sound(spark, urls):
    """Every URL ``fast_canonical_cond`` waves through is a fixed point
    of ``normalize``, and ``normalize_col`` (fast path + UDF) equals the
    per-string chain on every URL."""
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        "url",
        F.coalesce(fast_canonical_cond(F.col("url")), F.lit(False)).alias("fast"),
        normalize_col(F.col("url")).alias("norm"),
    ).collect()
    for r in rows:
        want = normalize(r["url"])
        if r["fast"]:
            assert want == r["url"], r["url"]
        assert r["norm"] == want, r["url"]
    return {r["url"]: r for r in rows}


_CANONICAL_SHAPED = st.from_regex(
    r"http://[a-z0-9.\-]{1,20}(/[A-Za-z0-9._~\-/]{0,30})?", fullmatch=True
)


@settings(max_examples=25, deadline=None)
@given(st.lists(_CANONICAL_SHAPED, min_size=1, max_size=24))
def test_fast_path_agrees_with_slow_path(spark, urls):
    """normalize_col claims a regex-guarded JVM fast path for
    already-canonical URLs; it must never skip a URL the per-string
    chain would still change."""
    _assert_fast_path_sound(spark, urls)


@settings(max_examples=200, deadline=None)
@given(
    st.from_regex(
        r"https?://[a-z0-9.\-]{1,15}(:\d{1,4})?/[a-zA-Z0-9._%\-/]{0,20}"
        r"(\?[a-z0-9=&]{0,12})?(#[a-z0-9]{0,6})?",
        fullmatch=True,
    )
)
def test_querystring_normalize_idempotent(url):
    from nutch_spark.urls.normalizer import querystring_normalize

    once = querystring_normalize(url)
    assert querystring_normalize(once) == once


def test_fast_path_excludes_trailing_newline(spark):
    """'$' and Java's \\Z match before a final newline; the fast-path
    regex must use \\z so 'url\\n' takes the slow path and normalizes
    identically to its clean twin (one frontier key, not two)."""
    rows = _assert_fast_path_sound(spark, ["http://a.example.com/x\n", "http://a.example.com/x"])
    assert not rows["http://a.example.com/x\n"]["fast"]
    assert rows["http://a.example.com/x"]["fast"]
    assert rows["http://a.example.com/x\n"]["norm"] == rows["http://a.example.com/x"]["norm"]


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["", " ", "\t"]),
            st.from_regex(
                r"https?://[a-z0-9.\-]{1,20}(/[A-Za-z0-9._~\-/]{0,30})?", fullmatch=True
            ),
            st.sampled_from(["", "\n", "\r", "\t", " ", "\r\n", "\n\n", " \n"]),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_fast_path_agrees_with_slow_path_under_whitespace(spark, padded):
    """The fast path must treat whitespace-padded URLs exactly like the
    per-string chain does — '$'-style regex anchors that match before a
    trailing newline silently fork the frontier key space."""
    _assert_fast_path_sound(spark, [lead + base + junk for lead, base, junk in padded])
