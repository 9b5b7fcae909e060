"""Hybrid JVM/Arrow normalization (`normalize_col`): the JVM fast-path
predicate must route every URL shape as annotated below and accept only
fixed points of the chain, and the full hybrid expression must produce
bit-identical output to the per-string chain for every URL shape —
fast, slow, malformed, null. The whole point of the hybrid is that
Arrow ships a validity bitmap instead of the URL strings for fast rows,
so any disagreement silently forks the frontier key space."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nutch_spark.urls.normalizer import (
    apply_extra_normalizers,
    basic_normalize,
    fast_canonical_cond,
    normalize,
    normalize_col,
    normalize_series,
    regex_normalize,
)

# every trap class the fast path carves around, plus plain members of
# both paths (comments give the expected routing)
URLS = [
    "http://host3.example.com/doc/42",          # fast
    "http://a.com/",                            # fast: bare slash path
    "https://a.b-c.example/x_y~z/42",           # fast: unreserved chars
    "http://a.com",                             # slow: no path -> adds '/'
    "HTTP://A.COM/x",                           # slow: uppercase scheme+host
    "http://a.com:80/x",                        # slow: default port strip
    "http://a.com:8080/x",                      # slow: explicit port kept
    "http://a.com/x?b=2&a=1",                   # slow: query
    "http://a.com/x?",                          # slow: trailing '?' stripped
    "http://a.com/x#frag",                      # slow: fragment dropped
    "http://a.com/a/./b",                       # slow: dot segment
    "http://a.com/a/../b",                      # slow: parent segment
    "http://a.com/a//b",                        # slow: duplicate slash
    "http://a.com//x",                          # slow: '//' right after host
    "http://a.com/x.",                          # slow: trailing dot rule
    "http://a.com/x\n",                         # slow: trailing newline
    " http://a.com/x",                          # slow: leading space
    "\thttp://a.com/x\r\n",                     # slow: tab + CRLF
    "http://a.com/%7Euser",                     # slow: unescape unreserved
    "http://a.com/%7euser",                     # slow: lowercase escape
    "http://a.com/x y",                         # slow: space needs escaping
    "http://a.com/ünicode",                # slow: non-ASCII
    "http://a.com/x%",                          # slow: stray percent
    "ftp://a.com/x",                            # slow: non-http scheme
    "mailto:user@a.com",                        # slow: no authority
    "http://user:pw@a.com/x",                   # slow: userinfo
    "notaurl",                                  # slow: malformed -> null
    "",                                         # slow: malformed -> null
    None,                                       # null in, null out
    "http://" + "h" * 60 + ".example.com/" + "p/" * 40,  # fast: long
]


def _df(spark):
    return spark.createDataFrame([(u,) for u in URLS], "url string")


# the battery entries annotated "# fast" above
FAST = {
    "http://host3.example.com/doc/42",
    "http://a.com/",
    "https://a.b-c.example/x_y~z/42",
    URLS[-1],
}


def test_jvm_fast_mask_routes_as_annotated(spark):
    """fast_canonical_cond takes exactly the battery's fast rows (JVM
    null counts as slow): every trap class goes to the slow path."""
    got = {
        r["url"]: bool(r["fast"])
        for r in _df(spark)
        .select("url", F.coalesce(fast_canonical_cond(F.col("url")), F.lit(False)).alias("fast"))
        .collect()
    }
    assert {u for u, fast in got.items() if fast} == FAST


# the reference's default urlnormalizer.order (Basic, Regex) as
# scope-taking steps: neither default plugin reads its scope
_DEFAULT_ORDER = [
    lambda u, scope: basic_normalize(u),
    lambda u, scope: regex_normalize(u),
]


@pytest.mark.parametrize("scope", ["default", "inject", "outlink", "crawldb"])
def test_normalize_col_matches_per_string_chain(spark, scope):
    """normalize_col takes no scope: in each scope the operators call it
    from (inject, outlink, crawldb, default) it must equal the default
    chain run per string in that scope."""
    rows = _df(spark).select(
        "url", normalize_col(F.col("url")).alias("norm")
    ).collect()
    for r in rows:
        want = apply_extra_normalizers(r["url"], _DEFAULT_ORDER, scope)
        assert want == normalize(r["url"]), r["url"]
        assert r["norm"] == want, r["url"]


def test_fast_rows_are_fixed_points(spark):
    """Soundness of the JVM predicate: any URL it waves through must be
    a fixed point of the full Basic+Regex chain."""
    rows = _df(spark).select(
        "url", fast_canonical_cond(F.col("url")).alias("fast")
    ).collect()
    fast = [r["url"] for r in rows if r["fast"]]
    assert fast, "battery must exercise the fast path"
    for u in fast:
        assert normalize(u) == u, u


def test_normalize_series_skips_nulls_without_python_calls():
    """Under normalize_col the UDF input is null-dominated; nulls must
    not be routed through per-string normalize()."""
    calls = []
    import nutch_spark.urls.normalizer as mod

    orig = mod.normalize
    try:
        mod.normalize = lambda u: calls.append(u) or orig(u)
        out = normalize_series(pd.Series([None, None, "http://a.com/x?q=1", None], dtype=object))
    finally:
        mod.normalize = orig
    assert calls == ["http://a.com/x?q=1"]
    assert out[0] is None and out[3] is None
    assert out[2] == "http://a.com/x?q=1"
