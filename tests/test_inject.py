"""Injector semantics: seed parsing (TestInjector.java:74-136) and the
merge rules matrix (Injector.java:292-305, TestCrawlDbStates
testCrawlDbStatTransitionInject: inject must not modify existing
statuses; new urls become db_unfetched)."""

import pytest

from nutch_spark import schema as S
from nutch_spark.config import NutchConfig
from nutch_spark.operators.inject import inject, parse_seeds
from nutch_spark.schema import crawldb_schema

NOW = 1_700_000_000_000
CFG = NutchConfig()


def seeds_df(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], "value string")


def test_parse_seeds_reserved_metadata(spark):
    lines = [
        "http://one.example.com/",
        "",
        "# a comment",
        "http://two.example.com/\tnutch.score=2.5\tnutch.fetchInterval=171717\tkey=value",
        "http://three.example.com/\tnutch.fetchInterval.fixed=54321\tnoequals",
    ]
    rows = {r["url"]: r for r in parse_seeds(spark, seeds_df(spark, lines), CFG, NOW).collect()}
    assert len(rows) == 3
    r1 = rows["http://one.example.com/"]
    assert r1["score"] == pytest.approx(1.0)
    assert r1["fetch_interval"] == CFG.db_fetch_interval_default
    assert r1["fetch_time"] == NOW
    r2 = rows["http://two.example.com/"]
    assert r2["score"] == pytest.approx(2.5)
    assert r2["fetch_interval"] == 171717
    assert r2["metadata"] == {"key": "value"}
    r3 = rows["http://three.example.com/"]
    assert r3["fetch_interval"] == 54321
    assert r3["metadata"] == {S.META_FIXED_INTERVAL: "54321.0"}


def test_parse_seeds_normalizes_and_filters(spark):
    lines = ["HTTP://Four.Example.COM//a/../b", "bogus^^^"]
    rows = parse_seeds(spark, seeds_df(spark, lines), CFG, NOW).collect()
    assert [r["url"] for r in rows] == ["http://four.example.com/b"]


def _db(spark, rows):
    return spark.createDataFrame(rows, crawldb_schema())


def olddatum(url, status=S.STATUS_DB_FETCHED, score=5.0, interval=999, meta=None):
    return (url, status, NOW - 1000, 0, interval, score, None, 0, meta or {"o": "1"}, None, None)


@pytest.mark.parametrize("old_status", [
    S.STATUS_DB_UNFETCHED, S.STATUS_DB_FETCHED, S.STATUS_DB_GONE,
    S.STATUS_DB_REDIR_TEMP, S.STATUS_DB_REDIR_PERM, S.STATUS_DB_NOTMODIFIED,
    S.STATUS_DB_DUPLICATE, S.STATUS_DB_ORPHAN,
])
def test_inject_preserves_existing_status(spark, old_status):
    url = "http://exists.example.com/"
    db = _db(spark, [olddatum(url, status=old_status)])
    seeds = parse_seeds(spark, seeds_df(spark, [url]), CFG, NOW)
    row = inject(db, seeds, CFG).collect()[0]
    assert row["status"] == old_status
    assert row["score"] == pytest.approx(5.0)
    assert row["fetch_interval"] == 999


def test_inject_new_and_old_only(spark):
    db = _db(spark, [olddatum("http://old.example.com/")])
    seeds = parse_seeds(spark, seeds_df(spark, ["http://new.example.com/"]), CFG, NOW)
    rows = {r["url"]: r for r in inject(db, seeds, CFG).collect()}
    assert rows["http://new.example.com/"]["status"] == S.STATUS_DB_UNFETCHED
    assert rows["http://new.example.com/"]["score"] == pytest.approx(1.0)
    assert rows["http://old.example.com/"]["status"] == S.STATUS_DB_FETCHED


def test_inject_overwrite(spark):
    url = "http://ow.example.com/"
    db = _db(spark, [olddatum(url)])
    seeds = parse_seeds(spark, seeds_df(spark, [f"{url}\tnutch.score=9.0"]), CFG, NOW)
    row = inject(db, seeds, CFG.with_(db_injector_overwrite=True)).collect()[0]
    assert row["status"] == S.STATUS_DB_UNFETCHED
    assert row["score"] == pytest.approx(9.0)


def test_inject_update_merges_meta_and_custom_values(spark):
    url = "http://up.example.com/"
    db = _db(spark, [olddatum(url, meta={"o": "1", "both": "old"})])
    # customized score (9.0 != default 1.0) wins; default interval keeps old
    seeds = parse_seeds(
        spark, seeds_df(spark, [f"{url}\tnutch.score=9.0\tboth=new\tk2=v2"]), CFG, NOW
    )
    row = inject(db, seeds, CFG.with_(db_injector_update=True)).collect()[0]
    assert row["status"] == S.STATUS_DB_FETCHED  # status untouched by update
    assert row["score"] == pytest.approx(9.0)
    assert row["fetch_interval"] == 999  # injected interval was default -> old kept
    assert row["metadata"] == {"o": "1", "both": "new", "k2": "v2"}


def test_inject_update_default_score_keeps_old(spark):
    url = "http://up2.example.com/"
    db = _db(spark, [olddatum(url)])
    seeds = parse_seeds(spark, seeds_df(spark, [url]), CFG, NOW)
    row = inject(db, seeds, CFG.with_(db_injector_update=True)).collect()[0]
    assert row["score"] == pytest.approx(5.0)


def test_seed_lines_java_trim_control_whitespace(spark):
    """String.trim() strips every char <= U+0020: a tab-indented or
    CR-terminated seed line still injects its URL (F.trim alone leaves
    the tab and the URL would become a discarded metadata token)."""
    lines = [
        "\thttp://tabbed.example.com/",
        "http://cr.example.com/\r",
        "  http://spaced.example.com/\tnutch.score=3",
    ]
    rows = {r["url"]: r for r in
            parse_seeds(spark, seeds_df(spark, lines), CFG, NOW).collect()}
    assert set(rows) == {
        "http://tabbed.example.com/", "http://cr.example.com/",
        "http://spaced.example.com/",
    }
    assert rows["http://spaced.example.com/"]["score"] == 3.0
