"""End-to-end crawl slice (SURVEY §7 phase 1): inject seeds -> N cycles
over the synthetic web -> frontier growth, URL-seen uniqueness,
politeness accounting, and deterministic resume-from-snapshot."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nutch_spark import schema as S
from nutch_spark.catalog import SnapshotCatalog
from nutch_spark.config import NutchConfig
from nutch_spark.data.frontier import synth_seeds
from nutch_spark.pipeline.crawl_loop import Crawler
from nutch_spark.urls.filters import CRAWL_RULES

START = 1_700_000_000_000


def make_crawler(spark, web, tmp_path, **cfg_kw):
    cfg = NutchConfig(fetch_partitions=4, **cfg_kw)
    cat = SnapshotCatalog(str(tmp_path / "catalog"))
    return Crawler(
        spark, cat, cfg, web["docs"], web["robots"], web["outcomes"],
        url_filter_rules=CRAWL_RULES,
    ), cat


def test_end_to_end_crawl(spark, web, tmp_path):
    crawler, cat = make_crawler(spark, web, tmp_path)
    results = crawler.crawl(web["seeds"], n_cycles=2, start_ms=START, top_n=100)
    assert len(results) == 2
    r1, r2 = results
    assert r1.generated > 0 and r1.fetched == r1.generated
    # discovery: the frontier grew beyond the seeds
    assert r1.db_size > 10
    assert r2.db_size >= r1.db_size
    # URL-seen set: crawldb has unique urls
    db = cat.read(spark, "crawldb")
    assert db.count() == db.select("url").distinct().count()
    # statuses are db-range only
    assert db.filter((F.col("status") < 0x01) | (F.col("status") > 0x1F)).count() == 0
    # politeness: once hosts have multiple urls, the virtual makespan grows
    assert r2.virtual_makespan_ms > 0
    # lineage + metrics recorded on the snapshot
    snaps = cat.snapshots("crawldb")
    assert snaps[-1].lineage["stage"] == "updatedb"
    assert snaps[-1].metrics["fetched"] == r2.fetched
    # fetcher counter table rides the single segment agg
    fsc = snaps[-1].metrics["fetch_status_counts"]
    assert sum(fsc.values()) == r2.fetched
    # observed db_status_counts equal a direct recount of the snapshot
    recount = {
        S.STATUS_NAMES[r["status"]]: r["n"]
        for r in db.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert snaps[-1].metrics["db_status_counts"] == recount
    assert r2.status_counts == recount and r2.db_size == sum(recount.values())


def test_cycle_metrics_ride_the_commit_write(spark, web, tmp_path):
    """Counters via observe (SURVEY §4): the db status counts are
    CollectMetrics on the CrawlDb write and the fetcher counters on the
    crawl_fetch write. The only catalog reads are the cycle's input
    CrawlDb and the three segment tables the merge consumes, at the
    snapshot ids this cycle committed; the committed CrawlDb is never
    re-read inside run_cycle."""
    crawler, cat = make_crawler(spark, web, tmp_path)
    crawler.inject(web["seeds"], START)
    reads = []
    orig_read = SnapshotCatalog.read

    def counting_read(self, spark_, table, snapshot_id=None):
        reads.append((table, snapshot_id))
        return orig_read(self, spark_, table, snapshot_id)

    SnapshotCatalog.read = counting_read
    try:
        res = crawler.run_cycle(1, START + 3_600_000, top_n=100)
    finally:
        SnapshotCatalog.read = orig_read
    seg_tables = [f"segment_0001_{t}" for t in ("crawl_fetch", "crawl_parse", "crawl_redirect")]
    assert reads == [("crawldb", None)] + [
        (t, cat.current_snapshot_id(t)) for t in seg_tables
    ]
    assert res.db_size == cat.read(spark, "crawldb").count()
    assert sum(res.status_counts.values()) == res.db_size
    metrics = cat.snapshots("crawldb")[-1].metrics
    assert sum(metrics["fetch_status_counts"].values()) == res.fetched
    assert res.fetched == cat.read(spark, seg_tables[0]).count()


def test_write_segments_false_is_rejected(spark, web, tmp_path):
    """The CrawlDb merge reads the committed segment, so a cycle cannot
    skip writing it."""
    with pytest.raises(ValueError, match="write_segments=False"):
        Crawler(
            spark, SnapshotCatalog(str(tmp_path / "catalog")), NutchConfig(),
            web["docs"], web["robots"], web["outcomes"], write_segments=False,
        )


def _value_hash(df):
    """(rows, order-independent sum of per-row xxhash64 over every
    column); maps are hashed as their key-sorted entry arrays."""
    cols = [
        F.array_sort(F.map_entries(f.name)) if isinstance(f.dataType, T.MapType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("h")
    ).collect()[0]
    return row["n"], row["h"]


def test_committed_segment_replays_to_the_committed_crawldb(spark, web, tmp_path):
    """Resume/lineage contract: updatedb over the parent CrawlDb
    snapshot and the segment tables the CrawlDb commit's lineage names
    reproduces the committed CrawlDb, redirect-target datums included."""
    from nutch_spark.operators.updatedb import updatedb

    crawler, cat = make_crawler(spark, web, tmp_path)
    # ten seeds per host: enough fetches that some end in redirects
    crawler.inject(synth_seeds(web["docs"], per_host=10), START)
    now_ms = START + 3_600_000
    crawler.run_cycle(1, now_ms, top_n=100)
    lineage = cat.snapshots("crawldb")[-1].lineage
    seg = lineage["segment_snapshots"]
    datum_fields = [(f.name, f.dataType) for f in S.crawldb_schema().fields]
    tables = [
        cat.read(spark, f"segment_0001_{t}", seg[f"segment_0001_{t}"])
        for t in ("crawl_fetch", "crawl_parse", "crawl_redirect")
    ]
    # the CrawlDb and every datum table lead with the datum's exact
    # (name, type) fields: new_datum and DATUM_COLS keep one format
    for df in (*tables, cat.read(spark, "crawldb")):
        lead = [(f.name, f.dataType) for f in df.schema.fields[: len(datum_fields)]]
        assert lead == datum_fields
    parts = [t.select(*S.DATUM_COLS) for t in tables]
    assert parts[2].count() > 0  # the crawl followed redirects
    segment_rows = parts[0].unionByName(parts[1]).unionByName(parts[2])
    parent = cat.read(spark, "crawldb", lineage["crawldb_parent_snapshot"])
    replay = updatedb(parent, segment_rows, crawler.cfg, now_ms)
    committed = cat.read(spark, "crawldb")
    assert _value_hash(replay.select(*committed.columns)) == _value_hash(committed)


def test_resume_from_snapshot_is_deterministic(spark, web, tmp_path):
    crawler, cat = make_crawler(spark, web, tmp_path)
    crawler.crawl(web["seeds"], n_cycles=2, start_ms=START, top_n=100)
    snaps = [s.snapshot_id for s in cat.snapshots("crawldb")]
    final = cat.read(spark, "crawldb")
    digest1 = sorted(
        (r["url"], r["status"], r["fetch_time"], r["score"]) for r in final.collect()
    )
    # kill after cycle 1 (rollback), resume cycle 2 with the same clock
    cat.rollback("crawldb", snaps[-2])
    res2 = crawler.run_cycle(2, START + 2 * 3_600_000, top_n=100)
    final2 = cat.read(spark, "crawldb")
    digest2 = sorted(
        (r["url"], r["status"], r["fetch_time"], r["score"]) for r in final2.collect()
    )
    assert digest1 == digest2


def test_resume_after_expire_advances_cycle_and_clock(spark, tmp_path, monkeypatch, capsys):
    """``main --resume`` starts after the cycle the current CrawlDb
    snapshot names. Once ``expire_snapshots`` has dropped older entries
    a count of snapshots would restart at an earlier cycle id (reusing
    its segment tables) with a clock that went backwards."""
    import functools
    import json

    import nutch_spark.session
    from nutch_spark.pipeline import crawl_loop

    monkeypatch.setattr(nutch_spark.session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(
        crawl_loop, "NutchConfig", functools.partial(NutchConfig, fetch_partitions=4)
    )
    wh = str(tmp_path / "wh")
    # cycles 31 days apart: every fetched URL is due again (30-day
    # default interval), so the resumed cycle has work and commits
    base = ["--warehouse", wh, "--n-docs", "300", "--n-hosts", "10", "--top-n", "20",
            "--cycle-ms", str(31 * 24 * 3_600_000)]

    def run(*extra):
        assert crawl_loop.main(base + list(extra)) == 0
        out = capsys.readouterr().out.splitlines()
        return [json.loads(ln)["cycle"] for ln in out if ln.startswith("{")]

    assert run("--cycles", "2") == [1, 2]
    cat = SnapshotCatalog(wh)
    before = cat.snapshots(crawl_loop.CRAWLDB)[-1]
    cat.expire_snapshots(crawl_loop.CRAWLDB, keep=1)
    assert [s.snapshot_id for s in cat.snapshots(crawl_loop.CRAWLDB)] == [before.snapshot_id]

    assert run("--resume", "--cycles", "1") == [3]
    after = cat.snapshots(crawl_loop.CRAWLDB)[-1]
    assert after.lineage["cycle_id"] == 3
    assert after.committed_at_ms > before.committed_at_ms


def test_second_cycle_fetches_new_urls_only(spark, web, tmp_path):
    """Fork rule at the cycle level: once fetched, never re-generated."""
    crawler, cat = make_crawler(spark, web, tmp_path)
    crawler.inject(web["seeds"], START)
    r1 = crawler.run_cycle(1, START + 1_000_000, top_n=50)
    db_after_1 = {
        r["url"]: r["status"] for r in cat.read(spark, "crawldb").collect()
    }
    r2 = crawler.run_cycle(2, START + 2_000_000, top_n=50)
    fetched_1 = {u for u, s in db_after_1.items() if s != S.STATUS_DB_UNFETCHED}
    db_after_2 = cat.read(spark, "crawldb").collect()
    # no previously-fetched url regressed to a younger fetch_time
    for r in db_after_2:
        if r["url"] in fetched_1 and db_after_1[r["url"]] == S.STATUS_DB_FETCHED:
            assert r["status"] != S.STATUS_DB_UNFETCHED


def test_depth_limited_crawl_stops_expanding(spark, web, tmp_path):
    """scoring-depth wired into the loop: with maxdepth=2 the frontier
    holds only depth 1 (seeds + redirect targets, per initialScore) and
    depth 2 (their outlinks); depth-2 pages contribute no outlinks."""
    from nutch_spark.operators.depth import DEPTH_KEY

    crawler, cat = make_crawler(
        spark, web, tmp_path, scoring_depth_enabled=True, scoring_depth_max=2
    )
    crawler.crawl(web["seeds"], n_cycles=3, start_ms=START, top_n=100)
    db = cat.read(spark, "crawldb")
    depths = {
        int(r["d"])
        for r in db.select(
            F.element_at("metadata", DEPTH_KEY).alias("d")
        ).collect()
        if r["d"] is not None
    }
    assert depths and depths <= {1, 2}
    # every URL carries a depth stamp (seeds via inject, outlink
    # discoveries via the min-depth patch, redirects via initialScore)
    assert db.filter(F.element_at("metadata", DEPTH_KEY).isNull()).count() == 0


def test_urlmeta_tags_ride_the_frontier(spark, web, tmp_path):
    """urlmeta wired into the loop: a tag injected with the seeds
    reaches every URL the crawl discovers from them."""
    crawler, cat = make_crawler(spark, web, tmp_path, urlmeta_tags=("campaign",))
    # tag rides in as reserved seed-line metadata (url<TAB>key=value)
    seeds = web["seeds"].select(
        F.concat(F.col("value").cast("string"), F.lit("\tcampaign=c1")).alias("value")
    )
    crawler.crawl(seeds, n_cycles=2, start_ms=START, top_n=100)
    db = cat.read(spark, "crawldb")
    tagged = db.filter(F.element_at("metadata", "campaign") == "c1").count()
    total = db.count()
    # seeds are tagged; everything discovered FROM them inherits the tag
    # (redirect targets carry empty metadata by design, so allow a few)
    assert tagged >= total * 0.9 and tagged > 10


def test_committed_segment_carries_patched_crawl_parse(spark, web, tmp_path):
    """With urlmeta propagation on, the committed segment's crawl_parse
    must be the rows updatedb consumed (tag metadata stamped), not the
    raw pre-patch parse output — replaying updatedb from the committed
    segment must reproduce the committed crawldb (lineage contract)."""
    cfg = NutchConfig(fetch_partitions=4, urlmeta_tags=("campaign",))
    cat = SnapshotCatalog(str(tmp_path / "catalog_seg"))
    crawler = Crawler(
        spark, cat, cfg, web["docs"], web["robots"], web["outcomes"],
        url_filter_rules=CRAWL_RULES, write_segments=True,
    )
    # stamp a campaign tag on the seeds via injected metadata
    seeds = web["seeds"].withColumn(
        "value", F.concat(F.col("value"), F.lit("\tcampaign=alpha"))
    )
    crawler.inject(seeds, START)
    crawler.run_cycle(1, START + 1_000_000, top_n=50)
    seg_cp = cat.read(spark, "segment_0001_crawl_parse")
    linked = seg_cp.filter(F.col("status") == S.STATUS_LINKED)
    assert linked.count() > 0
    # every link row carries the propagated parent tag
    untagged = linked.filter(
        F.coalesce(F.element_at("metadata", "campaign"), F.lit("")) != "alpha"
    ).count()
    assert untagged == 0


def test_crawl_loop_with_outlink_follow(spark, web, tmp_path):
    """F9 wired into the macro-loop by config: with depth=1 the fetch
    stage itself fetches first-degree same-host outlinks, so cycle 1
    lands more fetched rows in the crawldb than the plain fetch."""
    plain, _ = make_crawler(spark, web, tmp_path / "plain")
    follow, cat = make_crawler(
        spark, web, tmp_path / "follow", fetcher_follow_outlinks_depth=1
    )
    plain.inject(web["seeds"], START)
    follow.inject(web["seeds"], START)
    r_plain = plain.run_cycle(1, START + 1_000_000, top_n=50)
    r_follow = follow.run_cycle(1, START + 1_000_000, top_n=50)
    assert r_follow.fetched > r_plain.fetched
    # URL-seen invariant survives duplicate in-fetch datums
    db = cat.read(spark, "crawldb")
    assert db.count() == db.select("url").distinct().count()


def _no_count(self):
    raise AssertionError("count() re-executes a plan the catalog has already sized")


def test_inject_and_merge_dispatch_run_no_count(spark, web, tmp_path, monkeypatch):
    """Inject commits first and sizes the CrawlDb from the snapshot
    manifest, and the merge dispatch sizes the CrawlDb and the segment
    from the manifests, so neither executes its plan a second time
    through DataFrame.count."""
    from nutch_spark.pipeline import crawl_loop

    # the session's concrete DataFrame class, which defines count()
    DataFrame = type(web["docs"])
    crawler, cat = make_crawler(spark, web, tmp_path)
    with monkeypatch.context() as m:
        m.setattr(DataFrame, "count", _no_count)
        n = crawler.inject(web["seeds"], START)
    assert n == cat.read(spark, "crawldb").count() > 0
    assert cat.snapshot("crawldb").metrics == {"urls": n}

    dispatch = crawl_loop.updatedb_incremental

    def guarded_dispatch(*args, **kw):
        with monkeypatch.context() as m:
            m.setattr(DataFrame, "count", _no_count)
            return dispatch(*args, **kw)

    monkeypatch.setattr(crawl_loop, "updatedb_incremental", guarded_dispatch)
    res = crawler.run_cycle(1, START + 3_600_000, top_n=100)
    assert res.generated > 0
    assert res.db_size == cat.read(spark, "crawldb").count()


SEGMENT_PRODUCTS = (
    "crawl_fetch", "crawl_parse", "crawl_redirect", "parse_text", "parse_data", "parse_meta",
)


def test_concurrent_segment_commits_run_in_the_callers_job_group(spark, web, tmp_path):
    """The segment commits run on pool threads: each of their jobs
    still carries the caller's job group, so no job of the cycle is
    untagged, and the lineage names the tables in the order the cycle
    builds them, not in the order the commits finished."""
    crawler, cat = make_crawler(spark, web, tmp_path)
    crawler.inject(web["seeds"], START)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    untagged_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("run_cycle_group", "run_cycle")
    try:
        crawler.run_cycle(1, START + 3_600_000, top_n=100)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup("run_cycle_group")
    assert set(tracker.getJobIdsForGroup(None)) - untagged_before == set()
    lineage = cat.snapshot("crawldb").lineage
    assert list(lineage["segment_snapshots"]) == [
        f"segment_0001_{t}" for t in SEGMENT_PRODUCTS
    ]


def test_failed_segment_commit_leaves_no_cache_and_no_crawldb_commit(
    spark, web, tmp_path, monkeypatch
):
    """A cycle whose parse_data commit fails raises to the caller after
    its sibling commits finish, commits no CrawlDb, unpersists every
    frame it cached and leaves no pool thread behind; re-running the
    cycle then gives the CrawlDb of an uninterrupted run."""
    import threading

    now_ms = START + 3_600_000
    clean, clean_cat = make_crawler(spark, web, tmp_path / "clean")
    clean.inject(web["seeds"], START)
    clean.run_cycle(1, now_ms, top_n=100)

    crawler, cat = make_crawler(spark, web, tmp_path / "failed")
    crawler.inject(web["seeds"], START)
    injected = cat.current_snapshot_id("crawldb")
    jsc = spark.sparkContext._jsc
    persisted, threads = jsc.getPersistentRDDs().size(), threading.active_count()
    commit = SnapshotCatalog.commit

    def failing_commit(self, df, table, **kw):
        if table == "segment_0001_parse_data":
            raise OSError("segment_0001_parse_data: disk full")
        return commit(self, df, table, **kw)

    with monkeypatch.context() as m:
        m.setattr(SnapshotCatalog, "commit", failing_commit)
        with pytest.raises(OSError, match="disk full"):
            crawler.run_cycle(1, now_ms, top_n=100)
    assert cat.current_snapshot_id("crawldb") == injected
    assert jsc.getPersistentRDDs().size() == persisted
    assert threading.active_count() == threads
    # the siblings of the failed commit finished before the error surfaced
    assert cat.exists("segment_0001_parse_meta")
    assert not cat.exists("segment_0001_parse_data")

    crawler.run_cycle(1, now_ms, top_n=100)
    assert _value_hash(cat.read(spark, "crawldb")) == _value_hash(
        clean_cat.read(spark, "crawldb")
    )
