"""Snapshot catalog: atomic commit, time travel, rollback, optimistic
concurrency (the CrawlDb.install current/old swap semantics,
CrawlDb.java:197-220)."""

import pytest

from nutch_spark.catalog import ConcurrentCommitError, SnapshotCatalog


def test_commit_read_timetravel_rollback(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    df1 = spark.range(3).toDF("id")
    df2 = spark.range(5).toDF("id")
    s1 = cat.commit(df1, "t", now_ms=1, metrics={"rows": 3})
    s2 = cat.commit(df2, "t", now_ms=2, lineage={"stage": "x"})
    assert cat.current_snapshot_id("t") == s2.snapshot_id
    assert cat.read(spark, "t").count() == 5
    # time travel (the "old" dir for free)
    assert cat.read(spark, "t", snapshot_id=s1.snapshot_id).count() == 3
    # rollback = resume from checkpoint
    cat.rollback("t", s1.snapshot_id)
    assert cat.read(spark, "t").count() == 3
    snaps = cat.snapshots("t")
    assert [s.snapshot_id for s in snaps] == [1, 2]
    assert snaps[0].metrics == {"rows": 3}
    assert snaps[1].lineage == {"stage": "x"}


def test_optimistic_concurrency(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat2"))
    df = spark.range(1).toDF("id")
    s1 = cat.commit(df, "t", now_ms=1)
    cat.commit(df, "t", now_ms=2, expected_parent=s1.snapshot_id)
    with pytest.raises(ConcurrentCommitError):
        cat.commit(df, "t", now_ms=3, expected_parent=s1.snapshot_id)


def test_expire_snapshots(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat3"))
    df = spark.range(1).toDF("id")
    for i in range(5):
        cat.commit(df, "t", now_ms=i)
    dropped = cat.expire_snapshots("t", keep=2)
    assert dropped == 3
    assert [s.snapshot_id for s in cat.snapshots("t")] == [4, 5]
    assert cat.read(spark, "t").count() == 1


def test_commit_after_rollback_allocates_fresh_id(spark, tmp_path):
    """Snapshot ids stay unique across history: a commit after rollback
    must not collide with an already-used id (read() resolves by id)."""
    from nutch_spark.catalog import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "wh"))
    for i in (1, 2, 3):
        cat.commit(spark.range(i).selectExpr("id"), "t", now_ms=i)
    cat.rollback("t", 1)
    snap = cat.commit(spark.range(10).selectExpr("id"), "t", now_ms=9)
    assert snap.snapshot_id == 4  # past the global max, not current+1
    assert cat.read(spark, "t").count() == 10  # resolves the NEW snapshot
    assert cat.read(spark, "t", snapshot_id=2).count() == 2  # history intact


def test_concurrent_commit_cas_single_winner(spark, tmp_path):
    """Two committers racing from the same parent: exactly one wins,
    the loser gets ConcurrentCommitError, and the winner's snapshot
    entry is never erased (the load-check-store runs under a lock)."""
    import threading

    from nutch_spark.catalog import ConcurrentCommitError, SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    df = spark.range(3).toDF("id")
    base = cat.commit(df, "t", now_ms=1)
    results = []

    def committer(tag):
        try:
            cat.commit(df, "t", now_ms=2, lineage={"who": tag},
                       expected_parent=base.snapshot_id)
            results.append((tag, "ok"))
        except ConcurrentCommitError:
            results.append((tag, "cas_fail"))

    ts = [threading.Thread(target=committer, args=(i,)) for i in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    outcomes = sorted(r[1] for r in results)
    assert outcomes == ["cas_fail", "ok"]
    snaps = cat.snapshots("t")
    assert len(snaps) == 2  # base + the single winner, nothing erased
    assert cat.current_snapshot_id("t") == max(s.snapshot_id for s in snaps)
    # no orphaned pending dirs left behind
    import os
    assert not [d for d in os.listdir(tmp_path / "cat" / "t") if "pending" in d]


def test_failed_write_cleans_pending_and_expire_sweeps_orphans(spark, tmp_path):
    """A commit whose Spark write fails leaves no snap-pending-* dir;
    a dir orphaned by a crashed driver is swept by expire_snapshots."""
    import os

    import pytest

    from nutch_spark.catalog import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "cat2"))
    cat.commit(spark.range(3).toDF("id"), "t", now_ms=1)
    # a plan that fails at execution time (division via expr on strings)
    bad = spark.createDataFrame([("x",)], "s string").selectExpr(
        "assert_true(s = 'y') as chk"
    )
    with pytest.raises(Exception):
        cat.commit(bad, "t", now_ms=2)
    tdir = tmp_path / "cat2" / "t"
    assert not [d for d in os.listdir(tdir) if d.startswith("snap-pending-")]
    # simulate a crashed commit's orphan
    os.makedirs(tdir / "snap-pending-deadbeef")
    # a FRESH pending dir may be a live commit writing outside the meta
    # lock — the default grace window must leave it alone
    cat.expire_snapshots("t", keep=5)
    assert [d for d in os.listdir(tdir) if d.startswith("snap-pending-")]
    # backdate it past the grace window -> provably abandoned -> swept
    os.utime(tdir / "snap-pending-deadbeef", (0, 0))
    cat.expire_snapshots("t", keep=5)
    assert not [d for d in os.listdir(tdir) if d.startswith("snap-pending-")]
    assert cat.read(spark, "t").count() == 3  # table intact


def test_commit_records_per_file_manifest(spark, tmp_path):
    """Every commit records an Iceberg-manifest-style per-file entry
    (rows, bytes, url zone map from the parquet footers) — the
    north rule's per-partition lineage."""
    from nutch_spark.catalog import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    df = spark.createDataFrame(
        [(f"http://h{i % 4}.example.com/{i:03d}", i) for i in range(40)],
        "url string, v int",
    ).repartition(4)
    snap = cat.commit(df, "t", now_ms=1)

    assert snap.manifest, "manifest missing"
    assert sum(f["rows"] for f in snap.manifest) == 40
    assert all(f["bytes"] > 0 for f in snap.manifest)
    # zone map: global min/max across files == true url extremes
    mins = [f["url_min"] for f in snap.manifest if "url_min" in f]
    maxs = [f["url_max"] for f in snap.manifest if "url_max" in f]
    assert min(mins) == "http://h0.example.com/000"
    assert max(maxs) == "http://h3.example.com/039"
    # manifest survives the metadata round-trip (snapshots() re-load)
    reloaded = cat.snapshots("t")[-1]
    assert reloaded.manifest == snap.manifest
    # a url-less table still manifests rows/bytes, just no zone map
    snap2 = cat.commit(spark.range(7).toDF("id"), "u", now_ms=2)
    assert sum(f["rows"] for f in snap2.manifest) == 7
    assert all("url_min" not in f for f in snap2.manifest)


def _sorted_rows(df):
    return sorted(repr(r) for r in df.collect())


def test_recorded_schema_reads_like_inference_for_a_crawl_cycle(spark, web, tmp_path):
    """Every table one crawl cycle commits (the CrawlDb and the six
    segment tables) reads back through its recorded schema with the
    schema and rows that parquet inference gives, and its manifest row
    count equals a count of the table."""
    import os

    from nutch_spark.config import NutchConfig
    from nutch_spark.pipeline.crawl_loop import Crawler
    from nutch_spark.urls.filters import CRAWL_RULES

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    crawler = Crawler(
        spark, cat, NutchConfig(fetch_partitions=4), web["docs"], web["robots"],
        web["outcomes"], url_filter_rules=CRAWL_RULES,
    )
    crawler.inject(web["seeds"], 1_700_000_000_000)
    crawler.run_cycle(1, 1_700_003_600_000, top_n=50)
    tables = cat.tables()
    assert len(tables) == 7
    for table in tables:
        snap = cat.snapshot(table)
        assert snap.schema is not None
        read = cat.read(spark, table)
        inferred = spark.read.parquet(os.path.join(cat.root, table, snap.path))
        assert read.schema == inferred.schema, table
        assert _sorted_rows(read) == _sorted_rows(inferred), table
        assert snap.rows == read.count(), table


def test_read_starts_no_spark_job(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    cat.commit(spark.range(7).selectExpr("id", "cast(id as string) AS url"), "t")
    sc = spark.sparkContext
    sc.setJobGroup("catalog_read", "catalog.read")
    try:
        df = cat.read(spark, "t")
        assert df.columns == ["id", "url"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("catalog_read") == []
    assert cat.snapshot("t").rows == df.count() == 7


def test_snapshot_without_recorded_schema_still_reads(spark, tmp_path):
    """A snapshot committed before schemas were recorded is read by
    parquet inference."""
    import json

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    df = spark.range(4).selectExpr("id", "map('k', id) AS m")
    snap = cat.commit(df, "t")
    recorded = cat.read(spark, "t")
    meta_path = tmp_path / "cat" / "t" / "metadata.json"
    meta = json.loads(meta_path.read_text())
    del meta["snapshots"][0]["schema"]
    meta_path.write_text(json.dumps(meta))
    assert cat.snapshot("t").schema is None
    old = cat.read(spark, "t")
    assert old.schema == recorded.schema
    assert _sorted_rows(old) == _sorted_rows(recorded)
    assert cat.snapshot("t", snap.snapshot_id).rows == 4
