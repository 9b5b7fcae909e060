"""The crawl macro-loop — ``src/bin/crawl:301-400`` as a Spark driver.

    inject(crawldb, seeds)                     # once
    for cycle in 1..N:
        generate -> fetch -> parse -> commit segment -> updatedb
        [invertlinks, dedup, hostdb updates via operators.*]

Where the reference hands state across process boundaries through HDFS
directories, this loop hands it through catalog snapshots. A cycle
first commits its segment tables (``segment_NNNN_`` + ``crawl_fetch``,
``crawl_parse``, ``crawl_redirect``, ``parse_text``, ``parse_data``,
``parse_meta``), then merges the CrawlDb from the three datum tables
read back at the snapshot ids those commits returned — as the
reference's ``CrawlDb`` job merges the committed ``crawl_fetch`` /
``crawl_parse`` parts — and commits it last. So each cycle product
executes once, in its own commit, and the merge plan's segment side is
parquet scans. The CrawlDb commit's lineage {cycle_id, stage, parent
snapshot, ``segment_snapshots``} names those segment snapshots, so
``updatedb`` over the parent snapshot and the named tables reproduces
the committed CrawlDb; its metrics map carries the fetcher counters
(observed on the ``crawl_fetch`` write) and the status counts (observed
on the CrawlDb write). Resume-from-checkpoint =
``SnapshotCatalog.rollback`` + rerun; determinism comes from injected
clocks and seeds (no wall-clock in logic paths, SURVEY §2.8).

Run on a cluster via ``spark-submit --py-files nutch_spark.zip
nutch_spark/pipeline/crawl_loop.py`` (``main`` below) — the driver
itself is plain PySpark.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from nutch_spark.catalog import SnapshotCatalog
from nutch_spark.config import NutchConfig
from nutch_spark.operators.fetchsim import fetch, fetched_content
from nutch_spark.operators.generate import generate, mark_generated
from nutch_spark.operators.inject import inject_full
from nutch_spark.operators.parse import parse
from nutch_spark.operators.updatedb import updatedb_incremental
from nutch_spark.schema import DATUM_COLS, STATUS_NAMES

CRAWLDB = "crawldb"

# CrawlDb row statuses (schema.py STATUS_DB_*) — the per-cycle
# db_status_counts metric observes these on the committed write
_DB_STATUS_CODES = tuple(range(0x01, 0x09))
# fetch statuses (STATUS_FETCH_*) for the fetcher counter table
_FETCH_STATUS_CODES = tuple(range(0x21, 0x27))
# the segment tables updatedb merges into the CrawlDb
_MERGE_TABLES = ("crawl_fetch", "crawl_parse", "crawl_redirect")


def _status_sums(codes) -> list:
    return [F.sum((F.col("status") == c).cast("long")).alias(f"s{c}") for c in codes]


def _named_counts(row, codes) -> dict[str, int]:
    return {STATUS_NAMES.get(c, str(c)): int(row[f"s{c}"]) for c in codes if row[f"s{c}"]}


@dataclass
class CycleResult:
    cycle_id: int
    generated: int
    fetched: int
    db_size: int
    status_counts: dict[str, int]
    virtual_makespan_ms: int
    wall_seconds: float
    snapshot_id: int
    extra: dict[str, Any] = field(default_factory=dict)


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        catalog: SnapshotCatalog,
        cfg: NutchConfig,
        docs: DataFrame,
        robots: DataFrame,
        outcomes: DataFrame,
        *,
        url_filter_rules: list[str] | None = None,
        write_segments: bool = True,
    ):
        if not write_segments:
            raise ValueError(
                "write_segments=False is not supported: updatedb merges the "
                "CrawlDb from the segment tables each cycle commits first"
            )
        self.spark = spark
        self.catalog = catalog
        self.cfg = cfg
        self.docs = docs
        self.robots = robots
        self.outcomes = outcomes
        self.url_filter_rules = url_filter_rules

    # -- stages ------------------------------------------------------------
    def inject(self, seeds, now_ms: int) -> int:
        old = self.catalog.read(self.spark, CRAWLDB) if self.catalog.exists(CRAWLDB) else None
        newdb = inject_full(
            self.spark, old, seeds, self.cfg, now_ms, url_filter_rules=self.url_filter_rules
        )
        if self.cfg.scoring_depth_enabled:
            from nutch_spark.operators.depth import inject_depth_meta

            newdb = inject_depth_meta(newdb, self.cfg)
        n = newdb.count()
        self.catalog.commit(
            newdb, CRAWLDB, now_ms=now_ms,
            lineage={"stage": "inject"}, metrics={"urls": n},
        )
        return n

    def run_cycle(self, cycle_id: int, now_ms: int, top_n: int = 50000) -> CycleResult:
        t0 = time.time()
        parent = self.catalog.current_snapshot_id(CRAWLDB)
        crawldb = self.catalog.read(self.spark, CRAWLDB)

        fl = generate(
            crawldb, self.cfg, now_ms, top_n=top_n,
            url_filter_rules=self.url_filter_rules,
        )
        fl = fl.persist()
        generated = fl.count()
        if generated == 0:
            fl.unpersist()
            return CycleResult(cycle_id, 0, 0, crawldb.count(), {}, 0, time.time() - t0,
                               parent or 0)

        wave_handles: list = []
        if self.cfg.fetcher_follow_outlinks_depth > 0:
            # F9: the reference fetcher follows outlinks in-fetch when
            # fetcher.follow.outlinks.depth > 0 (FetcherThread.java:840).
            # The follow already parsed waves 0..depth-1 to extract
            # candidates — reuse those (persisted) parse products instead
            # of re-running extraction over the whole union
            from nutch_spark.operators.fetchsim import fetch_follow_outlinks

            crawl_fetch, redirect_links, parsed = fetch_follow_outlinks(
                fl, self.robots, self.outcomes, self.docs, self.cfg, now_ms,
                url_filter_rules=self.url_filter_rules, cleanup=wave_handles,
                return_parsed=True,
            )
            crawl_fetch = crawl_fetch.drop("outlink_depth")
            crawl_fetch = crawl_fetch.persist()
        else:
            crawl_fetch, redirect_links = fetch(fl, self.robots, self.outcomes, self.cfg, now_ms)
            crawl_fetch = crawl_fetch.persist()
            content = fetched_content(crawl_fetch, self.docs)
            parsed = parse(
                content, self.cfg, url_filter_rules=self.url_filter_rules,
                persist_handles=wave_handles,
            )
            # fill the caches before the multi-branch segment commit
            # fans out over them (see materialize_parse_caches)
            from nutch_spark.operators.parse import materialize_parse_caches

            materialize_parse_caches(wave_handles)

        gates = bool(self.cfg.urlmeta_tags) or self.cfg.scoring_depth_enabled
        # meta-refresh datums bypass the scoring filters in the reference
        # (appended to crawlOut before the outlink-targets loop,
        # ParseOutputFormat.java:283-293) — gate only the gateable slice
        # and re-union the refresh datums after
        crawl_parse = parsed["crawl_parse_gateable"] if gates else parsed["crawl_parse"]
        if self.cfg.urlmeta_tags:
            # urlmeta: configured tags ride from parent datum to outlinks
            from nutch_spark.operators.urlmeta import propagate_url_meta

            crawl_parse = propagate_url_meta(
                crawl_parse, crawl_fetch.select("url", "metadata"),
                list(self.cfg.urlmeta_tags),
            )
        if self.cfg.scoring_depth_enabled:
            # scoring-depth: a page at its depth limit contributes no
            # outlinks; survivors are stamped depth+1 (operators/depth.py)
            from nutch_spark.operators.depth import depth_gate_outlinks

            crawl_parse = depth_gate_outlinks(
                crawl_parse, crawl_fetch.select("url", "metadata"), self.cfg
            )
        if gates:
            # ungated: refresh targets restart depth/meta like redirect
            # targets (no parent stamp -> initialScore defaults)
            crawl_parse = crawl_parse.unionByName(
                parsed["refresh_links"].select(*crawl_parse.columns)
            )

        # commit the segment FIRST: each product executes once, in its
        # own write, and the merge below reads only committed parquet.
        # The fetcher counters ride the crawl_fetch write via
        # DataFrame.observe (SURVEY §4's fetcher counter table)
        obs_fetch = Observation(f"cycle_{cycle_id}_fetch")
        seg = f"segment_{cycle_id:04d}"
        products = {
            "crawl_fetch": crawl_fetch.observe(
                obs_fetch,
                F.count(F.lit(1)).alias("n"),
                F.max("fetch_time").alias("mk"),
                *_status_sums(_FETCH_STATUS_CODES),
            ),
            # the urlmeta/depth-PATCHED crawl_parse — the rows updatedb
            # consumes — not parsed['crawl_parse']
            "crawl_parse": crawl_parse,
            # redirect-target datums: the reference writes them into
            # crawl_fetch, but here every crawl_fetch row is a fetched
            # fetchlist entry, so they get a table of their own
            "crawl_redirect": redirect_links.select(*DATUM_COLS),
            "parse_text": parsed["parse_text"],
            "parse_data": parsed["parse_data"],
            # per-doc meta directives (robots/noindex/base/refresh): the
            # reference persists these inside ParseData's parse metadata
            # (ParseOutputFormat.java:364-366) — IndexerMapReduce reads
            # them for indexer.delete.robots.noindex, so an index job
            # replayed from committed segments needs this table
            "parse_meta": parsed["parse_meta"],
        }
        segment_snapshots = {}
        for name, df in products.items():
            table = f"{seg}_{name}"
            segment_snapshots[table] = self.catalog.commit(
                df, table, now_ms=now_ms, lineage={"cycle_id": cycle_id}
            ).snapshot_id
        _fetch_row = obs_fetch.get
        fetched = int(_fetch_row["n"])
        makespan = _fetch_row["mk"] or now_ms
        fetch_status_counts = _named_counts(_fetch_row, _FETCH_STATUS_CODES)
        # the merge reads the committed segment, not these caches (nor
        # the per-wave follow intermediates persisted inside
        # fetch_follow_outlinks); fl stays for mark_generated
        crawl_fetch.unpersist()
        for h in wave_handles:
            h.unpersist()
        segment_rows = reduce(DataFrame.unionByName, [
            self.catalog.read(
                self.spark, f"{seg}_{name}", segment_snapshots[f"{seg}_{name}"]
            ).select(*DATUM_COLS)
            for name in _MERGE_TABLES
        ])

        base_db = mark_generated(crawldb, fl) if self.cfg.generate_update_crawldb else crawldb
        # fingerprint URL-seen split: untouched CrawlDb rows bypass the
        # merge shuffle (row-identical to plain updatedb)
        newdb = updatedb_incremental(base_db, segment_rows, self.cfg, now_ms)
        if self.cfg.scoring_depth_enabled:
            # newly discovered URLs take min(parent depth)+1; redirect
            # targets (no stamp) restart at depth 1 per initialScore
            # (broadcast segment-scale join; no frontier shuffle)
            from nutch_spark.operators.depth import patch_new_url_depth

            newdb = patch_new_url_depth(newdb, base_db, segment_rows, self.cfg)
        if self.cfg.urlmeta_tags:
            from nutch_spark.operators.urlmeta import patch_new_url_meta

            newdb = patch_new_url_meta(
                newdb, base_db, segment_rows, list(self.cfg.urlmeta_tags)
            )

        # the parquet write is the only execution of the merge lineage;
        # the CrawlDb status counts ride it via DataFrame.observe — no
        # post-commit re-scan of the committed snapshot (read-contract
        # probe in test_crawl_loop)
        obs_db = Observation(f"cycle_{cycle_id}_db_status")
        observed_db = newdb.observe(
            obs_db, F.count(F.lit(1)).alias("total"), *_status_sums(_DB_STATUS_CODES)
        )
        snap = self.catalog.commit(
            observed_db, CRAWLDB, now_ms=now_ms,
            lineage={
                "stage": "updatedb",
                "cycle_id": cycle_id,
                "crawldb_parent_snapshot": parent,
                "segment_snapshots": segment_snapshots,
            },
            metrics={
                "generated": generated,
                "fetched": fetched,
                "virtual_makespan_ms": int(makespan - now_ms),
                "fetch_status_counts": fetch_status_counts,
            },
            expected_parent=parent,
        )
        # the write completed, so the observed metrics are available
        # immediately (get would otherwise block)
        _db_row = obs_db.get
        status_counts = _named_counts(_db_row, _DB_STATUS_CODES)
        db_size = int(_db_row["total"])
        self.catalog.update_snapshot_metrics(
            CRAWLDB, snap.snapshot_id, {"db_status_counts": status_counts}
        )
        fl.unpersist()
        return CycleResult(
            cycle_id=cycle_id,
            generated=generated,
            fetched=fetched,
            db_size=db_size,
            status_counts=status_counts,
            virtual_makespan_ms=int(makespan - now_ms),
            wall_seconds=time.time() - t0,
            snapshot_id=snap.snapshot_id,
        )

    def crawl(self, seeds, n_cycles: int, start_ms: int, top_n: int = 50000,
              cycle_ms: int = 3_600_000) -> list[CycleResult]:
        """inject + N cycles with a deterministically advancing clock."""
        if not self.catalog.exists(CRAWLDB):
            self.inject(seeds, start_ms)
        results = []
        for i in range(1, n_cycles + 1):
            res = self.run_cycle(i, start_ms + i * cycle_ms, top_n=top_n)
            results.append(res)
            if res.generated == 0:
                break
        return results


def main(argv: list[str] | None = None) -> int:
    """spark-submit entry point:

        spark-submit --py-files nutch_spark.zip \
            -m ... nutch_spark/pipeline/crawl_loop.py \
            --warehouse /tmp/crawl_wh --cycles 3 --top-n 50000 \
            --n-docs 100000 --n-hosts 2000 [--resume]

    Builds the deterministic synthetic web (FIXTURES.md) as the corpus,
    injects one seed per host, runs N cycles, printing one JSON line of
    metrics per cycle. With --resume it picks up from the warehouse's
    current crawldb snapshot (mid-crawl resumability, north rule).
    """
    import argparse
    import json as _json

    from nutch_spark.data.frontier import synth_web
    from nutch_spark.session import get_spark

    p = argparse.ArgumentParser(description="Nutch-semantics crawl loop on Spark")
    p.add_argument("--warehouse", required=True, help="snapshot catalog root")
    p.add_argument("--cycles", type=int, default=3)
    p.add_argument("--top-n", type=int, default=50_000)
    p.add_argument("--n-docs", type=int, default=100_000)
    p.add_argument("--n-hosts", type=int, default=2_000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--start-ms", type=int, default=1_704_000_000_000)
    p.add_argument("--cycle-ms", type=int, default=3_600_000)
    p.add_argument("--num-reducers", type=int, default=0,
                   help="generate quota reducers (0 = one, exact-global)")
    p.add_argument("--resume", action="store_true",
                   help="continue from the warehouse's current crawldb snapshot")
    args = p.parse_args(argv)

    spark = get_spark(app_name="nutch_spark_crawl")
    cfg = NutchConfig(
        generate_num_reducers=max(1, args.num_reducers)
    )
    web = synth_web(spark, n_docs=args.n_docs, n_hosts=args.n_hosts, seed=args.seed)
    catalog = SnapshotCatalog(args.warehouse)
    crawler = Crawler(spark, catalog, cfg, web["docs"], web["robots"], web["outcomes"])
    if args.resume and catalog.exists(CRAWLDB):
        done = sum(
            1 for s in catalog.snapshots(CRAWLDB)
            if s.lineage.get("stage") == "updatedb"
        )
        start_cycle = done + 1
    else:
        crawler.inject(web["seeds"], args.start_ms)
        start_cycle = 1
    for i in range(start_cycle, start_cycle + args.cycles):
        res = crawler.run_cycle(i, args.start_ms + i * args.cycle_ms, top_n=args.top_n)
        print(_json.dumps({
            "cycle": res.cycle_id, "generated": res.generated,
            "fetched": res.fetched, "db_size": res.db_size,
            "virtual_makespan_ms": res.virtual_makespan_ms,
            "wall_seconds": round(res.wall_seconds, 2),
            "snapshot_id": res.snapshot_id,
            "status_counts": res.status_counts,
        }))
        if res.generated == 0:
            break
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
