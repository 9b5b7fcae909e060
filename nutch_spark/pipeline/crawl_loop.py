"""The crawl macro-loop — ``src/bin/crawl:301-400`` as a Spark driver.

    inject(crawldb, seeds)                     # once
    for cycle in 1..N:
        generate -> fetch -> parse -> commit segment -> update
        [invertlinks, dedup, hostdb updates via operators.*]

Where the reference hands state across process boundaries through HDFS
directories, this loop hands it through catalog snapshots. ``Crawler``
has one method per stage; ``run_cycle`` composes them over in-memory
frames, and the CLI step commands (``tools/nutch.py``) run the same
stages one per process, through the committed segment tables (the CLI
fetchlist is the segment's ``crawl_generate`` table). Inject commits the
merged CrawlDb first and takes its size from the snapshot manifest, so
the merge executes once. A cycle first commits its segment tables
(``segment_NNNN_`` + ``crawl_fetch``, ``crawl_parse``,
``crawl_redirect``, ``parse_text``, ``parse_data``, ``parse_meta``).
The six commits are independent once the parse caches are filled, so
they run concurrently from a pool of driver threads, each carrying the
caller's job group. The cycle then merges the CrawlDb from the three
datum tables read back at the snapshot ids those commits returned — as
the reference's ``CrawlDb`` job merges the committed ``crawl_fetch`` /
``crawl_parse`` parts — and commits it last. So each cycle product
executes once, in its own commit, and the merge plan's segment side is
parquet scans; the merge dispatch sizes both sides from the snapshot
manifests, not from ``count()`` jobs. A failed cycle unpersists every
frame it cached and leaves the CrawlDb uncommitted. The CrawlDb
commit's lineage {cycle_id, stage, parent snapshot,
``segment_snapshots``} names those segment snapshots, so
``updatedb`` over the parent snapshot and the named tables reproduces
the committed CrawlDb; its metrics map carries the fetcher counters
(observed on the ``crawl_fetch`` write and kept in that snapshot's
metrics) and the status counts (observed on the CrawlDb write).
Resume-from-checkpoint = ``SnapshotCatalog.rollback`` + rerun;
determinism comes from injected clocks and seeds (no wall-clock in
logic paths, SURVEY §2.8).

Run on a cluster via ``spark-submit --py-files nutch_spark.zip
nutch_spark/pipeline/crawl_loop.py`` (``main`` below) — the driver
itself is plain PySpark.
"""

from __future__ import annotations

import dataclasses
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation
from pyspark.util import inheritable_thread_target

from nutch_spark.catalog import Snapshot, SnapshotCatalog
from nutch_spark.config import NutchConfig
from nutch_spark.operators.fetchsim import fetch as simulate_fetch, fetched_content
from nutch_spark.operators.generate import generate as generate_fetchlist, mark_generated
from nutch_spark.operators.inject import inject_full
from nutch_spark.operators.parse import materialize_parse_caches, parse as parse_content
from nutch_spark.operators.updatedb import updatedb_incremental
from nutch_spark.schema import DATUM_COLS, STATUS_NAMES

CRAWLDB = "crawldb"

# CrawlDb row statuses (schema.py STATUS_DB_*) — the per-cycle
# db_status_counts metric observes these on the committed write
_DB_STATUS_CODES = tuple(range(0x01, 0x09))
# fetch statuses (STATUS_FETCH_*) for the fetcher counter table
_FETCH_STATUS_CODES = tuple(range(0x21, 0x27))
# the tables a cycle commits per segment, in lineage order
SEGMENT_TABLES = (
    "crawl_fetch", "crawl_parse", "crawl_redirect", "parse_text", "parse_data", "parse_meta",
)
# the segment tables updatedb merges into the CrawlDb
_MERGE_TABLES = ("crawl_fetch", "crawl_parse", "crawl_redirect")


def _status_sums(codes) -> list:
    return [F.sum((F.col("status") == c).cast("long")).alias(f"s{c}") for c in codes]


def _named_counts(row, codes) -> dict[str, int]:
    return {STATUS_NAMES.get(c, str(c)): int(row[f"s{c}"]) for c in codes if row[f"s{c}"]}


def segment_name(cycle_id: int) -> str:
    return f"segment_{cycle_id:04d}"


def last_cycle_id(catalog: SnapshotCatalog) -> int:
    """The cycle the current CrawlDb snapshot names (0 before the first
    cycle); the next cycle is this + 1. A count of snapshots would run
    backwards once ``expire_snapshots`` drops old entries."""
    if not catalog.exists(CRAWLDB):
        return 0
    return catalog.snapshot(CRAWLDB).lineage.get("cycle_id", 0)


def commit_crawldb(catalog: SnapshotCatalog, df: DataFrame, now_ms: int, stage: str,
                   **kw) -> Snapshot:
    """Commit a CrawlDb made outside a cycle (inject, dedup, a score or
    sitemap update). It keeps the current cycle id in its lineage, so
    the next generate still numbers its segment after the last cycle."""
    return catalog.commit(
        df, CRAWLDB, now_ms=now_ms,
        lineage={"stage": stage, "cycle_id": last_cycle_id(catalog)}, **kw,
    )


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
    """The crawl cycle's stages over one snapshot warehouse.

    ``docs``/``robots``/``outcomes`` are the simulated web: ``fetch``
    reads robots and outcomes, ``parse`` reads docs, and a crawler that
    runs neither needs none of them."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: SnapshotCatalog,
        cfg: NutchConfig,
        docs: DataFrame | None = None,
        robots: DataFrame | None = None,
        outcomes: DataFrame | None = None,
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
        # the commit is the merge's only execution; its size comes from
        # the snapshot's manifest, not from a count() that re-runs it
        snap = commit_crawldb(self.catalog, newdb, now_ms, "inject")
        self.catalog.update_snapshot_metrics(CRAWLDB, snap.snapshot_id, {"urls": snap.rows})
        return snap.rows

    def generate(self, crawldb: DataFrame, now_ms: int, top_n: int = 50000,
                 **kw) -> DataFrame:
        """The fetchlist: at most ``top_n`` due URLs of ``crawldb``
        (``kw``: further ``operators.generate`` options)."""
        return generate_fetchlist(
            crawldb, self.cfg, now_ms, top_n=top_n,
            url_filter_rules=self.url_filter_rules, **kw,
        )

    def fetch(self, fl: DataFrame, now_ms: int, *, dns: DataFrame | None = None):
        """Fetch ``fl`` from the simulated web: ``(crawl_fetch,
        crawl_redirect)``. ``crawl_fetch`` comes back persisted (parse
        and its commit both read it); the caller unpersists it."""
        crawl_fetch, redirect_links = simulate_fetch(
            fl, self.robots, self.outcomes, self.cfg, now_ms, dns=dns
        )
        # redirect-target datums: the reference writes them into
        # crawl_fetch, but here every crawl_fetch row is a fetched
        # fetchlist entry, so they get a table of their own
        return crawl_fetch.persist(), redirect_links.select(*DATUM_COLS)

    def parse(self, crawl_fetch: DataFrame, handles: list,
              parsed: dict[str, DataFrame] | None = None) -> dict[str, DataFrame]:
        """Parse the pages ``crawl_fetch`` fetched into the segment's
        parse tables: ``crawl_parse`` (the urlmeta/depth gates
        applied), ``parse_text``, ``parse_data``, ``parse_meta``. The
        parse caches go on ``handles``, filled, for the caller to
        unpersist. ``parsed``: the parse output the outlink-follow
        fetch already made, used instead of parsing again."""
        if parsed is None:
            parsed = parse_content(
                fetched_content(crawl_fetch, self.docs), self.cfg,
                url_filter_rules=self.url_filter_rules, persist_handles=handles,
            )
            # fill the caches before the segment commits fan out over
            # them (see materialize_parse_caches)
            materialize_parse_caches(handles)

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
        return {
            # the urlmeta/depth-PATCHED crawl_parse — the rows updatedb
            # consumes — not parsed['crawl_parse']
            "crawl_parse": crawl_parse,
            "parse_text": parsed["parse_text"],
            "parse_data": parsed["parse_data"],
            # per-doc meta directives (robots/noindex/base/refresh): the
            # reference persists these inside ParseData's parse metadata
            # (ParseOutputFormat.java:364-366) — IndexerMapReduce reads
            # them for indexer.delete.robots.noindex, so an index job
            # replayed from committed segments needs this table
            "parse_meta": parsed["parse_meta"],
        }

    def commit_segment(self, cycle_id: int, now_ms: int, products: dict[str, DataFrame],
                       **lineage) -> dict[str, Snapshot]:
        """Commit each product as table ``segment_NNNN_<name>``, all at
        once, with lineage ``{cycle_id, **lineage}``; returns the
        snapshots by table name, in ``products`` order. The fetcher
        counters ride the ``crawl_fetch`` write via ``DataFrame.observe``
        (SURVEY §4's fetcher counter table) and go into that snapshot's
        metrics, where ``update`` reads them."""
        seg = segment_name(cycle_id)
        fetch_table = f"{seg}_crawl_fetch"
        if "crawl_fetch" in products:
            obs_fetch = Observation(f"cycle_{cycle_id}_fetch")
            products = {**products, "crawl_fetch": products["crawl_fetch"].observe(
                obs_fetch,
                F.count(F.lit(1)).alias("n"),
                F.max("fetch_time").alias("mk"),
                *_status_sums(_FETCH_STATUS_CODES),
            )}
        # each commit's jobs carry the caller's local properties (its
        # job group). Every wrap clones them, so no two threads share
        # one mutable copy (SQL execution ids are set in it). Leaving
        # the pool waits for every commit, so a failed one re-raises
        # below only after its siblings finished
        with ThreadPoolExecutor(max_workers=len(products)) as pool:
            futures = {
                f"{seg}_{name}": pool.submit(
                    inheritable_thread_target(self.spark)(self.catalog.commit),
                    df, f"{seg}_{name}", now_ms=now_ms,
                    lineage={"cycle_id": cycle_id, **lineage},
                )
                for name, df in products.items()
            }
        committed = {table: f.result() for table, f in futures.items()}
        if fetch_table in committed:
            # the write completed, so the observed row is available
            # immediately (get would otherwise block)
            row = obs_fetch.get
            self.catalog.update_snapshot_metrics(fetch_table, committed[fetch_table].snapshot_id, {
                "fetched": int(row["n"]),
                "virtual_makespan_ms": int((row["mk"] or now_ms) - now_ms),
                "fetch_status_counts": _named_counts(row, _FETCH_STATUS_CODES),
            })
        return committed

    def update(self, cycle_id: int, now_ms: int, crawldb: DataFrame, parent: Snapshot,
               fl: DataFrame, generated: int, segment_snapshots: dict[str, int]) -> CycleResult:
        """Merge the committed segment into ``crawldb`` (CrawlDb snapshot
        ``parent``, which generated ``fl``) and commit the CrawlDb,
        expecting ``parent`` to be current still. ``segment_snapshots``
        maps each of the segment's tables to the snapshot the merge
        reads and the lineage names, in ``SEGMENT_TABLES`` order."""
        t0 = time.time()
        seg = segment_name(cycle_id)
        merge_tables = [f"{seg}_{name}" for name in _MERGE_TABLES]
        merge_snaps = [self.catalog.snapshot(t, segment_snapshots[t]) for t in merge_tables]
        # the fetcher counters commit_segment stored on crawl_fetch
        counters = merge_snaps[0].metrics
        segment_rows = reduce(DataFrame.unionByName, [
            self.catalog.read(self.spark, t, segment_snapshots[t]).select(*DATUM_COLS)
            for t in merge_tables
        ])

        base_db = mark_generated(crawldb, fl) if self.cfg.generate_update_crawldb else crawldb
        # fingerprint URL-seen split: untouched CrawlDb rows bypass the
        # merge shuffle (row-identical to plain updatedb). The dispatch
        # sizes both sides from the snapshot manifests (mark_generated
        # keeps the CrawlDb's rows), so it runs no count()
        newdb = updatedb_incremental(
            base_db, segment_rows, self.cfg, now_ms,
            rows=(parent.rows, sum(s.rows for s in merge_snaps)),
        )
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
                "crawldb_parent_snapshot": parent.snapshot_id,
                "segment_snapshots": segment_snapshots,
            },
            metrics={"generated": generated, **counters},
            expected_parent=parent.snapshot_id,
        )
        _db_row = obs_db.get
        status_counts = _named_counts(_db_row, _DB_STATUS_CODES)
        self.catalog.update_snapshot_metrics(
            CRAWLDB, snap.snapshot_id, {"db_status_counts": status_counts}
        )
        return CycleResult(
            cycle_id=cycle_id,
            generated=generated,
            fetched=counters["fetched"],
            db_size=int(_db_row["total"]),
            status_counts=status_counts,
            virtual_makespan_ms=counters["virtual_makespan_ms"],
            wall_seconds=time.time() - t0,
            snapshot_id=snap.snapshot_id,
        )

    def run_cycle(self, cycle_id: int, now_ms: int, top_n: int = 50000) -> CycleResult:
        t0 = time.time()
        parent = self.catalog.snapshot(CRAWLDB)
        crawldb = self.catalog.read(self.spark, CRAWLDB)
        fl = self.generate(crawldb, now_ms, top_n=top_n).persist()
        # every frame this cycle persists is unpersisted on every exit,
        # so a failed cycle leaves no cache in a long-lived session
        crawl_fetch = None
        handles: list = []
        try:
            generated = fl.count()
            if generated == 0:
                return CycleResult(cycle_id, 0, 0, parent.rows, {}, 0,
                                   time.time() - t0, parent.snapshot_id)

            if self.cfg.fetcher_follow_outlinks_depth > 0:
                # F9: the reference fetcher follows outlinks in-fetch when
                # fetcher.follow.outlinks.depth > 0 (FetcherThread.java:840).
                # The follow already parsed waves 0..depth-1 to extract
                # candidates — parse reuses those (persisted) products
                # instead of re-running extraction over the whole union
                from nutch_spark.operators.fetchsim import fetch_follow_outlinks

                crawl_fetch, redirect_links, parsed = fetch_follow_outlinks(
                    fl, self.robots, self.outcomes, self.docs, self.cfg, now_ms,
                    url_filter_rules=self.url_filter_rules, cleanup=handles,
                    return_parsed=True,
                )
                crawl_fetch = crawl_fetch.drop("outlink_depth").persist()
                crawl_redirect = redirect_links.select(*DATUM_COLS)
            else:
                crawl_fetch, crawl_redirect = self.fetch(fl, now_ms)
                parsed = None
            # commit the segment FIRST: each product executes once, in its
            # own write, and the merge reads only committed parquet
            products = {
                "crawl_fetch": crawl_fetch, "crawl_redirect": crawl_redirect,
                **self.parse(crawl_fetch, handles, parsed),
            }
            committed = self.commit_segment(
                cycle_id, now_ms, {name: products[name] for name in SEGMENT_TABLES}
            )
            # the merge reads the committed segment, not these caches (nor
            # the per-wave follow intermediates persisted inside
            # fetch_follow_outlinks); fl stays for mark_generated
            crawl_fetch.unpersist()
            for h in handles:
                h.unpersist()
            res = self.update(
                cycle_id, now_ms, crawldb, parent, fl, generated,
                {table: s.snapshot_id for table, s in committed.items()},
            )
            return dataclasses.replace(res, wall_seconds=time.time() - t0)
        finally:
            for h in (fl, crawl_fetch, *handles):
                if h is not None:
                    h.unpersist()

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
        start_cycle = last_cycle_id(catalog) + 1
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
