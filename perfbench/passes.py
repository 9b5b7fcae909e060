"""The two ways the benchmark drives a crawl over one catalog.

``UntracedPass`` is the production path: ``Crawler.inject`` and
``Crawler.run_cycle`` with segment commits, exactly as ``bin/crawl``
would run them. ``TracedPass`` calls the same public operators in
``run_cycle``'s order, but puts each layer under its own Spark job
group (``c{n}.{layer}``) and ends it at a materialization boundary
(persist + action), so the event log and ``/proc`` can charge every
job and CPU second to one layer. Both passes must commit the same
CrawlDb; :func:`check_catalog` and :func:`crawldb_hash` verify that.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.observation import Observation

from nutch_spark.catalog import SnapshotCatalog
from nutch_spark.config import NutchConfig
from nutch_spark.operators.fetchsim import fetch, fetched_content
from nutch_spark.operators.generate import generate, mark_generated
from nutch_spark.operators.inject import inject_full
from nutch_spark.operators.parse import materialize_parse_caches, parse
from nutch_spark.operators.updatedb import updatedb, updatedb_incremental
from nutch_spark.pipeline.crawl_loop import CRAWLDB, Crawler
from nutch_spark.schema import STATUS_DB_UNFETCHED, STATUS_FETCH_SUCCESS, STATUS_NAMES

from procmon import tree_cpu_s

MB = 2**20
_ROOT_PID = os.getpid()
DATUM_COLS = [
    "url", "status", "fetch_time", "retries", "fetch_interval", "score",
    "signature", "modified_time", "metadata", "gen_time", "repr_url",
]
_DB_STATUS_CODES = tuple(range(0x01, 0x09))
_FETCH_STATUS_CODES = tuple(range(0x21, 0x27))
SEGMENT_TABLES = ("crawl_fetch", "crawl_parse", "parse_text", "parse_data", "parse_meta")


@dataclass
class Cycle:
    """What one cycle committed, in the fields both passes can report."""

    cycle_id: int
    generated: int
    fetched: int
    db_size: int
    status_counts: dict[str, int]
    wall_s: float
    snapshot_id: int


@dataclass
class Span:
    wall_s: float = 0.0
    proc_cpu_s: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Times named spans. When ``enabled`` each span also runs under a
    Spark job group of its name and records the process tree's CPU."""

    def __init__(self, spark: SparkSession, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: dict[str, Span] = {}

    @contextmanager
    def span(self, name: str):
        rec = self.spans.setdefault(name, Span())
        if self.enabled:
            self.sc.setJobGroup(name, name)
            cpu0 = tree_cpu_s(_ROOT_PID)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.wall_s += time.perf_counter() - t0
            if self.enabled:
                rec.proc_cpu_s += tree_cpu_s(_ROOT_PID) - cpu0
                # later work must name its own group, or the ledger
                # reports it as untagged
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def _status_aggs(codes) -> list:
    return [F.sum((F.col("status") == c).cast("long")).alias(f"s{c}") for c in codes]


def _named_counts(row, codes) -> dict[str, int]:
    return {STATUS_NAMES.get(c, str(c)): int(row[f"s{c}"]) for c in codes if row[f"s{c}"]}


class UntracedPass:
    """The production path, timed per operation from outside."""

    def __init__(self, spark, catalog: SnapshotCatalog, cfg: NutchConfig, inputs, tracer,
                 top_n: int, name: str):
        self.name = name
        self.catalog = catalog
        self.tracer = tracer
        self.top_n = top_n
        self.crawler = Crawler(
            spark, catalog, cfg, inputs["docs"], inputs["robots"], inputs["outcomes"],
            write_segments=True,
        )

    def inject(self, seeds: DataFrame, now_ms: int) -> float:
        with self.tracer.span(f"{self.name}.inject"):
            t0 = time.perf_counter()
            self.crawler.inject(seeds, now_ms)
            return time.perf_counter() - t0

    def cycle(self, cycle_id: int, now_ms: int) -> Cycle:
        with self.tracer.span(f"{self.name}.c{cycle_id}"):
            t0 = time.perf_counter()
            r = self.crawler.run_cycle(cycle_id, now_ms, top_n=self.top_n)
            wall = time.perf_counter() - t0
        return Cycle(r.cycle_id, r.generated, r.fetched, r.db_size, r.status_counts, wall,
                     r.snapshot_id)


class TracedPass:
    """``run_cycle``'s operator sequence, one job group per layer.

    The layers, and the boundary each one ends at:

    - ``c0.inject``: ``inject_full`` persisted and counted;
    - ``c{n}.generate``: the fetchlist persisted and counted;
    - ``c{n}.fetchsim``: ``fetch``'s two outputs persisted, plus the
      fetch-status aggregation ``run_cycle`` also runs;
    - ``c{n}.parse``: ``materialize_parse_caches`` and the four committed
      parse products persisted and counted;
    - ``c{n}.updatedb``: ``updatedb_incremental`` persisted and counted,
      with the CrawlDb status counts observed on that action;
    - ``c{n}.catalog`` (and ``c0.catalog``): the ``SnapshotCatalog``
      commits of the CrawlDb and the segment tables.

    Only the last cycle's caches outlive it, so that
    :meth:`full_merge_matches` can rerun its updatedb as a full merge.
    """

    def __init__(self, spark, catalog: SnapshotCatalog, cfg: NutchConfig, inputs, tracer,
                 top_n: int, name: str, seed_rows: int, db_rows: int = 0):
        if cfg.fetcher_follow_outlinks_depth > 0 or cfg.urlmeta_tags or cfg.scoring_depth_enabled:
            raise ValueError("TracedPass replays run_cycle's default path only")
        self.name = name
        self.spark = spark
        self.catalog = catalog
        self.cfg = cfg
        self.inputs = inputs
        self.tracer = tracer
        self.top_n = top_n
        self.seed_rows = seed_rows
        # a committed starting CrawlDb is all db_unfetched
        self.db_size = self.db_unfetched = db_rows
        self._held: list[DataFrame] = []
        self._last = None

    def _db_observe(self, df: DataFrame, name: str):
        obs = Observation(name)
        return df.observe(obs, F.count(F.lit(1)).alias("total"),
                          *_status_aggs(_DB_STATUS_CODES)), obs

    def _set_db_state(self, row) -> dict[str, int]:
        self.db_size = int(row["total"])
        self.db_unfetched = int(row[f"s{STATUS_DB_UNFETCHED}"] or 0)
        return _named_counts(row, _DB_STATUS_CODES)

    def inject(self, seeds: DataFrame, now_ms: int) -> float:
        t = self.tracer
        rows_before = self.db_size
        t0 = time.perf_counter()
        with t.span("c0.inject") as rec:
            # a parquet read runs a one-task schema job, so it sits in a span
            old = self.catalog.read(self.spark, CRAWLDB) if self.catalog.exists(CRAWLDB) else None
            newdb, obs = self._db_observe(
                inject_full(self.spark, old, seeds, self.cfg, now_ms), "c0_inject_db")
            newdb = newdb.persist()
            newdb.count()
            self._set_db_state(obs.get)
            rec.counts.update(rows_in=rows_before + self.seed_rows, rows_out=self.db_size)
        with t.span("c0.catalog") as rec:
            self.catalog.commit(newdb, CRAWLDB, now_ms=now_ms,
                                lineage={"stage": "inject"}, metrics={"urls": self.db_size})
            rec.counts.update(rows_in=self.db_size, rows_out=self.db_size)
        newdb.unpersist()
        return time.perf_counter() - t0

    def cycle(self, cycle_id: int, now_ms: int) -> Cycle:
        self.release()
        t, cfg, spark = self.tracer, self.cfg, self.spark
        c = f"c{cycle_id}"
        held = self._held
        t0 = time.perf_counter()
        db_rows, db_unfetched = self.db_size, self.db_unfetched
        parent = self.catalog.current_snapshot_id(CRAWLDB)

        with t.span(f"{c}.generate") as rec:
            crawldb = self.catalog.read(spark, CRAWLDB)
            fl = generate(crawldb, cfg, now_ms, top_n=self.top_n).persist()
            held.append(fl)
            generated = fl.count()
            rec.counts.update(rows_in=db_rows, rows_out=generated,
                              select_ratio=generated / max(1, db_unfetched))
        if generated == 0:
            raise RuntimeError(f"cycle {cycle_id} generated nothing: the workload ran dry")

        with t.span(f"{c}.fetchsim") as rec:
            crawl_fetch, redirect_links = fetch(fl, self.inputs["robots"],
                                                self.inputs["outcomes"], cfg, now_ms)
            crawl_fetch, redirect_links = crawl_fetch.persist(), redirect_links.persist()
            held += [crawl_fetch, redirect_links]
            row = crawl_fetch.agg(
                F.count("*").alias("n"), F.max("fetch_time").alias("mk"),
                *_status_aggs(_FETCH_STATUS_CODES),
            ).collect()[0]
            fetched, makespan = int(row["n"]), row["mk"] or now_ms
            fetch_status_counts = _named_counts(row, _FETCH_STATUS_CODES)
            success = int(row[f"s{STATUS_FETCH_SUCCESS}"] or 0)
            n_redirects = redirect_links.count()
            rec.counts.update(rows_in=generated, rows_out=fetched + n_redirects,
                              fetched_ratio=success / generated,
                              virtual_makespan_s=(makespan - now_ms) / 1000)

        with t.span(f"{c}.parse") as rec:
            handles: list = []
            parsed = parse(fetched_content(crawl_fetch, self.inputs["docs"]), cfg,
                           persist_handles=handles)
            held += handles
            materialize_parse_caches(handles)
            products = {k: parsed[k].persist() for k in SEGMENT_TABLES[1:]}
            held += products.values()
            n_parse = {k: df.count() for k, df in products.items()}
            n_outlinks = parsed["outlinks"].count()
            rec.counts.update(rows_in=success, rows_out=n_parse["crawl_parse"],
                              outlinks_per_page=n_outlinks / max(1, success))

        with t.span(f"{c}.updatedb") as rec:
            segment_rows = (
                crawl_fetch.select(*DATUM_COLS)
                .unionByName(products["crawl_parse"].select(*DATUM_COLS))
                .unionByName(redirect_links.select(*DATUM_COLS))
            )
            base_db = mark_generated(crawldb, fl) if cfg.generate_update_crawldb else crawldb
            newdb, obs = self._db_observe(
                updatedb_incremental(base_db, segment_rows, cfg, now_ms), f"{c}_db")
            newdb = newdb.persist()
            held.append(newdb)
            newdb.count()
            status_counts = self._set_db_state(obs.get)
            seg_n = fetched + n_parse["crawl_parse"] + n_redirects
            rec.counts.update(rows_in=db_rows + seg_n, rows_out=self.db_size,
                              touched_ratio=seg_n / max(1, db_rows),
                              rows_added=self.db_size - db_rows)

        with t.span(f"{c}.catalog") as rec:
            snap = self.catalog.commit(
                newdb, CRAWLDB, now_ms=now_ms,
                lineage={"stage": "updatedb", "cycle_id": cycle_id,
                         "crawldb_parent_snapshot": parent},
                metrics={"generated": generated, "fetched": fetched,
                         "virtual_makespan_ms": int(makespan - now_ms),
                         "fetch_status_counts": fetch_status_counts},
                expected_parent=parent,
            )
            self.catalog.update_snapshot_metrics(
                CRAWLDB, snap.snapshot_id, {"db_status_counts": status_counts})
            seg = f"segment_{cycle_id:04d}"
            committed = {"crawl_fetch": crawl_fetch, **products}
            for name in SEGMENT_TABLES:
                self.catalog.commit(committed[name], f"{seg}_{name}", now_ms=now_ms,
                                    lineage={"cycle_id": cycle_id})
            written = self.db_size + fetched + sum(n_parse.values())
            rec.counts.update(rows_in=written, rows_out=written,
                              snapshot_mb=sum(f["bytes"] for f in snap.manifest) / MB)
        self._last = (base_db, segment_rows, now_ms)
        return Cycle(cycle_id, generated, fetched, self.db_size, status_counts,
                     time.perf_counter() - t0, snap.snapshot_id)

    def full_merge_matches(self) -> bool:
        """The last cycle's committed CrawlDb equals plain ``updatedb``
        (the oracle-checked full merge) over the same inputs."""
        base_db, segment_rows, now_ms = self._last
        full = updatedb(base_db, segment_rows, self.cfg, now_ms)
        return crawldb_hash(full) == crawldb_hash(self.catalog.read(self.spark, CRAWLDB))

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held = []


def crawldb_hash(df: DataFrame) -> tuple[int, int]:
    """(rows, order-independent sum of per-row xxhash64 over every
    column). Maps are hashed as their key-sorted entry arrays."""
    cols = [
        F.array_sort(F.map_entries(F.col(f.name))) if isinstance(f.dataType, T.MapType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("h")
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def check_catalog(spark, catalog: SnapshotCatalog, cycles: list[Cycle], top_n: int) -> list[str]:
    """Output checks on one pass's committed catalog; returns failures."""
    fails = []
    for cy in cycles:
        if not 0 < cy.generated <= top_n:
            fails.append(f"c{cy.cycle_id}: generated {cy.generated} outside (0, {top_n}]")
        if cy.fetched > cy.generated:
            fails.append(f"c{cy.cycle_id}: fetched {cy.fetched} > generated {cy.generated}")
        if sum(cy.status_counts.values()) != cy.db_size:
            fails.append(f"c{cy.cycle_id}: status counts {cy.status_counts} "
                         f"do not sum to db_size {cy.db_size}")
    # fork rule (Generator.java:234-237): every fetched URL was an
    # unfetched row of the CrawlDb snapshot its cycle generated from
    parents = {s.snapshot_id: s.parent_id for s in catalog.snapshots(CRAWLDB)}
    strays = reduce(DataFrame.unionByName, [
        catalog.read(spark, f"segment_{cy.cycle_id:04d}_crawl_fetch").select("url").join(
            catalog.read(spark, CRAWLDB, parents[cy.snapshot_id])
            .filter(F.col("status") == STATUS_DB_UNFETCHED).select("url"),
            "url", "left_anti")
        for cy in cycles
    ]).count()
    if strays:
        fails.append(f"{strays} fetched URLs were not db_unfetched in their input CrawlDb")
    row = catalog.read(spark, CRAWLDB).agg(
        F.count("*").alias("n"), F.countDistinct("url").alias("u")).collect()[0]
    if row["n"] != row["u"]:
        fails.append(f"CrawlDb holds {row['n']} rows but {row['u']} distinct URLs")
    if cycles and row["n"] != cycles[-1].db_size:
        fails.append(f"committed CrawlDb has {row['n']} rows, last cycle reported "
                     f"{cycles[-1].db_size}")
    return fails
