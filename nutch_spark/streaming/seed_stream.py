"""Continuous seed injection — Structured Streaming over seed files.

The reference has no streaming layer (SURVEY §2.8): injection is a
batch CLI (`crawl/Injector.java`). At frontier scale, seeds arrive
continuously (sitemap drops, partner feeds), so this module runs the
same J1 inject merge as a Structured Streaming sink:

    seed dir (text files)  --readStream-->  foreachBatch:
        parse_seeds (S1) -> inject merge (J1) -> snapshot commit

``foreachBatch`` gives exactly-once-per-batch semantics: the stream
checkpoint records which files were consumed, and each micro-batch
commits one CrawlDb snapshot whose lineage carries the batch id — a
replayed batch after a crash produces a new snapshot with the same
content (inject is idempotent for identical seed sets: existing URLs
keep their datum, Injector.java:292-348).

The clock is injected per batch (``now_for_batch``) to keep replay
deterministic (SURVEY §2.8 — no wall clock in logic paths; default
falls back to batch_id-derived virtual time).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession

from nutch_spark.catalog import SnapshotCatalog
from nutch_spark.config import NutchConfig
from nutch_spark.operators.inject import inject_full

CRAWLDB = "crawldb"


def start_seed_stream(
    spark: SparkSession,
    seed_dir: str,
    checkpoint_dir: str,
    catalog: SnapshotCatalog,
    cfg: NutchConfig,
    *,
    now_for_batch: Callable[[int], int] | None = None,
    available_now: bool = True,
    url_filter_rules: list[str] | None = None,
):
    """Start (and return) the streaming query. With ``available_now``
    (default) it drains all currently-available seed files and stops —
    the batch-friendly trigger used by tests and cron-style ingestion;
    pass False for a continuously running micro-batch stream."""
    if now_for_batch is None:
        now_for_batch = lambda batch_id: 1_704_000_000_000 + batch_id * 60_000  # noqa: E731

    lines = spark.readStream.text(seed_dir)

    def handle(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        old = catalog.read(spark, CRAWLDB) if catalog.exists(CRAWLDB) else None
        now_ms = now_for_batch(batch_id)
        newdb = inject_full(
            spark, old, batch_df, cfg, now_ms, url_filter_rules=url_filter_rules
        )
        # commit FIRST — the parquet write is the only execution of the
        # inject lineage; the urls metric then comes from the committed
        # snapshot's manifest instead of re-running the merge DAG per
        # micro-batch
        snap = catalog.commit(
            newdb, CRAWLDB, now_ms=now_ms,
            lineage={"stage": "inject_stream", "batch_id": batch_id},
        )
        catalog.update_snapshot_metrics(CRAWLDB, snap.snapshot_id, {"urls": snap.rows})

    writer = (
        lines.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
