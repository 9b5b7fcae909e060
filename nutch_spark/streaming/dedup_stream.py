"""Streaming first-seen deduplication — the URL-seen set as a
Structured Streaming operator.

The crawl-loop batch engine keeps its URL-seen set in the CrawlDb
(groupBy(url) in updatedb), with a broadcast fingerprint split as its
accelerator (urls/urlseen.py). A continuously-ingesting frontier wants the
same semantics over an unbounded stream: emit each key the FIRST time it is
seen, drop every later duplicate, and bound the state store with an
event-time watermark (a key re-appearing after the lateness horizon is
treated as new — the streaming analogue of the crawldb's refetch
horizon).

Shapes:

- ``first_seen`` (batch twin): deterministic min-by — one row per key
  carrying the earliest (ts, tie-break id) occurrence. ANSI-SQL
  replayable; the oracle for the contract query.
- ``stream_first_seen``: the same logical dedup as a streaming plan —
  ``withWatermark(...).dropDuplicates(keys)`` keeps a state-store entry
  per key inside the watermark and emits only first arrivals
  (``dropDuplicatesWithinWatermark`` semantics on Spark 4: state
  expires with the watermark).

Scale: streaming dedup state is one entry per distinct key inside the
lateness horizon — the bounded-frontier equivalent of the fingerprint split;
partitioned by key hash across executors, no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def first_seen(
    events: DataFrame, keys: list[str], ts_col: str = "ts", id_col: str = "event_id"
) -> DataFrame:
    """Batch twin: the earliest row per key (min (ts, id) — total order,
    replay-deterministic)."""
    others = [c for c in events.columns if c not in keys]
    return (
        events.groupBy(*keys)
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in others]),
                F.struct(F.col(ts_col), F.col(id_col)),
            ).alias("_first")
        )
        .select(*keys, *[F.col(f"_first.{c}").alias(c) for c in others])
    )


def stream_first_seen(
    events: DataFrame, keys: list[str], *, ts_col: str = "ts",
    late_threshold: str = "1 hour",
) -> DataFrame:
    """Streaming variant: watermark-bounded dropDuplicates. On a batch
    DataFrame this degrades to plain dropDuplicates (useful for tests);
    on a stream the state store holds one entry per in-horizon key."""
    src = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark(ts_col, late_threshold)
        try:  # Spark >= 4: state expires with the watermark
            return src.dropDuplicatesWithinWatermark(keys)
        except AttributeError:  # pragma: no cover - older Spark
            return src.dropDuplicates(keys)
    return src.dropDuplicates(keys)


def start_dedup_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    *,
    schema=None,
    late_threshold: str = "1 hour",
    query_name: str = "first_seen",
    available_now: bool = True,
):
    """File-source streaming dedup writing to an in-memory sink named
    ``query_name`` (read back via ``spark.table(query_name)``)."""
    if schema is None:
        # streaming parquet sources require an explicit schema (no
        # inference); borrow it from a batch read of the same dir, like
        # event_stream.start_event_stream does
        schema = spark.read.parquet(events_dir).schema
    src = spark.readStream.schema(schema).parquet(events_dir)
    deduped = stream_first_seen(src, keys, late_threshold=late_threshold)
    writer = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
