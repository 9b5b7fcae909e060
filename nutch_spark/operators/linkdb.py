"""LinkDb — inverted link graph (J5, ``crawl/LinkDb.java:102-171`` +
``crawl/LinkDbMerger.java``).

invert: explode page outlinks -> (to_url, Inlink(from_url, anchor)),
anchor truncated to ``linkdb.max.anchor.length``=100, internal links
ignored by default (``linkdb.ignore.internal.links``=true); merge with
an existing linkdb capped at ``linkdb.max.inlinks``=10000 per target.

Spark shape: explode + groupBy(to_url) with a bounded slice — the
inlink cap is the reference's own skew bound for mega-popular URLs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.urls.urlutil import host_expr


def invert_links(outlinks: DataFrame, cfg: NutchConfig) -> DataFrame:
    """``outlinks``: (url, to_url, anchor, ...) from the parse stage.
    Returns linkdb rows (url, inlinks array<struct<from_url, anchor>>)."""
    df = outlinks.select(
        F.col("to_url").alias("url"),
        F.col("url").alias("from_url"),
        F.substring(F.coalesce(F.col("anchor"), F.lit("")), 1, cfg.linkdb_max_anchor_length).alias("anchor"),
    )
    src_host = host_expr(F.col("from_url"))
    dst_host = host_expr(F.col("url"))
    if cfg.linkdb_ignore_internal_links:
        df = df.filter(src_host != dst_host)
    if cfg.linkdb_ignore_external_links:
        df = df.filter(src_host == dst_host)
    return df.groupBy("url").agg(
        F.slice(
            F.array_sort(F.collect_set(F.struct("from_url", "anchor"))),
            1,
            cfg.linkdb_max_inlinks,
        ).alias("inlinks")
    )


def merge_linkdbs(existing: DataFrame | None, new: DataFrame, cfg: NutchConfig) -> DataFrame:
    """LinkDbMerger: union inlink lists per target, re-cap at max_inlinks."""
    if existing is None:
        return new
    both = existing.unionByName(new)
    return both.groupBy("url").agg(
        # sort before the cap: collect_list order is nondeterministic,
        # and which inlinks survive linkdb.max.inlinks must not vary
        # between runs (replay invariant; matches invert_links's
        # sorted-inlinks output)
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("inlinks")))),
            1,
            cfg.linkdb_max_inlinks,
        ).alias("inlinks")
    )
