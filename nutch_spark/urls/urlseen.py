"""URL-seen membership: the fingerprint split of the CrawlDb.

The CrawlDb itself is the *exact* URL-seen set (groupBy(url) in
updatedb, as in the reference where the CrawlDb MapFile is the seen
set). ``fingerprint_split`` is only a pre-filter: it splits the CrawlDb
into rows that may be in a segment and rows that provably are not, so
``operators.updatedb.updatedb_split`` merges the first slice and passes
the second through without a shuffle. A 64-bit xxhash collision only
sends an untouched row down the exact path, so the result never
changes.

The broadcast costs 8 bytes per distinct segment URL. A compact filter
(bloom, or cuckoo as in "A Learned Cuckoo Filter for Approximate
Membership Queries over Variable-sized Sliding Windows on Data
Streams", SIGMOD 2023) would pay off only beyond ~10^8 touched URLs per
cycle, where that broadcast stops fitting an executor; per-cycle topN is
orders of magnitude below it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fingerprint_split(big: DataFrame, members: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Returns (maybe_member, not_member); they partition ``big``.

    The distinct ``xxhash64(url)`` values of ``members`` are broadcast
    and ``big`` is split by a broadcast semi join and anti join on
    them."""
    # Both joins share this frame; under AQE the distinct shuffle and
    # the broadcast exchange are materialized once and the second join
    # plans a ReusedExchange (visible on the final adaptive plan only:
    # the pre-adaptive plan shows two BroadcastExchange nodes).
    fp = F.broadcast(members.select(F.xxhash64("url").alias("_fp")).distinct())
    on = F.xxhash64("url") == F.col("_fp")
    return big.join(fp, on, "left_semi"), big.join(fp, on, "left_anti")
