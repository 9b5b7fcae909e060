"""readdb -stats / -topN / -dump (A1, A2, S7) and host/domain stats (A4, A5).

Re-expresses ``crawl/CrawlDbReader.java`` (stats map :369-421, reduce
:423-471; topN :510-561,:964-1010; dump :834) and
``hostdb/UpdateHostDbReducer.java:49-370`` / ``util/domain/
DomainStatistics.java`` as plain DataFrame aggregations — every one is
a single groupBy/orderBy that Catalyst executes with partial (map-side)
aggregation; the reference's single-reducer global topN becomes
TakeOrdered (``orderBy().limit()``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.schema import (
    STATUS_DB_FETCHED,
    STATUS_DB_GONE,
    STATUS_DB_NOTMODIFIED,
    STATUS_DB_REDIR_PERM,
    STATUS_DB_REDIR_TEMP,
    STATUS_DB_UNFETCHED,
    STATUS_NAMES,
)
from nutch_spark.urls.urlutil import domain_expr, host_expr, tld_expr


def status_name_col(status: Column) -> Column:
    expr = None
    for code, name in STATUS_NAMES.items():
        expr = F.when(status == code, name) if expr is None else expr.when(status == code, name)
    return expr.otherwise(F.concat(F.lit("status_"), status.cast("string")))


def crawldb_stats(crawldb: DataFrame) -> DataFrame:
    """readdb -stats: per-status counts + score/fetch aggregates."""
    return (
        crawldb.groupBy("status")
        .agg(
            F.count("*").alias("count"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
            F.avg("score").alias("avg_score"),
            F.sum("score").alias("sum_score"),
            F.min("fetch_time").alias("min_fetch_time"),
            F.max("fetch_time").alias("max_fetch_time"),
            F.min("fetch_interval").alias("min_interval"),
            F.max("fetch_interval").alias("max_interval"),
        )
        .withColumn("status_name", status_name_col(F.col("status")))
    )


def retries_histogram(crawldb: DataFrame) -> DataFrame:
    return crawldb.groupBy("retries").count().orderBy("retries")


def top_n(crawldb: DataFrame, n: int, min_score: float | None = None) -> DataFrame:
    """readdb -topN: global top-N by score (TakeOrdered, scalable)."""
    df = crawldb
    if min_score is not None:
        df = df.filter(F.col("score") >= F.lit(min_score).cast("float"))
    return df.orderBy(F.desc("score"), F.asc("url")).limit(n).select("url", "score")


def dump(crawldb: DataFrame, *, status: int | None = None, regex: str | None = None,
         min_score: float | None = None, max_score: float | None = None,
         min_retry: int | None = None, jexl: str | None = None) -> DataFrame:
    """readdb -dump with the reference's filters
    (CrawlDbReader.processDumpJob, :834-899: status/regex/retry/
    score-min/score-max/expr). ``jexl`` is the reference's ``-expr``
    JEXL syntax compiled to a JVM Column (:mod:`nutch_spark.jexl`,
    CrawlDatum.execute context)."""
    df = crawldb
    if status is not None:
        df = df.filter(F.col("status") == status)
    if regex is not None:
        df = df.filter(F.col("url").rlike(regex))
    if min_score is not None:
        df = df.filter(F.col("score") >= F.lit(min_score).cast("float"))
    if max_score is not None:
        df = df.filter(F.col("score") <= F.lit(max_score).cast("float"))
    if min_retry is not None:
        df = df.filter(F.col("retries") >= min_retry)
    if jexl is not None:
        from nutch_spark.jexl import crawldatum_resolver, jexl_filter_column

        df = df.filter(jexl_filter_column(jexl, crawldatum_resolver()))
    return df


def read_url(crawldb: DataFrame, url: str) -> DataFrame:
    """readdb -url: point lookup of one URL's datum
    (CrawlDbReader.readUrl, :818-832). On a crawldb bucketed/sorted by
    url this is a pruned single-partition scan; Catalyst pushes the
    equality predicate into the parquet scan either way."""
    return crawldb.filter(F.col("url") == url)


def hostdb_update(crawldb: DataFrame, cfg: NutchConfig) -> DataFrame:
    """HostDb (A4): per-host aggregates over the CrawlDb —
    counts per db status, totals, score percentiles
    (UpdateHostDbReducer percentiles :364-370 -> percentile_approx).
    DNS resolution is out of scope (fixture-driven, SURVEY A4)."""
    df = crawldb.withColumn("host", host_expr(F.col("url")))

    def cnt(status):
        return F.count(F.when(F.col("status") == status, 1)).alias(
            "n_" + STATUS_NAMES[status]
        )

    return df.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        cnt(STATUS_DB_UNFETCHED),
        cnt(STATUS_DB_FETCHED),
        cnt(STATUS_DB_GONE),
        cnt(STATUS_DB_NOTMODIFIED),
        cnt(STATUS_DB_REDIR_TEMP),
        cnt(STATUS_DB_REDIR_PERM),
        F.sum(F.when(F.col("status") != STATUS_DB_UNFETCHED, 1).otherwise(0)).alias("n_tried"),
        F.max("fetch_time").alias("last_fetch_time"),
        F.avg("score").alias("avg_score"),
        F.expr("percentile_approx(score, array(0.5, 0.75, 0.95), 1000)").alias("score_pcts"),
    )


def read_hostdb(hostdb: DataFrame, jexl: str | None = None) -> DataFrame:
    """ReadHostDb dump (hostdb/ReadHostDb.java:89-140): the host table,
    optionally gated by a ``hostdb.filter.expression`` JEXL script over
    the per-host counters (unfetched/fetched/gone/redirs/ok/
    numRecords/...) — compiled to a JVM Column, see
    :func:`nutch_spark.jexl.hostdb_resolver`."""
    if jexl is None:
        return hostdb
    from nutch_spark.jexl import hostdb_resolver, jexl_filter_column

    return hostdb.filter(jexl_filter_column(jexl, hostdb_resolver(hostdb)))


def domain_stats(crawldb: DataFrame, mode: str = "domain") -> DataFrame:
    """CrawlCompletionStats / DomainStatistics (A5): fetched/unfetched
    counts per host, domain, public suffix, or top-level domain
    (DomainStatistics.java:190-199 MODE_HOST/DOMAIN/SUFFIX/TLD —
    suffix = URLUtil.getDomainSuffix, tld = its last label).

    Documented deviation (suffix/tld modes): hosts whose suffix is not
    in the public-suffix table are counted under their last label, and
    bare-IP hosts under a NULL key. The reference's
    DomainStatistics.map calls URLUtil.getDomainSuffix(url).getDomain()
    which NPEs for those hosts; the swallowed exception silently DROPS
    the row, so reference output omits them entirely. Counting them is
    this repo's pre-existing get_tld/tld_expr fallback convention —
    dropping data silently is the bug we choose not to replicate."""
    url = F.col("url")
    if mode == "host":
        key = host_expr(url)
    elif mode == "domain":
        key = domain_expr(url)
    elif mode == "suffix":
        key = tld_expr(url)
    elif mode == "tld":
        key = F.try_element_at(F.split(tld_expr(url), r"\."), F.lit(-1))
    else:
        raise ValueError(f"domain_stats: unknown mode {mode!r}")
    return (
        crawldb.withColumn("key", key)
        .groupBy("key")
        .agg(
            F.count("*").alias("n_urls"),
            F.count(F.when(F.col("status") == STATUS_DB_FETCHED, 1)).alias("n_fetched"),
            F.count(F.when(F.col("status") == STATUS_DB_UNFETCHED, 1)).alias("n_unfetched"),
        )
    )


def segment_stats(segment_rows: DataFrame) -> DataFrame:
    """SegmentReader -list (A7, segment/SegmentReader.java): per-status
    counts + fetch-time span of one segment's datum rows."""
    return (
        segment_rows.groupBy("status")
        .agg(
            F.count("*").alias("count"),
            F.min("fetch_time").alias("min_fetch_time"),
            F.max("fetch_time").alias("max_fetch_time"),
        )
        .withColumn("status_name", status_name_col(F.col("status")))
    )


# ---------------------------------------------------------------------------
# ProtocolStatusStatistics + CrawlSummaryStats
# ---------------------------------------------------------------------------

PROTOCOL_CODE_KEY = "nutch.protocol.code"

# simulated-protocol code: in the reference the fetcher stamps the real
# HTTP code (Nutch.java:44, FetcherThread); the discrete-event fetch has
# no wire codes, so the final fetch status maps onto the canonical code
# each status results from (documented deviation: one code per status)
_STATUS_TO_CODE = {
    0x21: "200",  # fetch_success
    0x22: "503",  # fetch_retry (server error / exception path)
    0x23: "302",  # fetch_redir_temp
    0x24: "301",  # fetch_redir_perm
    0x25: "404",  # fetch_gone
    0x26: "304",  # fetch_notmodified
}


def stamp_protocol_code(crawl_fetch: DataFrame) -> DataFrame:
    """Stamp `nutch.protocol.code` into the datum metadata the way the
    reference fetcher does (store.protocol.status path)."""
    code = None
    for s, c in _STATUS_TO_CODE.items():
        code = (
            F.when(F.col("status") == s, c)
            if code is None
            else code.when(F.col("status") == s, c)
        )
    base_meta = F.coalesce(
        F.col("metadata"), F.expr("cast(map() as map<string,string>)")
    )
    # only fetched statuses get a code; other datum kinds (linked,
    # signature, db rows carrying an older code) keep their metadata
    # untouched — a NULL-valued entry would clobber under LAST_WIN
    meta = F.when(
        code.isNotNull(),
        F.map_concat(
            base_meta,
            F.map_from_arrays(F.array(F.lit(PROTOCOL_CODE_KEY)), F.array(code)),
        ),
    ).otherwise(base_meta)
    return crawl_fetch.withColumn("metadata", meta)


def protocol_status_stats(crawldb: DataFrame) -> DataFrame:
    """ProtocolStatusStatistics (util/ProtocolStatusStatistics.java:118-160):
    count of every protocol code seen across the db; rows whose metadata
    lacks the code key count as UNFETCHED. One hash aggregation."""
    key = F.coalesce(
        F.element_at(F.col("metadata"), PROTOCOL_CODE_KEY), F.lit("UNFETCHED")
    )
    return (
        crawldb.groupBy(key.alias("status_code"))
        .agg(F.count("*").alias("count"))
    )


def crawl_summary(crawldb: DataFrame, mode: str = "host") -> DataFrame:
    """CrawlSummaryStats (util/CrawlSummaryStats.java:160-240): counts by
    host/domain x crawl status name x protocol code (-1 when absent)."""
    key = host_expr(F.col("url")) if mode == "host" else domain_expr(F.col("url"))
    code = F.coalesce(
        F.element_at(F.col("metadata"), PROTOCOL_CODE_KEY).cast("int"),
        F.lit(-1),
    )
    return (
        crawldb.select(
            key.alias("key"),
            status_name_col(F.col("status")).alias("status_name"),
            code.alias("http_code"),
        )
        .groupBy("key", "status_name", "http_code")
        .agg(F.count("*").alias("count"))
    )
