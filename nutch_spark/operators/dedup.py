"""Deduplication (A3) + status write-back (J6).

Re-expresses ``crawl/DeduplicationJob.java:65-413``: group the
signature-bearing db_fetched/db_notmodified rows by signature
(optionally + host/domain, ``dedup.group.mode``), keep the best row per
group by the ``dedup.compare.order`` preference (default
``score,fetchTime,urlLength``, :284), mark all others
``db_duplicate``, then write the marks back into the CrawlDb.

The reference's keep-choice is a streaming pairwise compare; our
re-expression is a rank() window over the equivalent total preference:
score desc, fetchTime desc, percent-decoded url length asc(:207-231)
[, https-over-http when enabled (:192-206)]. Pairs the reference finds
"no decision possible" (all comparators tie) share rank 1 and are all
kept — same outcome, input-order independent.

Scale: one shuffle on the signature key; the duplicate-mark join back
is url-keyed. Skewed signatures (giant duplicate clusters) stay bounded
because only rank computation runs per group (no collect_list).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.schema import STATUS_DB_DUPLICATE, STATUS_DB_FETCHED, STATUS_DB_NOTMODIFIED
from nutch_spark.urls.urlutil import domain_expr, host_expr


def decoded_url_len(url: Column) -> Column:
    """Percent-decoded URL length, pure JVM (DeduplicationJob.java:207-231).

    The reference calls ``URLDecoder.decode(url, UTF_8)`` and on
    ``IllegalArgumentException`` (malformed % escape) compares the
    *encoded* URL instead — a whole-string fallback. Spark's
    ``try_url_decode`` is that exact Java decoder returning NULL on the
    same exception, so ``coalesce(try_url_decode(url), url)`` reproduces
    the fallback bit-for-bit. (``+`` decodes to a space — length
    unchanged, so the comparator is unaffected.)

    The compared quantity is Java ``String.length()`` — UTF-16 code
    units, where a supplementary-plane code point counts 2 — not code
    points (``char_length``): a decoded emoji must tip the comparator
    exactly as it does in Java. ``octet_length(encode(s, 'UTF-16BE'))``
    is 2 bytes per code unit, so halving it is the exact UTF-16 length.
    """
    decoded = F.coalesce(F.try_url_decode(url), url)
    return (F.octet_length(F.encode(decoded, "UTF-16BE")) / 2).cast("int")


def find_duplicates(crawldb: DataFrame, cfg: NutchConfig) -> DataFrame:
    """Returns the rows to be marked duplicate (url + signature key)."""
    eligible = crawldb.filter(
        F.col("status").isin(STATUS_DB_FETCHED, STATUS_DB_NOTMODIFIED)
        & F.col("signature").isNotNull()
    )
    if cfg.dedup_group_mode == "host":
        key = F.concat_ws("|", F.col("signature"), host_expr(F.col("url")))
    elif cfg.dedup_group_mode == "domain":
        key = F.concat_ws("|", F.col("signature"), domain_expr(F.col("url")))
    else:
        key = F.col("signature")
    eligible = eligible.withColumn("sig_key", key)

    order: list[Column] = []
    for comp in cfg.dedup_compare_order.split(","):
        comp = comp.strip()
        if comp == "score":
            order.append(F.desc("score"))
        elif comp == "fetchTime":
            order.append(F.desc("fetch_time"))
        elif comp == "httpsOverHttp":
            order.append(F.asc(F.when(F.col("url").startswith("https://"), 0).otherwise(1)))
        elif comp == "urlLength":
            order.append(F.asc(decoded_url_len(F.col("url"))))
    w = Window.partitionBy("sig_key").orderBy(*order)
    ranked = eligible.withColumn("_rank", F.rank().over(w))
    return ranked.filter(F.col("_rank") > 1).select("url")


def dedup(crawldb: DataFrame, cfg: NutchConfig) -> DataFrame:
    """Full dedup: returns the CrawlDb with losers marked db_duplicate
    (DeduplicationJob.StatusUpdateReducer, :249-272: duplicate wins)."""
    dups = find_duplicates(crawldb, cfg).withColumn("_dup", F.lit(True))
    out = crawldb.join(dups, "url", "left")
    return out.withColumn(
        "status",
        F.when(F.col("_dup"), F.lit(STATUS_DB_DUPLICATE)).otherwise(F.col("status")),
    ).drop("_dup")
