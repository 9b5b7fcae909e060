"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship crawl cycle (inject → generate →
fetch → parse → updatedb, SURVEY.md §3.1) over a deterministic web
derived from ``/root/testdata/sf0.001/documents.parquet``.

``queries()`` exposes one entry per implemented operator from
SURVEY.md §2; each oracle in ``oracle_sql()`` is the ANSI-SQL
re-statement of the same semantics over the same parquet tables, so
the DuckDB comparison is an executable spec of the operator
(cited reference files in each query's docstring).

Determinism rules used throughout (so Spark and DuckDB hash-match):
- every score is a dyadic rational (k/4, k/0.25 steps) → float32 and
  float64 arithmetic are both EXACT and order-independent;
- injected clocks only (no wall clock), SURVEY §2.8;
- every ordering has a total tie-break (url / vec_id);
- doubles that result from division are rounded to 6 dp on both sides.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import replace

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.schema import DATUM_COLS, EMPTY_META_EXPR, STATUS_INJECTED, new_datum

# injected clocks (epoch ms) — SURVEY §2.8: time is an explicit parameter
FT_BASE = 1_700_000_000_000  # crawldb fetch_time base
GEN_NOW = 1_704_000_000_000  # generate curTime
FETCH_TS = 1_705_000_000_000  # segment actual fetch time
UPD_NOW = 1_706_000_000_000  # updatedb / inject clock

CFG = NutchConfig()


# ---------------------------------------------------------------------------
# shared synthetic-crawldb derivation (Spark side)
# ---------------------------------------------------------------------------

_N_DOCS_CACHE: dict[str, int] = {}


def _n_docs(docs: DataFrame, sf_dir: str) -> int:
    """Memoized docs row count per sf_dir — several fixture builders
    parametrize on it, and re-running the count job for every contract
    query invocation is pure waste (the parquet footer count never
    changes within a run)."""
    if sf_dir not in _N_DOCS_CACHE:
        _N_DOCS_CACHE[sf_dir] = docs.count()
    return _N_DOCS_CACHE[sf_dir]


def _dns(spark: SparkSession):
    """THE dns fixture (host0..host18 resolved, two hosts per IP,
    host19+ unresolved) — one definition; the byIP politeness oracle's
    host_id <> 19 and the geoip oracle's k < 19 both encode this
    topology."""
    return spark.range(19).select(
        F.concat(
            F.lit("host"), F.col("id").cast("string"), F.lit(".example.com")
        ).alias("host"),
        F.concat(
            F.lit("10.0.0."), (F.col("id") / 2).cast("int").cast("string")
        ).alias("ip"),
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _url_col(doc_id=None):
    d = F.col("doc_id") if doc_id is None else doc_id
    return F.concat(
        F.lit("http://host"), (d % 40).cast("string"),
        F.lit(".example.com/doc/"), d.cast("string"),
    )


def _url20(doc_id=None):
    """The _web fixture's URL shape (20 hosts) — shared by every query
    builder so a host-count change is a one-line edit."""
    d = F.col("doc_id") if doc_id is None else doc_id
    return F.concat(
        F.lit("http://host"), (d % 20).cast("string"),
        F.lit(".example.com/doc/"), d.cast("string"),
    )


def _crawldb(docs: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """CrawlDb rows derived 1:1 from the documents table (CrawlDatum
    fields per crawl/CrawlDatum.java:138-145; statuses :63-105)."""
    s = F.col("doc_id") % 10
    status = (
        F.when(s < 5, 1)       # db_unfetched
        .when(s < 8, 2)        # db_fetched
        .when(s == 8, 6)       # db_notmodified
        .otherwise(3)          # db_gone
    )
    return docs.select(
        *new_datum(
            _url_col(), status,
            F.lit(FT_BASE) + (F.col("doc_id") % 1000) * 3600000,
            retries=F.col("doc_id") % 3,
            fetch_interval=2592000,
            score=(F.col("doc_id") % 64) / 4.0,
            signature=F.when((s >= 5) & (s <= 8), F.md5("text")),
        ),
        *[F.col(c) for c in extra],
    )


# the same derivation as a DuckDB CTE (oracle side)
_CRAWLDB_CTE = """
crawldb AS (
  SELECT
    'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS url,
    CAST(CASE WHEN doc_id % 10 < 5 THEN 1
              WHEN doc_id % 10 < 8 THEN 2
              WHEN doc_id % 10 = 8 THEN 6
              ELSE 3 END AS INTEGER) AS status,
    CAST(1700000000000 + (doc_id % 1000) * 3600000 AS BIGINT) AS fetch_time,
    CAST(doc_id % 3 AS INTEGER) AS retries,
    CAST(2592000 AS INTEGER) AS fetch_interval,
    (doc_id % 64) / 4.0 AS score,
    CASE WHEN doc_id % 10 BETWEEN 5 AND 8 THEN md5(text) END AS signature,
    CAST(0 AS BIGINT) AS modified_time,
    doc_id,
    text
  FROM documents
)
"""


def _updatedb_inputs(docs: DataFrame):
    """THE shared (old crawldb, segment rows) fixture for the updatedb
    state-machine queries. One definition on purpose: oracle_sql()
    aliases updatedb_incremental's oracle to updatedb_states', which is
    only sound while the two queries consume row-identical inputs."""
    old = _crawldb(docs.filter(F.col("doc_id") % 3 != 0))
    seg = docs.filter(F.col("doc_id") % 5 != 4)
    k = F.col("doc_id") % 4
    score = (F.col("doc_id") % 64) / 4.0
    succ = seg.filter(k == 0).select(*new_datum(
        _url_col(), 0x21, FETCH_TS, fetch_interval=2592000, score=score,
        signature=F.when(F.col("doc_id") % 8 == 0, F.md5("text")).otherwise(
            F.md5(F.concat(F.col("text"), F.lit("x")))),
    ))
    gone = seg.filter(k == 1).select(*new_datum(
        _url_col(), 0x25, FETCH_TS, fetch_interval=2592000, score=score,
    ))
    retry = seg.filter(k == 2).select(*new_datum(
        _url_col(), 0x22, FETCH_TS, retries=F.col("doc_id") % 3,
        fetch_interval=2592000, score=score,
    ))
    linked = seg.filter(k == 3).select(*new_datum(
        _url_col(), 0x43, FETCH_TS, fetch_interval=2592000, score=0.25,
    ))
    seg_rows = (
        succ.unionByName(gone).unionByName(retry)
        .unionByName(linked).unionByName(linked)
    )
    return old, seg_rows


# ---------------------------------------------------------------------------
# crawl queries (SURVEY §2: J1 J2 J4 J5, G1/G2, A1-A5)
# ---------------------------------------------------------------------------

def q_inject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 inject merge (Injector.java:292-348): full-outer seeds ⟗ db."""
    from nutch_spark.operators.inject import inject

    docs = _docs(spark, sf_dir)
    old = _crawldb(docs.filter(F.col("doc_id") % 2 == 0))
    # parse_seeds' shape: no status column (the merge stamps it)
    seeds = docs.filter(F.col("doc_id") % 3 == 0).select(*new_datum(
        _url_col(), STATUS_INJECTED, UPD_NOW, fetch_interval=2592000, score=2.0,
    )).drop("status")
    out = inject(old, seeds, CFG)
    return out.select(
        "url", "status", "fetch_time", "retries", "fetch_interval",
        F.col("score").cast("double").alias("score"),
    )


def q_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/G2 generate: eligibility (fork: unfetched only,
    Generator.java:234-237), per-host maxCount with segment spill
    (:509-552), per-segment topN (:396-397)."""
    from nutch_spark.operators.generate import generate

    cfg = replace(CFG, generate_max_count=5, generate_count_mode="host")
    db = _crawldb(_docs(spark, sf_dir))
    fl = generate(db, cfg, GEN_NOW, top_n=150, max_num_segments=2, num_lists=8)
    return fl.select("url", F.col("segnum").cast("int").alias("segnum"))


def q_updatedb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 + §2.4 state machine (CrawlDbReducer.java:64-324): union of
    old db + fetch (success/gone/retry) + linked datums, grouped by url,
    merged by the normative state machine with DefaultFetchSchedule."""
    from nutch_spark.operators.updatedb import updatedb

    docs = _docs(spark, sf_dir)
    old, seg_rows = _updatedb_inputs(docs)
    out = updatedb(old, seg_rows, CFG, UPD_NOW)
    return out.select(
        "url", "status", "fetch_time", "retries", "fetch_interval",
        F.col("score").cast("double").alias("score"), "signature",
    )


def q_updatedb_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 AdaptiveFetchSchedule through updatedb: NOTMODIFIED grows
    the interval ×(1+inc), MODIFIED shrinks ×(1-dec), UNKNOWN keeps it
    (AdaptiveFetchSchedule.java:97-147). Rates are dyadic (0.5/0.25) so
    the float32 arithmetic is exact and SQL-mirrorable."""
    from nutch_spark.operators.updatedb import updatedb

    cfg = replace(
        CFG, db_fetch_schedule="adaptive", adaptive_inc_rate=0.5,
        adaptive_dec_rate=0.25, adaptive_sync_delta=False,
    )
    docs = _docs(spark, sf_dir)
    old = _crawldb(docs.filter(F.col("doc_id") % 3 != 0))
    seg = docs.select(*new_datum(
        _url_col(), 0x21, FETCH_TS, fetch_interval=2592000,
        score=(F.col("doc_id") % 64) / 4.0,
        signature=F.when(F.col("doc_id") % 2 == 0, F.md5("text")).otherwise(
            F.md5(F.concat(F.col("text"), F.lit("x")))),
    ))
    out = updatedb(old, seg, cfg, UPD_NOW)
    return out.select("url", "status", "fetch_time", "fetch_interval", "signature")


def q_updatedb_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same inputs and oracle as updatedb_states, through the
    fingerprint URL-seen split (updatedb_split, urls/urlseen.py):
    untouched rows bypass the merge shuffle; result must be
    row-identical. Called directly because this fixture's segment is
    larger than its CrawlDb, so updatedb_incremental's dispatch would
    take the plain merge."""
    from nutch_spark.operators.updatedb import updatedb_split

    docs = _docs(spark, sf_dir)
    old, seg_rows = _updatedb_inputs(docs)
    out = updatedb_split(old, seg_rows, CFG, UPD_NOW)
    return out.select(
        "url", "status", "fetch_time", "retries", "fetch_interval",
        F.col("score").cast("double").alias("score"), "signature",
    )


def q_merge_crawldbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 CrawlDbMerger (CrawlDbMerger.java:81-118): newest
    calculateLastFetchTime wins, tie-break max fetchTime."""
    from nutch_spark.operators.merger import merge_crawldbs

    docs = _docs(spark, sf_dir)
    db1 = _crawldb(docs)
    shift = F.when(F.col("doc_id") % 4 == 0, 1000).otherwise(-999_999_999_000)
    db2 = (
        _crawldb(docs.filter(F.col("doc_id") % 2 == 0), extra=("doc_id",))
        .withColumn("fetch_time", (F.col("fetch_time") + shift).cast("long"))
        .withColumn("score", (F.col("score") + F.lit(0.25)).cast("float"))
        .drop("doc_id")
    )
    out = merge_crawldbs([db1, db2], CFG)
    return out.select(
        "url", "status", "fetch_time",
        F.col("score").cast("double").alias("score"),
    )


def q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 DeduplicationJob (:65-413): group by signature, keep-best by
    score desc, fetchTime desc, decoded-url-length asc; losers marked
    db_duplicate."""
    from nutch_spark.operators.dedup import dedup

    docs = _docs(spark, sf_dir)
    db = _crawldb(docs, extra=("doc_id",))
    db = db.withColumn(
        "signature",
        F.when(
            F.col("status").isin(2, 6),
            F.md5(F.floor(F.col("doc_id") / 5).cast("long").cast("string")),
        ),
    ).drop("doc_id")
    return dedup(db, CFG).select("url", "status")


def q_linkdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 LinkDb invert (LinkDb.java:102-171): explode outlinks, drop
    internal links, dedup, cap inlinks per target
    (LinkDbMerger.java:88); output re-exploded for comparison."""
    from nutch_spark.operators.linkdb import invert_links

    docs = _docs(spark, sf_dir)
    n = _n_docs(docs, sf_dir)
    cfg = replace(CFG, linkdb_max_inlinks=4)
    ks = docs.select("doc_id", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("k"))
    tid = (F.col("doc_id") * 7 + F.col("k") * 13 + 1) % n
    outlinks = ks.select(
        _url_col().alias("url"),
        _url_col(tid).alias("to_url"),
        F.concat(F.lit("a"), F.col("k").cast("string")).alias("anchor"),
    )
    inv = invert_links(outlinks, cfg)
    return inv.select("url", F.explode("inlinks").alias("l")).select(
        "url", F.col("l.from_url").alias("from_url"), F.col("l.anchor").alias("anchor")
    )


def q_readdb_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 readdb -dump with status + regex + min-score filters
    (CrawlDbReader.processDumpJob:834)."""
    from nutch_spark.operators.stats import dump

    db = _crawldb(_docs(spark, sf_dir))
    out = dump(db, status=1, regex=r"/doc/\d*[02468]$", min_score=2.0)
    return out.select(
        "url", "status", "fetch_time",
        F.col("score").cast("double").alias("score"),
    )


def q_jexl_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14 real-JEXL: readdb -dump -expr with the reference's JEXL
    syntax over the CrawlDatum context (CrawlDbReader -expr through
    JexlUtil.parseExpression + CrawlDatum.execute:569-612) — status by
    NAME, ISO-date literal rewritten to epoch millis
    (JexlUtil.java:56-67), anchored =~ regex match — compiled to JVM
    Columns by nutch_spark/jexl.py (no Python in the filter path)."""
    from nutch_spark.operators.stats import dump

    db = _crawldb(_docs(spark, sf_dir))
    out = dump(
        db,
        jexl=(
            "status == 'db_fetched' && score gt 3.5 && "
            "fetchTime lt 2023-12-01T00:00:00Z && url =~ '.*[02468]'"
        ),
    )
    return out.select(
        "url", "status", "fetch_time",
        F.col("score").cast("double").alias("score"),
    )


def q_mark_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/G4 generate-mark writeback: fetchlist rows stamp ``_ngt_``
    (gen_time) back into the CrawlDb (Generator.java:640-689)."""
    from nutch_spark.operators.generate import mark_generated

    db = _crawldb(_docs(spark, sf_dir))
    fl = db.filter(F.col("status") == 1).select(
        "url", F.lit(GEN_NOW).cast("long").alias("gen_time")
    )
    out = mark_generated(db, fl)
    return out.select("url", "status", "gen_time")


def q_linkdb_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 LinkDbMerger: union inlink lists per target, sorted re-cap at
    linkdb.max.inlinks (LinkDbMerger.java:88)."""
    from nutch_spark.operators.linkdb import invert_links, merge_linkdbs

    docs = _docs(spark, sf_dir)
    n = _n_docs(docs, sf_dir)
    cfg = replace(CFG, linkdb_max_inlinks=3)

    def outlinks(mult, koff):
        ks = docs.select(
            "doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("k")
        )
        tid = (F.col("doc_id") * mult + F.col("k") * 13 + koff) % n
        return ks.select(
            _url_col().alias("url"),
            _url_col(tid).alias("to_url"),
            F.concat(F.lit("a"), F.col("k").cast("string")).alias("anchor"),
        )

    db1 = invert_links(outlinks(7, 1), cfg)
    db2 = invert_links(outlinks(11, 3), cfg)
    merged = merge_linkdbs(db1, db2, cfg)
    return merged.select("url", F.explode("inlinks").alias("l")).select(
        "url", F.col("l.from_url").alias("from_url"), F.col("l.anchor").alias("anchor")
    )


def q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 readdb -stats (CrawlDbReader.java:369-471)."""
    from nutch_spark.operators.stats import crawldb_stats

    out = crawldb_stats(_crawldb(_docs(spark, sf_dir)))
    return out.select(
        "status", "status_name", "count",
        F.col("min_score").cast("double").alias("min_score"),
        F.col("max_score").cast("double").alias("max_score"),
        "avg_score", "sum_score",
        "min_fetch_time", "max_fetch_time", "min_interval", "max_interval",
    )


def q_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 readdb -topN (CrawlDbReader.java:964-1010) as TakeOrdered."""
    from nutch_spark.operators.stats import top_n

    out = top_n(_crawldb(_docs(spark, sf_dir)), 100)
    return out.select("url", F.col("score").cast("double").alias("score"))


def q_hostdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 HostDb update (UpdateHostDbReducer.java:49-370): per-host
    status counts and aggregates."""
    from nutch_spark.operators.stats import hostdb_update

    out = hostdb_update(_crawldb(_docs(spark, sf_dir)), CFG)
    return out.select(
        "host", "n_urls", "n_db_unfetched", "n_db_fetched", "n_db_gone",
        "n_db_notmodified", "n_tried", "last_fetch_time",
    )


def q_readhostdb_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/T14 ReadHostDb -expr (hostdb/ReadHostDb.java:96-131): the
    hostdb dump gated by a JEXL script over the per-host counters —
    exercises the derived ``ok``/``redirs`` context variables and
    keyword operators, compiled to JVM Columns."""
    from nutch_spark.operators.stats import hostdb_update, read_hostdb

    hdb = hostdb_update(_crawldb(_docs(spark, sf_dir)), CFG)
    out = read_hostdb(
        hdb, jexl="ok gt 0 && fetched > notModified && redirs == 0"
    )
    return out.select(
        "host", "n_urls", "n_db_unfetched", "n_db_fetched",
        "n_db_gone", "n_db_notmodified",
    )


def q_crawldb_404_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 CrawlDbFilter 404-purge (CrawlDbFilter.java:74-117)."""
    from nutch_spark.operators.updatedb import crawldb_filter

    db = _crawldb(_docs(spark, sf_dir))
    return crawldb_filter(db, replace(CFG, db_update_purge_404=True)).select("url", "status")


def q_urlfilter_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 urlfilter-domain + urlfilter-fast: broadcast-set domain
    allowlist composed first-veto with a host-scoped DenyPath rule, both
    pure JVM columns (DomainURLFilter.java:84-110,
    FastURLFilter.java:60-140)."""
    from nutch_spark.urls.filters import DomainURLFilter, FastURLFilter

    db = _crawldb(_docs(spark, sf_dir))
    dom = DomainURLFilter(
        ["host3.example.com", "host17.example.com", "host21.example.com"]
    )
    fast = FastURLFilter(["Domain host17.example.com", "DenyPath ^/doc/1"])
    return db.filter(dom.cond(F.col("url")) & fast.cond(F.col("url"))).select(
        "url", "status"
    )


def q_sitemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 SitemapProcessor (SitemapProcessor.java:256-360): sitemap.xml
    built from the docs table, parsed with JVM xpath (priority /
    changefreq / lastmod -> datum mapping), merged into the crawldb.
    Every 5th doc's sitemap advertises a fresh URL (doc_id+1000000 —
    same host since 1000000 % 40 == 0, and beyond any corpus size) carrying the optional fields; the oracle replays the mapping
    arithmetically and never sees XML, so a hash match proves the parse
    chain end-to-end."""
    from nutch_spark.operators.sitemap import parse_sitemaps, sitemap_merge

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    did = F.col("doc_id")
    freqs = ["always", "hourly", "daily", "weekly", "monthly", "yearly", "never"]
    lastmod = F.when(
        did % 3 == 0,
        F.concat(
            F.lit("<lastmod>2024-01-"),
            F.lpad((1 + did % 28).cast("string"), 2, "0"),
            F.lit("</lastmod>"),
        ),
    ).otherwise(F.lit(""))
    changefreq = F.when(
        did % 8 < 7,
        F.concat(
            F.lit("<changefreq>"),
            F.element_at(F.array(*[F.lit(x) for x in freqs]), (did % 8 + 1).cast("int")),
            F.lit("</changefreq>"),
        ),
    ).otherwise(F.lit(""))
    priority = F.when(
        did % 2 == 0,
        F.concat(F.lit("<priority>"), ((did % 4) / 4.0).cast("string"), F.lit("</priority>")),
    ).otherwise(F.lit(""))
    known = F.concat(F.lit("<url><loc>"), _url_col(), F.lit("</loc></url>"))
    fresh = F.when(
        did % 5 == 0,
        F.concat(
            F.lit("<url><loc>"), _url_col(did + 1000000), F.lit("</loc>"),
            lastmod, changefreq, priority, F.lit("</url>"),
        ),
    ).otherwise(F.lit(""))
    # cross-host loc: dropped by the strict SiteMapURL.isValid check
    bad = F.when(
        did % 37 == 0,
        F.concat(
            F.lit("<url><loc>http://host"), ((did + 1) % 40).cast("string"),
            F.lit(".example.com/doc/x"), did.cast("string"), F.lit("</loc></url>"),
        ),
    ).otherwise(F.lit(""))
    content = (
        d.groupBy((did % 40).alias("h"))
        # array_sort: collect_list order is task-scheduling-dependent; a
        # deterministic body keeps the fixture reproducible run-to-run
        # (same policy as the dmoz fixture)
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.concat(known, fresh, bad)))
            ).alias("body")
        )
        .select(
            F.concat(
                F.lit("http://host"), F.col("h").cast("string"),
                F.lit(".example.com/sitemap.xml"),
            ).alias("sitemap_url"),
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'), F.col("body"), F.lit("</urlset>")
            ).alias("content"),
        )
    )
    entries, _ = parse_sitemaps(content, CFG)
    out = sitemap_merge(_crawldb(_docs(spark, sf_dir)), entries, CFG, UPD_NOW)
    return out.select(
        "url", "status", "fetch_time", "fetch_interval",
        F.col("score").cast("double").alias("score"), "modified_time",
    )


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 CrawlCompletionStats / DomainStatistics by host."""
    from nutch_spark.operators.stats import domain_stats

    return domain_stats(_crawldb(_docs(spark, sf_dir)), mode="host")


# deterministic suffix rotation: 1-label TLDs, 2-label public suffixes,
# and an unknown TLD so the suffix walk's fallback branch is exercised
_SUFFIX_ROTATION = ["com", "co.uk", "org", "de", "com.au", "barbaz", "io", "co.jp"]


def q_suffix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 DomainStatistics MODE_SUFFIX + MODE_TLD
    (util/domain/DomainStatistics.java:194-199): counts keyed by the
    host's public suffix and by its last label, over a crawldb whose
    hosts rotate through 1-label/2-label/unknown suffixes plus IP hosts
    (suffix null — URLUtil.getDomainSuffix has none for IPs)."""
    from nutch_spark.operators.stats import domain_stats

    d = F.col("doc_id")
    sfx = F.element_at(
        F.array(*[F.lit(s) for s in _SUFFIX_ROTATION]), (d % 8 + 1).cast("int")
    )
    url = F.when(
        d % 97 == 0,
        F.concat(F.lit("http://1.2.3."), (d % 250 + 1).cast("string"), F.lit("/p")),
    ).otherwise(
        F.concat(
            F.lit("http://h"), (d % 40).cast("string"), F.lit(".example."),
            sfx, F.lit("/p/"), d.cast("string"),
        )
    )
    db = _docs(spark, sf_dir).select(
        url.alias("url"), (d % 2 + 1).cast("int").alias("status")
    )
    su = domain_stats(db, mode="suffix").withColumn("mode", F.lit("suffix"))
    tl = domain_stats(db, mode="tld").withColumn("mode", F.lit("tld"))
    return su.unionByName(tl)


def q_segment_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 SegmentMerger (segment/SegmentMerger.java): latest generation
    wins per URL across segments."""
    from nutch_spark.operators.merger import merge_segments

    docs = _docs(spark, sf_dir)
    s1 = _crawldb(docs).withColumn("gen_time", F.lit(10).cast("long"))
    s2 = (
        _crawldb(docs.filter(F.col("doc_id") % 2 == 0))
        .withColumn("gen_time", F.lit(20).cast("long"))
        .withColumn("status", F.lit(2).cast("int"))
        .withColumn("fetch_time", (F.col("fetch_time") + 5000).cast("long"))
    )
    out = merge_segments([s1, s2])
    return out.select("url", "status", "fetch_time", "gen_time")


def q_free_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 FreeGenerator (tools/FreeGenerator.java): fetch list straight
    from seed text with nutch.score metadata."""
    from nutch_spark.operators.generate import free_generate

    docs = _docs(spark, sf_dir)
    lines = docs.select(
        F.concat(
            _url_col(), F.lit("\tnutch.score="), (F.col("doc_id") % 7).cast("string")
        ).alias("value")
    )
    fl = free_generate(spark, lines, CFG, UPD_NOW, num_lists=4)
    return fl.select(
        "url", F.col("score").cast("double").alias("score"), "fetch_interval", "gen_time"
    )


def q_text_profile_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13 TextProfileSignature (crawl/TextProfileSignature.java:87-161),
    JVM-side tokenize + quantize + profile-MD5."""
    from nutch_spark.operators.signatures import text_profile_signature

    return text_profile_signature(_docs(spark, sf_dir))


def q_linkrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 LinkRank (scoring/webgraph/LinkRank.java): 2 iterations,
    damping 0.85, rankOne = 1/#nodes; double-precision variant with
    9-dp iteration rounding (deviation documented in webgraph.py)."""
    from nutch_spark.operators.webgraph import build_webgraph, linkrank

    docs = _docs(spark, sf_dir)
    n = _n_docs(docs, sf_dir)
    ks = docs.select("doc_id", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("k"))
    tid = (F.col("doc_id") * 7 + F.col("k") * 13 + 1) % n
    outlinks = ks.select(_url_col().alias("url"), _url_col(tid).alias("to_url"))
    g = build_webgraph(outlinks)
    out = linkrank(g, iterations=2, limit_domains=False)
    return out.select("url", F.round("score", 6).alias("score"))


def q_link_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LinkDumper (scoring/webgraph/LinkDumper.java via
    operators/webgraph.link_dumper): the url -> inlink-node-detail db
    over the linkrank fixture graph, with the per-url inlink cap set to
    2 so the deterministic cap refinement (ascending from_url) is
    oracle-checked; arrays exploded to flat rows for the hash gate."""
    from nutch_spark.operators.webgraph import build_webgraph, link_dumper, linkrank

    docs = _docs(spark, sf_dir)
    n = _n_docs(docs, sf_dir)
    ks = docs.select("doc_id", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("k"))
    tid = (F.col("doc_id") * 7 + F.col("k") * 13 + 1) % n
    outlinks = ks.select(_url_col().alias("url"), _url_col(tid).alias("to_url"))
    g = build_webgraph(outlinks)
    scores = linkrank(g, iterations=2, limit_domains=False)
    dump = link_dumper(g, scores=scores, max_inlinks=2)
    return dump.select("url", F.explode("inlinks").alias("ln")).select(
        "url",
        F.col("ln.from_url").alias("from_url"),
        F.col("ln.num_inlinks").alias("num_inlinks"),
        F.col("ln.num_outlinks").alias("num_outlinks"),
        F.round(F.col("ln.inlink_score"), 6).alias("inlink_score"),
        F.round(F.col("ln.outlink_score"), 6).alias("outlink_score"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings / events)
# ---------------------------------------------------------------------------

def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts, BPE-ish counts, language ID,
    normalized-text MD5 fingerprint (ml/text.py)."""
    from nutch_spark.ml.text import analyze

    return analyze(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "n_bpe_tokens", "lang_pred", "fingerprint"
    )


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring features + blended score (ml/text.py)."""
    from nutch_spark.ml.text import quality_features, quality_score

    d = _docs(spark, sf_dir)
    f = quality_features(F.col("text"))
    return d.select(
        "doc_id",
        f["alpha_ratio"].alias("alpha_ratio"),
        f["stopword_ratio"].alias("stopword_ratio"),
        quality_score(F.col("text")).alias("quality"),
    )


# messy language strings for the lang_detect fixture (subset of the
# TestHTMLLanguageParser.testParseLanguage vectors; one non-mapping entry)
_LANG_RAW = [
    "sv-FI", "EN_US, SV, EN, EN_UK", "English, swedish", "Other (Svenska)",
    "SWE", "deu", "dut", "POR; charset=iso-8859-1", "zh_CN",
    "torp, stuga, uthyres", "fin", "ita",
]


def q_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language detection from markup signals (ml/langid.py —
    language-identifier plugin parity): synthesize per-doc markup
    carrying a messy language string in the html lang attribute /
    dc.language meta / http-equiv meta (or none), run the
    detect path (regex signal extraction + parseLanguage alias
    normalization) and the LanguageIndexingFilter 'unknown' default."""
    from nutch_spark.ml.langid import detect_language, language_indexing_filter

    d = _docs(spark, sf_dir).select("doc_id")
    raw = F.element_at(
        F.array(*[F.lit(s) for s in _LANG_RAW]),
        (F.col("doc_id") % len(_LANG_RAW) + 1).cast("int"),
    )
    mod4 = F.col("doc_id") % 4
    html = (
        F.when(mod4 == 0, F.concat(F.lit('<html lang="'), raw, F.lit('"><body>t</body></html>')))
        .when(mod4 == 1, F.concat(F.lit('<html><head><meta name="dc.language" content="'), raw, F.lit('"></head></html>')))
        .when(mod4 == 2, F.concat(F.lit('<html><head><meta http-equiv="content-language" content="'), raw, F.lit('"></head></html>')))
        .otherwise(F.lit("<html><body>no signal</body></html>"))
    )
    out = detect_language(d.withColumn("html", html))
    out = language_indexing_filter(out, lang_col="lang_detected", out_col="lang")
    return out.select("doc_id", "lang")


def q_lang_identify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical language ID (ml/langid.py): char-trigram profile
    scoring (Arrow-batched pandas UDF, zero shuffle) with the
    indexing filter's 'unknown' default."""
    from nutch_spark.ml.langid import identify_language

    d = _docs(spark, sf_dir).select("doc_id", "text")
    out = identify_language(d)
    return out.select(
        "doc_id", F.coalesce("lang_pred", F.lit("unknown")).alias("lang_pred")
    )


def q_arc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARC ingestion round-trip (operators/arc.py — ArcSegmentCreator
    parity): docs become gzip-member ARC files (10 files, one filedesc
    block each, every 9th record a .png), the reader walks exact member
    boundaries, and arc_segment normalizes + url-filters (the default
    rules drop the .png records, as the reference's URLFilters do) into
    content rows. Verified on url/mime/archive-date/payload-md5."""
    import gzip as _gzip
    import io as _io

    from nutch_spark.operators.arc import arc_records, arc_segment

    d = _docs(spark, sf_dir).select("doc_id", "text")
    d = d.withColumn("file_id", (F.col("doc_id") % 10).cast("int"))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        fid = int(pdf["file_id"].iloc[0])

        def gz(b: bytes) -> bytes:
            buf = _io.BytesIO()
            with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
                f.write(b)
            return buf.getvalue()

        parts = [
            gz(f"filedesc://arc{fid}.arc 0.0.0.0 20260101000000 text/plain 0\n".encode())
        ]
        for did, text in zip(pdf["doc_id"], pdf["text"]):
            did = int(did)
            body = ("" if text is None else str(text)).encode("utf-8")
            if did % 9 == 0:
                url = f"http://host{did % 40}.example.com/img/{did}.png"
                mime = "image/png"
            else:
                url = f"http://host{did % 40}.example.com/doc/{did}"
                mime = "text/html"
            header = (
                f"{url} 10.0.{did % 250}.1 {20260101000000 + did} {mime} {len(body)}\n"
            ).encode()
            parts.append(gz(header + body))
        return pd.DataFrame({"path": [f"arc{fid}.arc.gz"], "content": [b"".join(parts)]})

    files = d.groupBy("file_id").applyInPandas(build, schema="path string, content binary")
    seg = arc_segment(arc_records(files), now_ms=1_760_000_000_000)
    return seg["content"].select(
        "url",
        "mime",
        "archive_date",
        F.md5("content").alias("content_md5"),
        F.length("content").alias("n_bytes"),
    )


def q_detect_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset detection (data/encoding.py — util/EncodingDetector.java
    parity): per doc, synthesize a content-type + HTTP header (5-way
    header rotation incl. quoted charset, mislabelled ISO-8859-1, and
    charset-free/NULL headers), UTF-8 content bytes, then run the
    clue-walk column twin at min_confidence=50: a multibyte-valid UTF-8
    body in a detectable mime wins by confidence; ASCII bodies fall
    through to the (alias-resolved) header charset; no clue -> the
    windows-1252 default."""
    from nutch_spark.data.encoding import detect_charset_col, header_charset_col

    d = _docs(spark, sf_dir).select("doc_id", "text")
    header = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("text/html; charset=UTF-16"))
        .when(F.col("doc_id") % 5 == 1, F.lit('text/plain; charset="windows-1254"'))
        .when(F.col("doc_id") % 5 == 2, F.lit("application/pdf"))
        .when(F.col("doc_id") % 5 == 3, F.lit(None).cast("string"))
        .otherwise(F.lit("text/html; charset=ISO-8859-1"))
    )
    ct = F.when(F.col("doc_id") % 2 == 0, F.lit("text/plain")).otherwise(
        F.lit("image/png")
    )
    # the synthetic docs are pure ASCII — give every 3rd doc a multibyte
    # suffix so the confident-UTF-8 detect branch is actually exercised
    body = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" é")).otherwise(F.lit("")),
    )
    content = F.encode(body, "UTF-8")
    return d.select(
        "doc_id",
        header_charset_col(header).alias("header_charset"),
        detect_charset_col(
            content, ct, header, default="windows-1252", min_confidence=50
        ).alias("charset"),
    )


# raw-header rotation for q_header_spellcheck: canonical / misspelled /
# non-vocabulary / fuzzy-typo cases (TestSpellCheckedMetadata vectors)
_HEADER_ROTATION = [
    "Content-Type", "contentype", "CoNtEntType", "contntype",
    "ETag", "X-Custom-Header", "last-modified", "contentlenght",
]


def q_header_spellcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-name spell-checking (data/metadata.py —
    metadata/SpellCheckedMetadata.java parity): an 8-way rotation of
    raw header names (canonical, four misspellings of Content-Type,
    two non-vocabulary names, one fuzzy Content-Length typo) pushed
    through the JVM column twin; the oracle re-implements the
    normalize -> exact/levenshtein-threshold lookup in SQL."""
    from nutch_spark.data.metadata import spell_checked_header

    d = _docs(spark, sf_dir).select("doc_id")
    raw = F.element_at(
        F.array(*[F.lit(x) for x in _HEADER_ROTATION]),
        (F.col("doc_id") % 8).cast("int") + 1,
    )
    return d.select(
        "doc_id",
        raw.alias("raw_header"),
        spell_checked_header(raw).alias("header"),
    )


def q_trie_url_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trie prefix/suffix gates (urls/trie.py —
    util/PrefixStringMatcher/SuffixStringMatcher.java parity): urls
    over 40 hosts with a 4-way extension rotation; the 80-entry prefix
    list (hosts 0-19, two schemes) exceeds JVM_LITERAL_CAP so the
    prefix gate runs the broadcast-trie pandas path, while the 2-entry
    suffix denylist stays on the JVM endswith chain. The oracle
    replays the construction structurally (host index < 20; extension
    in the denylist, case-insensitive)."""
    from nutch_spark.urls.trie import prefix_match_cond, suffix_match_cond

    d = _docs(spark, sf_dir).select("doc_id")
    url = F.concat(
        F.lit("http://host"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
        F.element_at(
            F.array(F.lit(".html"), F.lit(".pdf"), F.lit(".PDF"), F.lit("")),
            (F.col("doc_id") % 4).cast("int") + 1,
        ),
    )
    prefixes = [
        f"{scheme}://host{i}.example.com/"
        for scheme in ("http", "https")
        for i in range(20)
    ] + [f"http://mirror{i}.example.org/" for i in range(40)]
    return d.select(
        "doc_id",
        url.alias("url"),
        prefix_match_cond(url, prefixes).alias("prefix_hit"),
        suffix_match_cond(url, [".pdf", ".exe"]).alias("suffix_hit"),
    )


def q_ext_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse-ext external-command parser (plugin/parse-ext/
    ExtParser.java:71-142 via operators/ext_parse): documents rotate
    through four arms — md5sum filter, cat filter, an unregistered
    content type (FAILED), and a Content-Length mismatch
    (FAILED_TRUNCATED). The stdin filters replay exactly in SQL:
    md5sum stdout is md5(body) || '  -' || newline, cat is identity."""
    from nutch_spark.operators.ext_parse import ExtParserConfig, ext_parse

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    body = F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8")
    seg = d.select(
        _url20(did).alias("url"),
        body.alias("content"),
        F.when(did % 4 == 0, F.lit("application/vnd.nutch.example.md5sum"))
        .when(did % 4 == 2, F.lit("application/x-unregistered"))
        .otherwise(F.lit("application/vnd.nutch.example.cat"))
        .alias("content_type"),
        (F.length(body) + F.when(did % 4 == 3, 1).otherwise(0))
        .cast("long")
        .alias("content_length"),
    )
    cfg = (
        ExtParserConfig()
        .register("application/vnd.nutch.example.cat", "cat", append_type=False)
        .register(
            "application/vnd.nutch.example.md5sum", "md5sum", append_type=False
        )
    )
    return ext_parse(seg, cfg, length_col="content_length").select(
        "url", "status", "text"
    )


# native-script sample bodies for the statistical charset sniffer
# query: HELD-OUT sentences (not the training corpus), one per
# (language, charset) class; the ASCII " doc N" suffix varies per row
# but contributes no high-byte evidence, so detection per class is a
# deterministic constant the oracle can state as ground truth.
_CHARSET_CLASSES = [
    # (python codec, expected lowercase detection after corrections)
    ("windows-1251", "windows-1251",
     "Каждый человек имеет право на жизнь, на свободу и на личную "
     "неприкосновенность, а также на защиту своих законных интересов."),
    ("koi8-r", "koi8-r",
     "Никто не должен содержаться в рабстве; рабство и работорговля "
     "запрещаются во всех их видах без всякого исключения."),
    ("shift_jis", "shift_jis",
     "すべての人は、生命、自由及び身体の安全に対する権利を有する。"
     "来週は雨が降るかもしれませんので、傘を持って出かけましょう。"),
    ("euc-kr", "x-windows-949",  # mislabel correction EUC-KR -> x-windows-949
     "모든 사람은 생명과 신체의 자유와 안전에 대한 권리를 가진다. "
     "내일은 도서관에 가서 책을 읽을 것입니다."),
    ("gb18030", "gb18030",
     "人人有权享有生命、自由和人身安全。明天我们要去图书馆看书，"
     "然后一起去公园散步，看看美丽的花草树木。"),
    ("utf-8", "utf-8",
     "Tout individu a droit à la vie, à la liberté et à la sûreté de "
     "sa personne. L'été sera très chaud cette année, paraît-il."),
]


def q_charset_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical charset detection end-to-end (data/charset_sniffer —
    the ICU CharsetDetector stand-in behind util/EncodingDetector.java
    :119-180): six charset classes rotate over doc_id, each body a
    held-out native-script sample plus a per-doc ASCII suffix (no
    high-byte evidence, so per-class detection is deterministic). The
    oracle states the ground-truth label structurally; a hash match
    means every single row detected correctly through the Arrow UDF."""
    from nutch_spark.data.charset_sniffer import statistical_charset_udf

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    cls = (did % 6).cast("int")
    bodies = [
        text.encode(codec) for codec, _, text in _CHARSET_CLASSES
    ]
    body = F.element_at(
        F.array(*[F.lit(b) for b in bodies]), cls + 1
    )
    suffix = F.encode(F.concat(F.lit(" doc "), did.cast("string")), "utf-8")
    content = F.concat(body, suffix)
    return d.select(
        "doc_id",
        cls.alias("charset_class"),
        statistical_charset_udf()(content).alias("charset"),
    )


# magic-byte MIME resolution classes (data/mimeutil.py —
# util/MimeUtil.java:153-221 autoResolveContentType): per class a
# payload prefix, a (sometimes mislabeled) Content-Type header, a URL
# extension, and the ground-truth resolution the oracle re-states.
_MIME_CLASSES = [
    # (payload, header, url ext, expected resolution)
    (b"<!DOCTYPE html>\n<html><head><title>t</title></head>"
     b"<body>resolved</body></html>",
     "text/plain", "", "text/html"),           # magic corrects header
    (b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\x03compressed",
     "text/html; charset=utf-8", ".html", "application/gzip"),
    (b"This is a plain text document body.",
     "application/msword", ".doc", "text/plain"),  # NUTCH-2606
    (b'<?xml version="1.0" encoding="UTF-8"?>\n<rss version="2.0">'
     b"<channel><title>r</title></channel></rss>",
     None, ".xml", "application/rss+xml"),     # xml root specializes
    (b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIHDR",
     "image/png", ".png", "image/png"),        # header and magic agree
    (b"PK\x03\x04\x14\x00\x00\x00",
     None, "", "application/zip"),             # magic beats no-ext url
    (b"body { margin: 0; } /* texty */",
     "text/css", "", "text/css"),              # hint refines generic
    (b"\x00\x01\x02\x03\x04\x05junk",
     "text/html", ".bin", "text/html"),        # octet magic never wins
]


def q_mime_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte MIME resolution end-to-end (data/mimeutil.py — the
    MimeUtil.autoResolveContentType stand-in the reference applies in
    the Content constructor, protocol/Content.java:85): eight classes
    rotate over doc_id covering header-correction, URL fallback,
    hint-refined generic magic, and the octet-never-overrides rule; a
    per-doc ASCII suffix varies every payload. The oracle states the
    ground truth structurally; a hash match means every row resolved
    correctly through the pure-JVM column twin."""
    from nutch_spark.data.mimeutil import auto_resolve_mime_col

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    cls = (did % 8).cast("int")
    body = F.element_at(
        F.array(*[F.lit(p) for p, _, _, _ in _MIME_CLASSES]), cls + 1
    )
    suffix = F.encode(F.concat(F.lit(" doc "), did.cast("string")), "utf-8")
    content = F.concat(body, suffix)
    header = F.element_at(
        F.array(
            *[F.lit(h).cast("string") for _, h, _, _ in _MIME_CLASSES]
        ),
        cls + 1,
    )
    url = F.concat(
        F.lit("http://host"),
        (did % 40).cast("string"),
        F.lit(".example.com/r/"),
        did.cast("string"),
        F.element_at(
            F.array(*[F.lit(e) for _, _, e, _ in _MIME_CLASSES]), cls + 1
        ),
    )
    return d.select(
        "doc_id",
        cls.alias("mime_class"),
        header.alias("header_mime"),
        url.alias("url"),
        auto_resolve_mime_col(header, url, content).alias("resolved"),
    )


def q_http_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP date round-trip (data/httpdate.py — net/protocols/
    HttpDateFormat.java parity): format each order timestamp to the
    RFC 1123 GMT form JVM-side, parse it back through the GMT fast
    path, and surface both; parsed_ms must equal the source epoch."""
    from nutch_spark.data.httpdate import http_date_col, parse_http_date_col

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    millis = (F.unix_timestamp(F.col("o_orderdate")) * 1000).cast("long")
    http = http_date_col(millis)
    return o.select(
        "o_orderkey",
        http.alias("http_date"),
        parse_http_date_col(http).alias("parsed_ms"),
    )


def _doubled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1000000))


def q_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by normalized-text MD5 (ml/dedup.py)."""
    from nutch_spark.ml.dedup import exact_duplicates

    return exact_duplicates(_doubled_docs(spark, sf_dir))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram (word 3-shingle) Jaccard similarity pairs ≥ 0.8
    (ml/dedup.py) — the exact verification primitive behind MinHash."""
    from nutch_spark.ml.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_doubled_docs(spark, sf_dir), threshold=0.8, k=3)


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (ml/text.gopher_repetition): character
    fractions covered by the most frequent 2/3/4-gram and by duplicated
    5/6-grams — one explode + hash aggregation keyed
    (doc_id, n, gram)."""
    from nutch_spark.ml.text import gopher_repetition

    return gopher_repetition(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )


def q_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen dedup, batch twin (streaming/dedup_stream):
    earliest event per (user_id, event_type) by (ts, event_id) — the
    URL-seen set as a watermark-bounded streaming operator; the
    streaming variant is pinned to this twin in tests."""
    from nutch_spark.streaming.dedup_stream import first_seen

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = first_seen(e, ["user_id", "event_type"])
    return out.select(
        "user_id", "event_type", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value", "props",
    )


def q_parsefilter_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parsefilter-regex (RegexParseFilter.java:60-90, operators/
    parse.regex_parse_filter): each rule stamps a parse-meta field
    'true'/'false' by regex match against the parse text or the raw
    span payload ('html' source)."""
    from nutch_spark.operators.parse import regex_parse_filter

    docs, _, _, _ = _web(spark, sf_dir)
    content = docs.select(F.col("doc_id").alias("url"), "spans")
    rules = [
        ("mentions_the", "text", r"\bthe\b"),
        ("long_enough", "text", "^.{100,}"),
        ("has_media", "html", r"\.img"),
    ]
    out = regex_parse_filter(content, rules)
    return out.select(
        "url",
        *[
            F.element_at("parse_meta", field).alias(field)
            for field, _, _ in rules
        ],
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality battery (Rae et al. 2021 A1.1, ml/text.py):
    word stats, symbol/bullet/ellipsis ratios, alpha-word fraction,
    required stopwords, duplicate-line fractions, and the pass verdict
    — one map-side JVM pass, replayed exactly in SQL."""
    from nutch_spark.ml.text import gopher_quality

    return gopher_quality(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )


def q_commoncrawl_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CommonCrawl JSON export (tools/CommonCrawlDataDumper +
    AbstractCommonCrawlFormat envelope, operators/warc.py): one
    url/timestamp/request/response/key JSON document per fetched page,
    reversed-domain key, byte-exact pure-JVM string build."""
    from nutch_spark.operators.warc import commoncrawl_records

    db = _crawldb(_docs(spark, sf_dir)).filter(F.col("status").isin(2, 6))
    text = _docs(spark, sf_dir).select(_url_col().alias("url"), "text")
    pages = db.select("url", "fetch_time").join(text, "url")
    return commoncrawl_records(pages)


def q_urlnorm_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optional normalizer chain (urlnormalizer-querystring/-protocol/
    -host plugins, urls/normalizer.py): sort query params, force
    per-host scheme, canonicalize host aliases — applied as a
    composed chain in one Arrow-batched pandas UDF over synthetic
    URLs derived from doc_id."""
    from nutch_spark.urls.normalizer import (
        apply_extra_normalizers,
        host_normalize,
        protocol_normalize,
        querystring_normalize,
    )
    from functools import partial

    protocols = {"example.org": "http", "*.example.io": "https"}
    hosts = {
        "www.example.net": "example.net",
        "*.example.com": "example.com",
        "example.org": "www.example.org",
    }
    steps = [
        querystring_normalize,
        partial(protocol_normalize, rules=protocols),
        partial(host_normalize, rules=hosts),
    ]

    @F.pandas_udf("string")
    def _chain(urls: pd.Series) -> pd.Series:
        return urls.map(lambda u: apply_extra_normalizers(u, steps))

    d = F.col("doc_id")
    host = (
        F.when(d % 4 == 0, "www.example.net")
        .when(d % 4 == 1, "example.org")
        .when(d % 4 == 2, "sub.example.com")
        .otherwise("plain.example.io")
    )
    q = (
        F.when(d % 3 == 0, F.concat(F.lit("?b=2&a="), d.cast("string")))
        .when(d % 3 == 1, F.lit("?a=1"))
        .otherwise(F.lit(""))
    )
    urls = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("http://"), host, F.lit("/p/"), d.cast("string"), q
        ).alias("url")
    )
    return urls.select("url", _chain(F.col("url")).alias("normalized"))


def q_depth_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scoring-depth plugin (DepthScoringFilter.java): parents at their
    depth limit contribute no outlinks; surviving links stamp
    depth+1; newly discovered URLs take min(parent depth)+1 through
    updatedb; the generator sort value is boosted by remaining depth
    (operators/depth.py). Parents = doc_id%5==0 at depths 1-3 with
    maxdepth 3 (depth-3 parents are gated); each target doc_id%5 in
    (1,2) is linked by its two flanking parents."""
    from nutch_spark.operators.depth import (
        DEPTH_KEY,
        MAX_DEPTH_KEY,
        depth_gate_outlinks,
        depth_sort_value,
        patch_new_url_depth,
    )
    from nutch_spark.operators.updatedb import updatedb

    cfg = replace(CFG, scoring_depth_enabled=True, scoring_depth_max=3)
    docs = _docs(spark, sf_dir).select("doc_id")
    depth = (F.lit(1) + ((F.col("doc_id") % 15) / 5).cast("int")).cast("int")
    parents = docs.filter(F.col("doc_id") % 5 == 0).select(*new_datum(
        _url_col(), 2, FT_BASE, fetch_interval=2592000,
        score=(F.col("doc_id") % 64) / 4.0,
        metadata=F.map_from_arrays(
            F.array(F.lit(DEPTH_KEY), F.lit(MAX_DEPTH_KEY)),
            F.array(depth.cast("string"), F.lit("3")),
        ),
    ))
    t = docs.filter((F.col("doc_id") % 5).isin(1, 2))
    lo = t.select(F.col("doc_id").alias("t"),
                  (F.col("doc_id") - F.col("doc_id") % 5).alias("p"))
    hi = t.select(
        F.col("doc_id").alias("t"),
        (F.col("doc_id") - F.col("doc_id") % 5 + 5).alias("p"),
    ).join(docs.select(F.col("doc_id").alias("p")), "p", "left_semi")
    pairs = lo.unionByName(hi)
    link_rows = pairs.select(
        *new_datum(
            _url_col(F.col("t")), 0x43, FETCH_TS, fetch_interval=2592000,
            score=(F.col("p") % 16) / 4.0 + 0.25,
        ),
        F.lit(None).cast("string").alias("anchor"),
        _url_col(F.col("p")).alias("from_url"),
    )
    gated = depth_gate_outlinks(link_rows, parents, cfg)
    merged = updatedb(parents, gated.select(*DATUM_COLS), cfg, UPD_NOW)
    patched = patch_new_url_depth(merged, parents, gated, cfg)
    return patched.select(
        "url", "status", "fetch_time", "retries", "fetch_interval",
        F.col("score").cast("double").alias("score"),
        F.element_at("metadata", DEPTH_KEY).cast("int").alias("depth"),
        F.element_at("metadata", MAX_DEPTH_KEY).cast("int").alias("maxdepth"),
        depth_sort_value(F.col("score"), F.col("metadata"), cfg)
        .cast("double")
        .alias("gen_sort"),
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over the embeddings table via the
    ``similarity_topk`` dispatcher (ml/similarity.py): 8 queries is
    under the documented Q bound, so this resolves to the exact
    brute-force plan; double-precision, sequential fold — exactly
    mirrored by the list_reduce oracle."""
    from nutch_spark.ml.similarity import similarity_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity_topk(e, q, k=10, n_queries=8)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (6h gap) over events — the batch twin of
    the applyInPandasWithState streaming operator
    (streaming/sessionize.py)."""
    from nutch_spark.streaming.sessionize import batch_sessionize

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return batch_sessionize(e, gap_ms=21_600_000)


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour aggregation over the events stream table (batch
    form of the Structured-Streaming windowed agg); exact decimal sum."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).cast("long").alias("hour_ts"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# rows-only queries (politeness simulation, LSH/minhash/simhash, media,
# full crawl cycle) — not ANSI-SQL-expressible; driver does rows-only check
# ---------------------------------------------------------------------------

def _web(spark: SparkSession, sf_dir: str, n_hosts: int = 20):
    """Deterministic fetchable web derived from documents.parquet, in
    the BASELINE.json input_hint shape (doc_id, spans[])."""
    d = _docs(spark, sf_dir)
    n = _n_docs(d, sf_dir)
    host_id = F.col("doc_id") % n_hosts

    def url_of(did):
        return F.concat(
            F.lit("http://host"), (did % n_hosts).cast("string"),
            F.lit(".example.com/doc/"), did.cast("string"),
        )

    tgt = (F.col("doc_id") * 7 + 1) % n
    spans = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.substring("text", 1, 120).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("link").alias("kind"),
            F.concat(F.lit("anchor "), tgt.cast("string")).alias("text"),
            url_of(tgt).alias("media_ref"),
            F.lit(1).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("media").alias("kind"),
            F.lit("img").alias("text"),
            F.concat(
                F.lit("http://host"), host_id.cast("string"),
                F.lit(".example.com/media/"), F.col("doc_id").cast("string"),
                F.lit(".img"),
            ).alias("media_ref"),
            F.lit(2).cast("int").alias("offset"),
        ),
    )
    docs = d.select(
        url_of(F.col("doc_id")).alias("doc_id"),
        spans.alias("spans"),
        (F.col("doc_id") % 23 != 0).alias("is_canonical"),
        F.col("doc_id").alias("_did"),
    )
    robots = spark.range(n_hosts).select(
        F.concat(F.lit("host"), F.col("id").cast("string"), F.lit(".example.com")).alias("host"),
        F.when(F.col("id") % 13 == 0, F.array(F.lit("/private/")))
        .otherwise(F.array().cast("array<string>")).alias("disallow"),
        F.when(F.col("id") % 11 == 0, F.lit(8.0)).otherwise(F.lit(None).cast("double")).alias("crawl_delay"),
        F.lit(False).alias("defer_visits"),
        F.lit(False).alias("forbid_all"),
    )
    did = F.col("_did")
    outcome = (
        F.when(did % 17 == 0, F.lit("gone"))
        .when(did % 29 == 0, F.lit("retry"))
        .when(did % 23 == 0, F.lit("moved"))
        .otherwise(F.lit("success"))
    )
    outcomes = docs.select(
        F.col("doc_id").alias("url"),
        outcome.alias("outcome"),
        F.when(did % 23 == 0, url_of((did + 1) % n)).otherwise(F.lit(None).cast("string")).alias("redirect_to"),
        (50 + did % 100).cast("long").alias("latency_ms"),
    )
    seeds = docs.filter(did < n_hosts * 2).select(F.col("doc_id").alias("value"))
    return docs.drop("_did"), robots, outcomes, seeds


def q_crawl_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: inject and two production crawl cycles
    (``Crawler.run_cycle``, the bin/crawl macro-loop, SURVEY §3.1) over
    the parquet-derived web, committed to a throwaway SnapshotCatalog;
    returns the final CrawlDb. The output omits fetch_time, so the
    DuckDB oracle replays the whole status machine / OPIC link graph /
    schedule evolution over integer doc ids without needing the
    politeness clock."""
    import shutil
    import tempfile

    from nutch_spark.catalog import SnapshotCatalog
    from nutch_spark.pipeline.crawl_loop import CRAWLDB, Crawler

    cfg = replace(CFG, fetch_partitions=8)
    docs, robots, outcomes, seeds = _web(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="crawl_cycle_")
    try:
        catalog = SnapshotCatalog(tmp)
        crawler = Crawler(spark, catalog, cfg, docs, robots, outcomes)
        crawler.inject(seeds, GEN_NOW)
        for cycle_id, now in enumerate((GEN_NOW, GEN_NOW + 7_200_000), 1):
            crawler.run_cycle(cycle_id, now, top_n=200)
        # an in-memory copy, so the warehouse can go before the caller runs
        db = catalog.read(spark, CRAWLDB).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return db.select(
        "url", "status", "retries", "fetch_interval",
        F.col("score").cast("double").alias("score"),
    )


def q_fetch_politeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3-F8: politeness-simulated fetch of one generate batch; virtual
    per-host clock = prefix sum over the url-hash interleave
    (FetchItemQueue.java:119-170); the oracle replays the clock with a
    SQL window prefix sum over the same (url_hash, url) order."""
    from nutch_spark.operators.fetchsim import fetch
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.inject import inject_full

    cfg = replace(CFG, fetch_partitions=8)
    docs, robots, outcomes, seeds = _web(spark, sf_dir)
    db = inject_full(spark, None, seeds, cfg, GEN_NOW)
    fl = generate(db, cfg, GEN_NOW, top_n=200, num_lists=8)
    crawl_fetch, _ = fetch(fl, robots, outcomes, cfg, GEN_NOW)
    return crawl_fetch.select("url", "status", "fetch_time")


def q_fetch_politeness_byip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """byIP politeness (FetchItem.java:97-104 via the dns fixture):
    host pairs (2k, 2k+1) share an IP and therefore ONE virtual clock;
    host19 is unresolved and its items are skipped outright."""
    from nutch_spark.operators.fetchsim import fetch
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.inject import inject_full

    cfg = replace(CFG, fetch_partitions=8, fetcher_queue_mode="byIP")
    docs, robots, outcomes, seeds = _web(spark, sf_dir)
    dns = _dns(spark)
    db = inject_full(spark, None, seeds, cfg, GEN_NOW)
    fl = generate(db, cfg, GEN_NOW, top_n=200, num_lists=8)
    crawl_fetch, _ = fetch(fl, robots, outcomes, cfg, GEN_NOW, dns=dns)
    return crawl_fetch.select("url", "status", "fetch_time")


def q_fetch_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 throughput killer over the politeness fetch
    (Fetcher.java:311-338): threshold 1 page/s, 3 retries, checking from
    t=0, one fetch partition — after the first-per-host burst completes
    in second 0, seconds 1-3 are dry, so the queues drain and every
    not-yet-started item is dropped with no segment output."""
    from nutch_spark.operators.fetchsim import fetch
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.inject import inject_full

    cfg = replace(
        CFG,
        fetch_partitions=1,
        fetcher_throughput_threshold_pages=1,
        fetcher_throughput_threshold_retries=3,
        fetcher_throughput_check_after_mins=0,
    )
    docs, robots, outcomes, seeds = _web(spark, sf_dir)
    db = inject_full(spark, None, seeds, cfg, GEN_NOW)
    fl = generate(db, cfg, GEN_NOW, top_n=200, num_lists=1)
    crawl_fetch, _ = fetch(fl, robots, outcomes, cfg, GEN_NOW)
    return crawl_fetch.select("url", "status", "fetch_time")


def q_bandwidth_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 bandwidth auto-scaling controller (Fetcher.java:263-412)
    over the politeness fetch: target 150 kbps, checks every N=2 ticks
    (period N+1 = 3 s — the reference's counter-ladder off-by-one),
    bytes = latency*120. The 20-host first-item burst overshoots the
    target (halt 3 of 4 threads), the second window is silent (bps 0 ->
    avg 0 -> no action), and the slow crawl-delay hosts' tail undershoots
    with queue headroom (spawn). The oracle replays the sequential
    thread state with a recursive CTE over the same per-check
    aggregates; actuation is N/A on Spark (stage parallelism is fixed
    at submit — SURVEY §2.6), so the trajectory IS the operator's
    output, exactly like the reference's monitor-thread decisions."""
    from nutch_spark.operators.bandwidth import bandwidth_controller
    from nutch_spark.operators.fetchsim import fetch
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.inject import inject_full

    cfg = replace(
        CFG,
        fetch_partitions=1,
        fetcher_server_delay=11.0,
        fetcher_bandwidth_target_kbps=150,
        fetcher_bandwidth_check_every_secs=2,
        fetcher_threads_fetch=4,
        fetcher_max_num_threads=12,
    )
    docs, robots, outcomes, seeds = _web(spark, sf_dir)
    db = inject_full(spark, None, seeds, cfg, GEN_NOW)
    fl = generate(db, cfg, GEN_NOW, top_n=200, num_lists=1)
    crawl_fetch, _ = fetch(fl, robots, outcomes, cfg, GEN_NOW)
    comp = crawl_fetch.join(outcomes.select("url", "latency_ms"), "url").select(
        "host",
        (F.col("fetch_time") + F.col("latency_ms")).cast("long").alias("end_ms"),
        (F.col("latency_ms") * 120).cast("long").alias("bytes"),
    )
    return bandwidth_controller(comp, cfg, GEN_NOW).select(
        "check_idx", "check_ms", "bytes_total", "bps", "avg_bps_per_thread",
        "queue_count", "threads_before", "delta_threads", "threads_after",
    )


def _web_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, _, _, _ = _web(spark, sf_dir)
    return docs.select(
        F.col("doc_id").alias("url"),
        F.lit(1.0).cast("float").alias("score"),
        F.lit(FETCH_TS).cast("long").alias("fetch_time"),
        F.lit(None).cast("long").alias("gen_time"),
        "spans",
        "is_canonical",
    )


def q_parse_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T16/T17 + OPIC distributeScoreToOutlinks: span-order outlink
    extraction with per-page dedup/caps and score/validCount link
    scores (parse stage, ParseOutputFormat.java:295-344,
    OPICScoringFilter.java:128-172)."""
    from nutch_spark.operators.parse import parse

    parsed = parse(_web_content(spark, sf_dir), CFG)
    return parsed["outlinks"].select(
        "url", "to_url", "anchor", "pos",
        F.col("link_score").cast("double").alias("link_score"),
    )


def q_span_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12 span signature: MD5 over the canonical span serialization —
    the per-document content digest driving notmodified detection."""
    from nutch_spark.operators.parse import span_signature

    docs, _, _, _ = _web(spark, sf_dir)
    return docs.select(
        F.col("doc_id").alias("url"), span_signature(F.col("spans")).alias("signature")
    )


def q_meta_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML meta directives (HTMLMetaProcessor.java:40-220 via
    operators/metatags.py): robots noindex/nofollow/none/noarchive
    screens, pragma no-cache, base href, refresh parsing (bare-time,
    url= form, unparseable-time drop), first-robots-value — folded over
    a deterministic meta-span corpus; the oracle replays the identical
    substring screens over the same content strings in SQL."""
    from nutch_spark.operators.metatags import meta_directives

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    url = _url20()
    m = did % 11
    rt = (did % 9).cast("string")
    b = (did % 5).cast("string")

    def meta(text_col, off):
        return F.struct(
            F.lit("meta").alias("kind"),
            text_col.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    txt = F.struct(
        F.lit("text").alias("kind"),
        F.substring("text", 1, 40).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(9).cast("int").alias("offset"),
    )
    refresh_url = F.concat(
        F.lit("refresh:"), rt, F.lit(";url=http://r"), b, F.lit(".example.com/t")
    )
    base_href = F.concat(F.lit("base:http://base"), b, F.lit(".example.com/b/"))
    spans = (
        F.when(m == 0, F.array(meta(F.lit("robots:noindex,nofollow,noarchive"), 0), txt))
        .when(m == 1, F.array(meta(F.lit("RoBoTs:NoNe"), 0), meta(F.lit("pragma:no-cache"), 1), txt))
        .when(m == 2, F.array(meta(F.lit("robots:all"), 0), txt))
        .when(m == 3, F.array(meta(refresh_url, 0), txt))
        .when(m == 4, F.array(meta(base_href, 0), txt))
        .when(m == 5, F.array(meta(F.lit("robots"), 0), meta(F.lit("refresh:abc"), 1), txt))
        .when(m == 6, F.array(meta(F.concat(F.lit("refresh:"), rt), 0), txt))
        # empty url= target -> the page itself (new URL(currURL, ""))
        .when(m == 7, F.array(meta(F.concat(F.lit("refresh:"), rt, F.lit(";url=")), 0), txt))
        # href-less <base> after a valid one -> the valid one is kept
        .when(m == 8, F.array(meta(base_href, 0), meta(F.lit("base"), 1), txt))
        # two valid bases -> the LAST one wins
        .when(m == 9, F.array(
            meta(F.lit("base:http://old.example.com/"), 0),
            meta(F.concat(F.lit("base:http://base"), b, F.lit(".example.com/n/")), 1),
            txt,
        ))
        .otherwise(F.array(txt))
    )
    md = meta_directives(spans, url)
    return d.select(
        url.alias("url"),
        md["no_index"].cast("int").alias("no_index"),
        md["no_follow"].cast("int").alias("no_follow"),
        md["no_cache"].cast("int").alias("no_cache"),
        md["base_href"].alias("base_href"),
        md["refresh"].cast("int").alias("refresh"),
        md["refresh_time"].cast("int").alias("refresh_time"),
        md["refresh_href"].alias("refresh_href"),
        md["robots"].alias("robots"),
    )


def q_parse_meta_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta directives through the full parse stage (HtmlParser.java:
    223-250 + ParseOutputFormat.java:273-293): robots nofollow
    suppresses a page's outlink LINKED rows entirely; a meta refresh
    additionally emits a fresh LINKED datum (score 0, interval 0) at
    the refresh target. Returns every STATUS_LINKED crawl_parse row."""
    from nutch_spark.operators.parse import parse
    from nutch_spark.schema import STATUS_LINKED

    d = _docs(spark, sf_dir)
    n = _n_docs(d, sf_dir)
    did = F.col("doc_id")
    m = did % 6
    tgt = (did * 7 + 1) % n

    def span(kind, text, ref, off):
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            ref.alias("media_ref"),
            off.cast("int").alias("offset"),
        )

    refresh_meta = F.concat(
        F.lit("refresh:"), (did % 9).cast("string"),
        F.lit(";url=http://host"), ((did + 3) % 20).cast("string"),
        F.lit(".example.com/r/"), did.cast("string"),
    )
    base = [
        span(F.lit("text"), F.substring("text", 1, 40), F.lit(None).cast("string"), F.lit(0)),
        span(F.lit("link"), F.concat(F.lit("a"), tgt.cast("string")), _url20(tgt), F.lit(1)),
    ]
    spans = (
        F.when(m == 0, F.array(span(F.lit("meta"), F.lit("robots:nofollow"), F.lit(None).cast("string"), F.lit(2)), *base))
        .when(m == 1, F.array(span(F.lit("meta"), refresh_meta, F.lit(None).cast("string"), F.lit(2)), *base))
        .otherwise(F.array(*base))
    )
    content = d.select(
        _url20().alias("url"),
        F.lit(1.0).cast("float").alias("score"),
        F.lit(FETCH_TS).cast("long").alias("fetch_time"),
        F.lit(None).cast("long").alias("gen_time"),
        spans.alias("spans"),
        F.lit(True).alias("is_canonical"),
    )
    parsed = parse(content, CFG)
    return parsed["crawl_parse"].filter(F.col("status") == STATUS_LINKED).select(
        "url",
        "from_url",
        "anchor",
        "repr_url",
        F.col("score").cast("double").alias("score"),
        F.col("fetch_interval").cast("int").alias("fetch_interval"),
    )


def q_fetch_depth_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 in-fetch outlink following (fetcher.follow.outlinks.depth=1,
    FetcherThread.java:840-886): wave 0 is the politeness fetch; its
    parsed pages follow same-host outlinks (per-queue alreadyFetched
    dedup, per-page num.links cap) as STATUS_LINKED items that drain
    AFTER the wave-0 queue on each host's virtual clock. The oracle
    replays both waves: the dedup set by string equality (the engine
    uses Java hashCodes — equivalent unless the fixture contains a
    hashCode collision, which it does not) and the wave-1 clock from
    each host's wave-0 end."""
    from nutch_spark.operators.fetchsim import fetch_follow_outlinks
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.inject import inject_full

    cfg = replace(CFG, fetch_partitions=8, fetcher_follow_outlinks_depth=1)
    docs, robots, outcomes, seeds = _web(spark, sf_dir)
    db = inject_full(spark, None, seeds, cfg, GEN_NOW)
    fl = generate(db, cfg, GEN_NOW, top_n=200, num_lists=8)
    crawl_fetch, _ = fetch_follow_outlinks(fl, robots, outcomes, docs, cfg, GEN_NOW)
    return crawl_fetch.select("url", "status", "fetch_time", "outlink_depth")


def q_fetch_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7: robots gating + protocol-status -> fetch-status switch
    (FetcherThread.java:319-487) — the status outcome of the same fetch
    as q_fetch_politeness, which IS ANSI-SQL-derivable (the virtual
    politeness clock is not; that stays rows-only)."""
    crawl_fetch = q_fetch_politeness(spark, sf_dir)
    return crawl_fetch.select("url", "status")


def q_warc_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 WARC export (WARCExporter.java:184-249): WARC/1.0 resource
    records over the canonical span payload of cycle-1 successful
    fetches, record ids md5-derived (documented deviation from the
    reference's random UUIDs — the injected-determinism rule), dates
    from the politeness clock. The oracle rebuilds each record string
    byte-for-byte."""
    from nutch_spark.operators.fetchsim import fetch, fetched_content
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.inject import inject_full
    from nutch_spark.operators.warc import warc_records

    cfg = replace(CFG, fetch_partitions=8)
    docs, robots, outcomes, seeds = _web(spark, sf_dir)
    db = inject_full(spark, None, seeds, cfg, GEN_NOW)
    fl = generate(db, cfg, GEN_NOW, top_n=200, num_lists=8)
    crawl_fetch, _ = fetch(fl, robots, outcomes, cfg, GEN_NOW)
    content = fetched_content(crawl_fetch, docs)
    return warc_records(content)


def q_index_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 indexing job (IndexerMapReduce.java:197-320 +
    BasicIndexingFilter.java:72-131): NutchDocument rows for
    db_fetched/db_notmodified pages — domain/host/content/title/tstamp
    plus digest and boost."""
    from nutch_spark.operators.indexer import index_documents, subcollections_col

    db = _crawldb(_docs(spark, sf_dir))
    ptext = _docs(spark, sf_dir).select(_url_col().alias("url"), F.col("text"))
    out = index_documents(db, ptext, CFG)
    collections = [
        {"name": "docs-low", "whitelist": ["/doc/1", "/doc/2"],
         "blacklist": ["/doc/12"]},
        {"name": "host-five", "whitelist": ["host5.example.com", "host15."]},
    ]
    return out.select(
        "url", "domain", "host", "content", "title", "tstamp", "digest",
        F.col("boost").cast("double").alias("boost"),
        F.array_join(
            subcollections_col(F.col("url"), collections), " "
        ).alias("subcollection"),
    )


def q_exchange_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 exchange routing (exchange/Exchanges.java + exchange-jexl
    JexlExchange.match:53-66): per-document writer selection by JEXL
    over the ``doc`` context — including the canonical
    ``doc.getFieldValue(...)`` method-call form from
    exchanges.xml.template — compiled to JVM Columns."""
    from nutch_spark.operators.indexer import index_documents, route_documents

    db = _crawldb(_docs(spark, sf_dir))
    ptext = _docs(spark, sf_dir).select(_url_col().alias("url"), F.col("text"))
    docs = index_documents(db, ptext, CFG)
    routed = route_documents(
        docs,
        [
            ("high_boost", "doc.boost >= 8.0"),
            ("host_teens",
             "doc.getFieldValue('host') =~ 'host1[0-9].example.com'"),
            ("untitled", "doc.title == null"),
        ],
    )
    return routed.select(
        "url", F.array_join("writers", " ").alias("writers")
    )


def q_index_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The indexing-filter battery (operators/index_filters): index-more
    type/length/date, index-anchor dedup, index-metadata db+parse keys,
    index-replace host-scoped regex, index-static, index-links
    hosts-only mode, mimetype-filter gate, tld, language-identifier —
    one pass over indexable crawldb rows with synthesized parse
    metadata and the linkdb-invert link graph."""
    from nutch_spark.ml.text import lang_id
    from nutch_spark.operators.index_filters import (
        anchor_field,
        links_fields,
        metadata_fields,
        mimetype_keep,
        more_fields,
        replace_fields,
        static_fields,
    )
    from nutch_spark.operators.linkdb import invert_links
    from nutch_spark.urls.urlutil import host_expr, tld_expr

    docs = _docs(spark, sf_dir)
    n = _n_docs(docs, sf_dir)
    db = _crawldb(docs, extra=("doc_id", "text")).filter(
        F.col("status").isin(2, 6)
    )

    d = F.col("doc_id")
    # synthesized protocol/parse metadata (deterministic from doc_id)
    content_type = (
        F.when(d % 5 == 0, F.lit("text/html; charset=utf-8"))
        .when(d % 5 == 1, F.lit("application/pdf"))
        .when(d % 5 == 3, F.lit("image/png"))
        .when(d % 5 == 4, F.lit("Text/HTML"))
    )  # %5==2 -> null -> URL-extension fallback (no extension -> octet-stream)
    content_length = (
        F.when(d % 4 == 1, F.concat(F.lit("  "), (d * 17).cast("string"), F.lit(" ")))
        .when(d % 4 >= 2, (d * 17).cast("string"))
    )  # %4==0 -> null
    last_modified = F.when(d % 3 == 0, F.lit(FT_BASE) - d * 1000).cast("long")
    db_meta = F.when(
        d % 2 == 0,
        F.create_map(F.lit("collector"), F.concat(F.lit("c"), (d % 7).cast("string"))),
    ).otherwise(F.expr("map()").cast("map<string,string>"))
    parse_meta = F.create_map(
        F.lit("keywords"), F.concat(F.lit("k1, k2 , ,k"), (d % 5).cast("string")),
        F.lit("author"), F.concat(F.lit(" auth"), (d % 11).cast("string"), F.lit(" ")),
    )

    # link graph: same derivation as linkdb_invert, mixed-case anchors
    cfg = replace(CFG, linkdb_max_inlinks=4)
    ks = docs.select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("k")
    )
    tid = (F.col("doc_id") * 7 + F.col("k") * 13 + 1) % n
    anchor = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("A")).otherwise(F.lit("a")),
        F.col("k").cast("string"),
    )
    outlinks = ks.select(
        _url_col().alias("url"), _url_col(tid).alias("to_url"), anchor.alias("anchor")
    )
    ldb = invert_links(outlinks, cfg)

    base = db.withColumns({
        "content_type": content_type,
        "content_length_raw": content_length,
        "last_modified_raw": last_modified,
        "metadata": db_meta,
        "parse_metadata": parse_meta,
        "title": F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40),
        "host": host_expr(F.col("url")),
    })
    out = more_fields(
        base,
        content_type="content_type",
        content_length="content_length_raw",
        last_modified="last_modified_raw",
    )
    out = anchor_field(out, ldb, deduplicate=True)
    out = metadata_fields(
        out,
        db_keys=("collector",),
        parse_keys=("keywords", "author"),
        separator=",",
        mv_fields=("keywords",),
    )
    out = static_fields(out, {"source": ["nutch-spark"]})
    out = replace_fields(out, [{
        "scope": "host", "match": r"^host1[0-9]\.example\.com$",
        "field": "title", "to_field": "title_norm",
        "pattern": r"\d+", "replacement": "#",
    }])
    out = links_fields(
        out, outlinks, ldb, only_hosts=True, ignore_same_host_out=True
    )
    return out.select(
        "url",
        "type", "type_primary", "type_sub", "content_length",
        "last_modified", "date",
        F.array_join("anchors", " ").alias("anchors"),
        F.array_join("outlinks", " ").alias("outlink_hosts"),
        F.array_join("inlinks", " ").alias("inlink_hosts"),
        F.array_join("collector", " ").alias("collector"),
        F.array_join("keywords", " ").alias("keywords"),
        F.array_join("author", " ").alias("author"),
        "title_norm",
        F.array_join("source", " ").alias("source"),
        mimetype_keep(F.col("type"), ["application"], accept_mode=True).alias("mime_keep"),
        tld_expr(F.col("url")).alias("tld"),
        lang_id(F.col("text")).alias("lang"),
    )


_ORPHAN_NOW_S = 1700000000
_SIM_GOLD = (
    "stream processing with vector columns and sorted aggregation the "
    "query engine joins window partitions"
)
_SIM_STOP = ("the", "and", "with")


def q_urlfilter_validator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """urlfilter-validator + urlfilter-automaton (UrlValidator.java:102-224,
    AutomatonURLFilter): syntactic validation and the automaton-subset
    first-match-wins chain, both as pure-JVM columns, over a url mix
    hitting every rejection branch (bad IP octets, missing scheme,
    illegal chars, oversize port, dotless host)."""
    from nutch_spark.urls.filters import AutomatonURLFilter, ValidatorURLFilter

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    url = (
        F.when(d % 7 == 0, F.concat(
            _url_col(), F.when(d % 2 == 0, F.lit(".png")).otherwise(F.lit(".html"))))
        .when(d % 7 == 1, F.concat(F.lit("http://999.000.456.32/doc/"), ds))
        .when(d % 7 == 2, F.concat(
            F.lit("http://10.0.0."), (d % 256).cast("string"), F.lit("/doc/"), ds))
        .when(d % 7 == 3, F.concat(F.lit("example.com/doc/"), ds))
        .when(d % 7 == 4, F.concat(F.lit("http://host.example.com/sp ace/"), ds))
        .when(d % 7 == 5, F.concat(F.lit("http://x.example.com:123456/doc/"), ds))
        .otherwise(F.concat(F.lit("http://singlehost/doc/"), ds))
    )
    df = docs.select(url.alias("url"))
    v = ValidatorURLFilter()
    auto = AutomatonURLFilter([r"-\.png$", r"+^http://", r"-."])
    return df.select(
        "url",
        v.cond(F.col("url")).alias("valid"),
        auto.cond(F.col("url")).alias("auto_accept"),
    )


def q_orphan_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scoring-orphan (OrphanScoringFilter.java:60-103): inlinked pages
    refresh their ``_orphan_`` last-seen stamp; stamp ages past 40d →
    db_orphan, past 30d → db_gone (orphan checked first, as the
    reference does)."""
    from nutch_spark.operators.scoring import orphan_update

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    stamp = (
        F.when(d % 4 == 0, _ORPHAN_NOW_S - 46 * 86400)
        .when(d % 4 == 1, _ORPHAN_NOW_S - 35 * 86400)
        .when(d % 4 == 2, _ORPHAN_NOW_S - 5 * 86400)
    )
    db = _crawldb(docs, extra=("doc_id",)).withColumn(
        "metadata",
        F.when(
            stamp.isNotNull(),
            F.create_map(F.lit("_orphan_"), stamp.cast("string")),
        ).otherwise(F.expr("map()").cast("map<string,string>")),
    )
    inl = docs.filter(d % 3 == 0).select(
        _url_col().alias("url"), (1 + d % 5).cast("long").alias("n_inlinks")
    )
    out = orphan_update(db, inl, _ORPHAN_NOW_S)
    return out.select(
        "url", "status",
        F.element_at(F.col("metadata"), F.lit("_orphan_"))
        .cast("long").alias("orphan_ts"),
    )


def q_similarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scoring-similarity (cosine/Model.java + CosineSimilarity.java):
    focused-crawl priority = TF-cosine of each page against a broadcast
    gold-standard profile, stopwords dropped (no Porter stemming —
    documented deviation)."""
    from nutch_spark.operators.scoring import similarity_scores

    pt = _docs(spark, sf_dir).select(_url_col().alias("url"), "text")
    return similarity_scores(pt, _SIM_GOLD, stopwords=_SIM_STOP)


def q_metadata_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scoring-metadata + scoring-link (MetadataScoringFilter.java:43-147,
    LinkAnalysisScoringFilter.java:32-81): configured datum-metadata
    keys ride into parse metadata, parse keys are stamped onto every
    outlink datum, and each parent page carries both indexer boosts —
    OPIC pow-damping vs link-analysis normalization. Parent scores are
    dyadic squares so sqrt is float-exact."""
    from nutch_spark.operators.scoring import (
        link_indexer_score,
        metadata_to_outlinks,
        metadata_to_parse,
        opic_indexer_score,
    )
    from nutch_spark.schema import STATUS_LINKED

    docs = _docs(spark, sf_dir).select("doc_id")
    n = _n_docs(docs, sf_dir)
    d = F.col("doc_id")
    q = (d % 8) / 4.0
    pages = docs.select(
        d.alias("doc_id"),
        _url_col().alias("url"),
        (q * q).cast("float").alias("score"),
        F.when(
            d % 2 == 0,
            F.create_map(
                F.lit("campaign"), F.concat(F.lit("c"), (d % 5).cast("string"))
            ),
        ).otherwise(F.expr(EMPTY_META_EXPR)).alias("metadata"),
        F.create_map(
            F.lit("ptag"), F.concat(F.lit("p"), (d % 3).cast("string"))
        ).alias("parse_metadata"),
    )
    pages = metadata_to_parse(pages, ["campaign"])

    ks = docs.select("doc_id", F.explode(F.array(F.lit(1), F.lit(2))).alias("k"))
    tgt = F.when(F.col("k") == 1, (d * 7 + 1) % n).otherwise((d * 13 + 2) % n)
    link_rows = ks.select(
        _url_col(tgt).alias("url"),
        F.lit(STATUS_LINKED).cast("int").alias("status"),
        _url_col().alias("from_url"),
        F.expr(EMPTY_META_EXPR).alias("metadata"),
    )
    stamped = metadata_to_outlinks(
        link_rows,
        pages.select("url", "parse_metadata"),
        ["campaign", "ptag"],
    )
    out = stamped.join(
        pages.select(F.col("url").alias("from_url"), "score"), "from_url"
    )
    return out.select(
        "url",
        "from_url",
        F.element_at("metadata", "campaign").alias("campaign"),
        F.element_at("metadata", "ptag").alias("ptag"),
        opic_indexer_score(F.col("score").cast("double")).alias("boost_opic"),
        link_indexer_score(
            F.col("score").cast("double"), normalized_score=0.5
        ).alias("boost_link"),
    )


def q_parse_filter_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HtmlParseFilter battery (operators/parse_filters): parse-metatags,
    headings, microformats-reltag, creativecommons over HTML synthesized
    deterministically per doc — meta name/http-equiv duplication, nested
    heading tags, %-encoded rel-tags, and all three CC license locations
    (rdf comment / rel=license anchor / plain anchor) plus the indexer's
    license/features/version split."""
    from nutch_spark.operators.parse_filters import (
        cc_index_fields,
        cc_license,
        headings,
        meta_tags_map,
        rel_tags,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    d = F.col("doc_id")
    ds = d.cast("string")
    cc_part = (
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit('<!-- RDF <rdf:RDF xmlns:cc="http://web.resource.org/cc/">'
                      '<cc:Work><dc:type rdf:resource='
                      '"http://purl.org/dc/dcmitype/Text"/></cc:Work>'
                      '<cc:License rdf:about='
                      '"http://creativecommons.org/licenses/by-nc/'),
                (1 + d % 3).cast("string"),
                F.lit('.0/"></cc:License></rdf:RDF> -->'),
            ),
        )
        .when(d % 4 == 1, F.lit(
            '<a rel="license" href='
            '"http://creativecommons.org/licenses/by/2.0/">cc</a>'))
        .when(d % 4 == 2, F.lit(
            '<a href="http://creativecommons.org/licenses/by-sa/3.0/">cc</a>'))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit('<html><head><meta name="keywords" content="k'),
        (d % 5).cast("string"),
        F.lit(', extra"/><meta name="author" content="a'),
        (d % 7).cast("string"),
        F.lit('"/>'),
        F.when(d % 3 == 0, F.concat(
            F.lit('<meta name="Keywords" content="dup'),
            (d % 4).cast("string"), F.lit('"/>'))).otherwise(F.lit("")),
        F.lit('<meta http-equiv="Refresh" content="'),
        (d % 9).cast("string"),
        F.lit('"/></head><body><h1> Top '),
        (d % 10).cast("string"),
        F.lit(" <b>bold</b> </h1>"),
        F.when(d % 2 == 0, F.concat(
            F.lit("<h1>Again "), (d % 3).cast("string"),
            F.lit("</h1>"))).otherwise(F.lit("")),
        F.when(d % 4 != 1, F.concat(
            F.lit("<h2>Sub "), (d % 6).cast("string"),
            F.lit("</h2>"))).otherwise(F.lit("")),
        F.lit('<a rel="tag" href="http://t.example.com/tags/tag%20'),
        (d % 5).cast("string"),
        F.lit('">x</a><a rel="tag" href="http://t.example.com/tags/z'),
        (d % 3).cast("string"),
        F.lit('">y</a>'),
        cc_part,
        F.lit("</body></html>"),
    )
    df = docs.select(_url_col().alias("url"), html.alias("html"))
    h = headings(F.col("html"), multivalued=True)
    meta = meta_tags_map(F.col("html"), ["keywords", "author", "refresh"])
    cc = cc_license(F.col("html"))
    df = df.withColumn("_cc", cc).withColumn(
        "_ccf", cc_index_fields(F.col("_cc")["license_url"])
    )
    return df.select(
        "url",
        F.array_join(F.element_at(meta, "metatag.keywords"), "|").alias("keywords"),
        F.array_join(F.element_at(meta, "metatag.author"), "|").alias("author"),
        F.array_join(F.element_at(meta, "metatag.refresh"), "|").alias("refresh"),
        F.array_join(h["h1"], "|").alias("h1"),
        F.array_join(h["h2"], "|").alias("h2"),
        F.array_join(rel_tags(F.col("html")), "|").alias("reltags"),
        F.col("_cc")["license_url"].alias("license_url"),
        F.col("_cc")["license_loc"].alias("license_loc"),
        F.col("_cc")["work_type"].alias("work_type"),
        F.col("_ccf")["license"].alias("cc_lic"),
        F.array_join(F.col("_ccf")["features"], "|").alias("cc_features"),
        F.col("_ccf")["version"].alias("cc_version"),
    )


def q_index_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """indexer-csv + index-jexl-filter (CSVIndexWriter.java:253-393,
    JexlIndexingFilter.java:44-128): jexl-substitute expression gate on
    the indexable rows, then byte-faithful CSV rendering — quote-only-
    when-needed scalars with doubled quotes, always-quoted multi-value
    joins."""
    from nutch_spark.operators.indexer import csv_render, jexl_index_filter

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    base = _crawldb(docs, extra=("doc_id",)).select(
        "url", "status", "score", "doc_id"
    )
    title = (
        F.when(
            d % 5 == 0,
            F.concat(F.lit('Say "hi", '), (d % 3).cast("string")),
        ).otherwise(F.concat(F.lit("T"), (d % 7).cast("string")))
    )
    anchors = F.when(
        d % 2 == 0,
        F.array(
            F.concat(F.lit("a"), (d % 3).cast("string")),
            F.concat(F.lit("b,"), (d % 4).cast("string")),
        ),
    ).otherwise(F.array(F.concat(F.lit("a"), (d % 3).cast("string"))))
    rows = base.withColumns({"title": title, "anchors": anchors})
    gated = jexl_index_filter(
        rows,
        "(status == 'db_fetched' || status == 'db_notmodified') && score > 0.5",
    )
    return csv_render(gated, ["url", "title", "anchors"]).select("url", "csv")


def q_minhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline (shingle → minhash → band →
    bucket-join → Jaccard verify), ml/dedup.py; md5-derived hashing, so
    the DuckDB oracle replays signatures and banding bit-for-bit."""
    from nutch_spark.ml.dedup import minhash_near_duplicates

    return minhash_near_duplicates(_doubled_docs(spark, sf_dir), threshold=0.8)


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups with byte-band pigeonhole bucketing,
    ml/dedup.py; md5 token hashes, so the DuckDB oracle replays the
    bit-vote fingerprints exactly."""
    from nutch_spark.ml.dedup import simhash_near_duplicates

    return simhash_near_duplicates(_doubled_docs(spark, sf_dir), max_hamming=3)


def q_simhash64_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dups — the at-scale path (four 16-bit bands,
    256x fewer bucket-join candidates than the 32-bit/8-bit twin),
    ml/dedup.py simhash64_near_duplicates; fingerprints are held as two
    32-bit halves so the DuckDB oracle replays them without BIGINT
    overflow."""
    from nutch_spark.ml.dedup import simhash64_near_duplicates

    return simhash64_near_duplicates(_doubled_docs(spark, sf_dir), max_hamming=3)


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: sign-LSH bucketing + exact re-rank,
    ml/similarity.py. The hyperplanes are deterministic (splitmix of
    (table,bit,dim)), so the DuckDB oracle replays the exact bucketing
    with the same plane literals; double precision on both sides."""
    from nutch_spark.ml.similarity import lsh_bucket_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_bucket_topk(e, q, k=10, dim=64, n_bits=6, tables=2)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-probe ANN (ml/similarity.py): corpus bucketed by
    nearest of 16 deterministic seed centroids (the md5-ordered
    sample), queries probe their 4 nearest cells, exact cosine re-rank
    inside. Seed centroids + sequential-fold cosine make the whole
    operator replayable in ANSI SQL; double precision on both sides."""
    from nutch_spark.ml.similarity import ivf_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(e, q, k=10, n_centroids=16, n_probe=4)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (ml/similarity.py): sign-LSH
    bucket candidates + exact cosine verify over the doubled corpus
    (each vector plus a +0.03125-shifted copy at cosine ~0.97);
    the oracle replays buckets and cosine with the same plane
    literals and fold order."""
    from nutch_spark.ml.similarity import embedding_near_duplicates

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    shifted = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.03125)).alias("embedding"),
    )
    return embedding_near_duplicates(
        e.unionByName(shifted), threshold=0.9, dim=64, n_bits=6, tables=2
    )


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: media refs from interleaved spans →
    synthetic bytes → Arrow-batched feature extraction (stubbed decode),
    ml/multimodal.py. The fake features are md5-derived byte arithmetic,
    so the exploded (ref, dim, value) rows have an exact DuckDB oracle
    verifying the full byte → feature chain, not just the shape."""
    from nutch_spark.ml.multimodal import extract_features, media_refs_from_docs, synth_media

    docs, _, _, _ = _web(spark, sf_dir)
    refs = media_refs_from_docs(docs)
    media = synth_media(refs)
    feats = extract_features(media)
    return feats.select(
        "media_ref", F.posexplode("feature").alias("dim_idx", "_v")
    ).select(
        "media_ref", "dim_idx", F.round(F.col("_v").cast("double"), 6).alias("feature_val")
    )


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _with_engine_conf(q_crawl_cycle)(spark, "/root/testdata/sf0.001")


def _with_engine_conf(fn: Callable) -> Callable:
    """The engine's map merges rely on LAST_WIN key dedup (metadata
    "newer overrides older", CrawlDbReducer.java:182-189); set it on
    whatever session the driver hands us."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # timestamp rendering (WARC dates, sitemap lastmod) must be UTC
        # regardless of the driver session's locale
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return wrapped


def q_nb_focus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parsefilter-naivebayes (NaiveBayesParseFilter.java:160-198,
    Classify.java:54-116, Train.java:68-145 via operators/nb_filter):
    train on 40 labeled examples derived from the documents table,
    classify every _web page's parse text, and gate each page's link
    outlink — relevant pages keep it, irrelevant pages keep it only if
    the target URL contains a wordlist term."""
    from nutch_spark.operators.nb_filter import (
        nb_classify,
        nb_outlink_gate,
        nb_train,
    )

    d = _docs(spark, sf_dir)
    ex = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") % 2).cast("int").alias("label"),
        F.concat(
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("buy cheap pills now casino ")
            ).otherwise(F.lit("research science article data ")),
            F.substring("text", 1, 60),
        ).alias("text"),
    )
    model, stats = nb_train(ex)

    docs, _, _, _ = _web(spark, sf_dir)
    pages = docs.select(
        F.col("doc_id").alias("url"),
        F.element_at("spans", 1).getField("text").alias("text"),
    )
    verdicts = nb_classify(pages, model, stats)
    outlinks = docs.select(
        F.col("doc_id").alias("url"),
        F.element_at("spans", 2).getField("media_ref").alias("to_url"),
    )
    kept = nb_outlink_gate(outlinks, verdicts, ["doc/1", "host7"])
    kept_counts = kept.groupBy("url").agg(F.count("*").alias("kept"))
    return verdicts.join(kept_counts, "url", "left").select(
        "url",
        "prob_ir",
        "prob_r",
        "relevant",
        F.coalesce(F.col("kept"), F.lit(0)).cast("int").alias("kept_outlinks"),
    )


def q_feed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """feed plugin (FeedParser.java:100-288, FeedIndexingFilter.java:68-105
    via operators/feed): every 10th document becomes an RSS or Atom feed
    (alternating) whose 1-3 items point at other docs; the parser fans
    each feed into per-entry rows (link, stripped title/text, author,
    categories, pubDate as epoch ms) plus the channel-level row."""
    from nutch_spark.operators.feed import parse_feed

    d = _docs(spark, sf_dir)
    n = _n_docs(d, sf_dir)
    did = F.col("doc_id")
    feeds_src = d.filter(did % 10 == 0)
    atom = (did % 20) == 10
    m = (1 + did % 3).cast("int")
    feed_url = F.concat(
        F.lit("http://host"), (did % 20).cast("string"),
        F.lit(".example.com/feed/"), did.cast("string"), F.lit(".xml"),
    )
    site = F.concat(
        F.lit("http://host"), (did % 20).cast("string"), F.lit(".example.com/")
    )

    def _item(j):
        tid = (did + 7 * j + 1) % n
        ts = tid.cast("string")
        turl = F.concat(
            F.lit("http://host"), (tid % 20).cast("string"),
            F.lit(".example.com/doc/"), ts,
        )
        epoch = (F.lit(1700000000).cast("long") + tid * 3600)
        rss_date = F.concat(
            F.date_format(
                F.timestamp_seconds(epoch), "EEE, dd MMM yyyy HH:mm:ss"
            ),
            F.lit(" GMT"),
        )
        atom_date = F.concat(
            F.date_format(F.timestamp_seconds(epoch), "yyyy-MM-dd'T'HH:mm:ss"),
            F.lit("Z"),
        )
        author_name = F.concat(F.lit("a"), (tid % 7).cast("string"))
        rss = F.concat(
            F.lit("<item><title>Item <b>"), ts, F.lit("</b></title><link>"),
            turl, F.lit("</link><description>Sum <i>"), ts,
            F.lit("</i> ok</description>"),
            F.when(
                tid % 4 != 0,
                F.concat(F.lit("<author>"), author_name, F.lit("</author>")),
            ).otherwise(F.lit("")),
            F.lit("<category>c"), (tid % 5).cast("string"), F.lit("</category>"),
            F.when(
                tid % 2 == 0,
                F.concat(
                    F.lit("<category>d"), (tid % 3).cast("string"),
                    F.lit("</category>"),
                ),
            ).otherwise(F.lit("")),
            F.lit("<pubDate>"), rss_date, F.lit("</pubDate></item>"),
        )
        at = F.concat(
            F.lit("<entry><title>Item <b>"), ts, F.lit('</b></title><link href="'),
            turl, F.lit('"/><summary>Sum <i>'), ts, F.lit("</i> ok</summary>"),
            F.when(
                tid % 4 != 0,
                F.concat(
                    F.lit("<author><name>"), author_name,
                    F.lit("</name></author>"),
                ),
            ).otherwise(F.lit("")),
            F.lit('<category term="c'), (tid % 5).cast("string"), F.lit('"/>'),
            F.when(
                tid % 2 == 0,
                F.concat(
                    F.lit('<category term="d'), (tid % 3).cast("string"),
                    F.lit('"/>'),
                ),
            ).otherwise(F.lit("")),
            F.lit("<published>"), atom_date, F.lit("</published></entry>"),
        )
        return F.when(atom, at).otherwise(rss)

    blocks = F.concat_ws("", F.transform(F.sequence(F.lit(0), m - 1), _item))
    ds = did.cast("string")
    rss_xml = F.concat(
        F.lit("<rss><channel><title>Feed <b>"), ds, F.lit("</b></title><link>"),
        site, F.lit("</link><description>About "), ds, F.lit("</description>"),
        blocks, F.lit("</channel></rss>"),
    )
    atom_xml = F.concat(
        F.lit("<feed><title>Feed <b>"), ds, F.lit('</b></title><link href="'),
        site, F.lit('"/><subtitle>About '), ds, F.lit("</subtitle>"),
        blocks, F.lit("</feed>"),
    )
    feeds = feeds_src.select(
        feed_url.alias("url"),
        F.when(atom, atom_xml).otherwise(rss_xml).alias("xml"),
    )
    out = parse_feed(feeds)
    return out.select(
        "url",
        "feed_link",
        "feed_url",
        "kind",
        "title",
        "text",
        "author",
        F.array_join("tags", "|").alias("tags"),
        "published_ms",
    )


def q_js_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse-js (JSParseFilter.java:195-275 via operators/js_parse):
    quoted string literals in synthesized per-doc scripts become
    outlinks when they look URL-ish — absolute, root-relative,
    dir-relative, www.-prefixed, and &amp;-escaped candidates each
    exercise one resolution branch; bare words are rejected."""
    from nutch_spark.operators.js_parse import js_outlinks

    d = _docs(spark, sf_dir)
    n = _n_docs(d, sf_dir)
    did = F.col("doc_id")
    t1 = (did * 3 + 1) % n
    page = F.concat(
        F.lit("http://host"), (did % 20).cast("string"),
        F.lit(".example.com/js/"), did.cast("string"), F.lit(".js"),
    )
    abs_url = _url20(t1)
    script = F.concat(
        F.lit('var u = "'), abs_url, F.lit('";\n'),
        F.lit("var r = '/rel/"), (did % 7).cast("string"),
        F.lit("/page"), (did % 5).cast("string"), F.lit(".html';\n"),
        F.lit('var w = "www.site'), (did % 9).cast("string"),
        F.lit('.com/p";\n'),
        F.lit('var i = "img/'), (did % 4).cast("string"), F.lit('.png";\n'),
        F.lit('var x = "plainword";\n'),
        F.lit('var q = "'), abs_url, F.lit("/q?a=1&amp;b="),
        (did % 3).cast("string"), F.lit('";\n'),
        F.lit('if (x == "any") { x = "none"; }\n'),
    )
    pages = d.select(page.alias("url"), script.alias("script"))
    return js_outlinks(pages)


def q_geoip_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """index-geoip cityDatabase usage (GeoIPIndexingFilter.java:140-230,
    GeoIPDocumentCreator.java:70-130 via operators/geoip): pages resolve
    host->IP through the dns fixture (host19 stays unresolved), then a
    broadcast geo lookup adds city/country/location fields; null
    attributes (postalCode for every third IP) and unresolved IPs stay
    null, mirroring addIfNotNull."""
    from nutch_spark.operators.geoip import geoip_index

    docs, _, _, _ = _web(spark, sf_dir)
    host = F.regexp_extract(F.col("doc_id"), "^http://([^/]*)/", 1)
    pages = docs.select(F.col("doc_id").alias("url"), host.alias("host"))
    dns = _dns(spark)
    j = F.col("id")
    js = j.cast("string")
    geodb = spark.range(10).select(
        F.concat(F.lit("10.0.0."), js).alias("ip"),
        F.concat(F.lit("City "), js).alias("cityName"),
        F.when(j % 2 == 0, F.lit("NA")).otherwise(F.lit("EU")).alias(
            "continentCode"
        ),
        F.when(j % 2 == 0, F.lit("NorthAm")).otherwise(F.lit("Europe")).alias(
            "continentName"
        ),
        F.concat(F.lit("C"), (j % 5).cast("string")).alias("countryIsoCode"),
        F.concat(F.lit("Country "), (j % 5).cast("string")).alias("countryName"),
        F.concat(
            (j * 3).cast("string"), F.lit(".25,-"), (j * 7).cast("string"),
            F.lit(".5"),
        ).alias("latLon"),
        (j % 10 + 1).cast("int").alias("accRadius"),
        F.concat(F.lit("Zone/Z"), (j % 4).cast("string")).alias("timeZone"),
        F.when(j % 3 != 0, F.concat(F.lit("5500"), js)).alias("postalCode"),
        F.concat(F.lit("Sub "), (j % 6).cast("string")).alias("subDivName"),
        F.concat(F.lit("S"), (j % 6).cast("string")).alias("subDivIsoCode"),
    )
    with_ip = pages.join(F.broadcast(dns), "host", "left")
    out = geoip_index(with_ip, geodb, usage="cityDatabase")
    return out.select(
        "url",
        "ip",
        "cityName",
        "continentCode",
        "countryIsoCode",
        "countryName",
        "latLon",
        "accRadius",
        "timeZone",
        "postalCode",
        "subDivIsoCode",
    )


def q_zip_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse-zip (ZipParser.java, ZipTextExtractor.java:61-115 via
    operators/zip_parse): every 5th doc becomes a 3-entry archive
    (text, html-with-link, binary); the round-trip checks entry
    fan-out, mime detection, html outlink resolution, and the
    archive-order 'name text ' accumulation that skips the
    parser-less binary entry."""
    import io as _io
    import zipfile as _zipfile
    from typing import Iterator as _Iterator

    from nutch_spark.operators.zip_parse import parse_zip

    d = _docs(spark, sf_dir)
    n = _n_docs(d, sf_dir)
    src = d.filter(F.col("doc_id") % 5 == 0).select("doc_id")

    def build(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                t = (did * 3 + 1) % n
                buf = _io.BytesIO()
                ts = (2026, 1, 1, 0, 0, 0)
                with _zipfile.ZipFile(buf, "w") as zf:
                    zf.writestr(
                        _zipfile.ZipInfo("readme.txt", ts), f"Doc {did} notes"
                    )
                    zf.writestr(
                        _zipfile.ZipInfo("page.html", ts),
                        f'<html><a href="/doc/{t}">x</a>Body {did}</html>',
                    )
                    zf.writestr(
                        _zipfile.ZipInfo("data.bin", ts), bytes(1 + did % 7)
                    )
                rows.append(
                    dict(
                        url=(
                            f"http://host{did % 20}.example.com/z/{did}.zip"
                        ),
                        content=buf.getvalue(),
                    )
                )
            yield pd.DataFrame(rows, columns=["url", "content"])

    pages = src.mapInPandas(build, "url string, content binary")
    entries, archives = parse_zip(pages)
    return entries.join(
        archives.select("url", F.col("text").alias("arch_text")), "url"
    ).select(
        "url",
        "idx",
        "name",
        "mime",
        "size",
        "text",
        F.array_join("outlinks", "|").alias("outlinks"),
        "arch_text",
    )


def q_fetch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """publisher extension point (FetcherThread.java:307,399,829 via
    operators/publisher): the politeness-simulated fetch emits START /
    END / REPORT events with the FetcherThreadEvent JSON envelope;
    END stamps the virtual clock, REPORT only successful fetches."""
    from nutch_spark.operators.fetchsim import fetch
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.inject import inject_full
    from nutch_spark.operators.publisher import event_json, fetch_events

    cfg = replace(CFG, fetch_partitions=8)
    docs, robots, outcomes, seeds = _web(spark, sf_dir)
    db = inject_full(spark, None, seeds, cfg, GEN_NOW)
    fl = generate(db, cfg, GEN_NOW, top_n=200, num_lists=8)
    crawl_fetch, _ = fetch(fl, robots, outcomes, cfg, GEN_NOW)
    # the event stream is a 3-way fan-out of the same fetch output;
    # materialize once so the politeness pipeline doesn't run 3x
    # (plan audit showed the un-checkpointed fan-out tripling it)
    crawl_fetch = crawl_fetch.localCheckpoint(eager=True)
    ev = fetch_events(crawl_fetch, start_ms=GEN_NOW)
    return event_json(ev).select(
        "event_type", "url", "timestamp_ms", "payload"
    )


def _stamped_datum_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One fetch cycle's datums with `nutch.protocol.code` stamped,
    unioned with the untouched frontier as unfetched rows — the (url,
    datum) table the stats tools map over."""
    from nutch_spark.operators.fetchsim import fetch
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.inject import inject_full
    from nutch_spark.operators.stats import stamp_protocol_code
    from nutch_spark.schema import STATUS_DB_UNFETCHED

    cfg = replace(CFG, fetch_partitions=8)
    docs, robots, outcomes, seeds = _web(spark, sf_dir)
    db = inject_full(spark, None, seeds, cfg, GEN_NOW)
    fl = generate(db, cfg, GEN_NOW, top_n=200, num_lists=8)
    crawl_fetch, _ = fetch(fl, robots, outcomes, cfg, GEN_NOW)
    # materialize once: the stamped rows feed both the union and the
    # anti-join below, and an un-checkpointed fan-out re-runs the whole
    # politeness pipeline per branch (same fix as q_fetch_events)
    stamped = (
        stamp_protocol_code(crawl_fetch)
        .select("url", "status", "metadata")
        .localCheckpoint(eager=True)
    )
    rest = (
        docs.select(F.col("doc_id").alias("url"))
        .join(stamped.select("url"), "url", "left_anti")
        .select(
            "url",
            F.lit(STATUS_DB_UNFETCHED).cast("int").alias("status"),
            F.expr("cast(map() as map<string,string>)").alias("metadata"),
        )
    )
    return stamped.unionByName(rest)


def q_protocol_status_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProtocolStatusStatistics (util/ProtocolStatusStatistics.java:
    118-160 via operators/stats): per-protocol-code counts across the
    db; rows without the code key count as UNFETCHED."""
    from nutch_spark.operators.stats import protocol_status_stats

    return protocol_status_stats(_stamped_datum_table(spark, sf_dir))


def q_crawl_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CrawlSummaryStats (util/CrawlSummaryStats.java:160-240 via
    operators/stats): counts by host x status name x protocol code
    (-1 when absent)."""
    from nutch_spark.operators.stats import crawl_summary

    return crawl_summary(_stamped_datum_table(spark, sf_dir), mode="host")


def q_dmoz_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DmozParser (tools/DmozParser.java:121-320 via operators/dmoz):
    20 per-host RDF dumps of Topic/ExternalPage blocks; adult sections
    drop, and the md5 quarter-digest subset sampler (denom=3,
    skew=12345) keeps a deterministic third of the rest."""
    from nutch_spark.operators.dmoz import parse_dmoz

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ds = did.cast("string")
    topic = F.when(
        did % 11 == 0,
        F.concat(F.lit("Top/Adult/Sub"), (did % 3).cast("string")),
    ).otherwise(
        F.concat(
            F.lit("Top/T"), (did % 5).cast("string"),
            F.lit("/Sub"), (did % 3).cast("string"),
        )
    )
    url = _url20(did)
    blk = F.concat(
        F.lit('<Topic r:id="'), topic, F.lit('">\n<ExternalPage about="'),
        url, F.lit('">\n<d:Title>T '), ds,
        F.lit("</d:Title><d:Description>D "), ds,
        F.lit("</d:Description>\n</ExternalPage></Topic>\n"),
    )
    rdf = (
        d.select((did % 20).alias("h"), did.alias("doc_id"), blk.alias("blk"))
        .groupBy("h")
        .agg(
            F.concat(
                F.lit("<RDF>\n"),
                F.array_join(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "blk"))
                    ).getField("blk"),
                    "",
                ),
                F.lit("</RDF>"),
            ).alias("content")
        )
    )
    return parse_dmoz(rdf, subset_denom=3, skew=12345)


def q_text_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OutlinkExtractor (parse/OutlinkExtractor.java:56-120 via
    operators/parse.text_outlinks): plain-text URL extraction in
    document order — two scheme-ful URLs and a mailto per doc are
    found, the bare www. reference is not."""
    from nutch_spark.operators.parse import text_outlinks

    d = _docs(spark, sf_dir)
    n = _n_docs(d, sf_dir)
    did = F.col("doc_id")
    t1 = (did * 11 + 3) % n
    text = F.concat(
        F.lit("See "), _url20(t1),
        F.lit(" and also ftp://site"), (did % 9).cast("string"),
        F.lit(".org/pub/f"), (did % 4).cast("string"),
        F.lit(" but not www.bare-host.com alone; write mailto:u"),
        did.cast("string"), F.lit("@mail.example.org today."),
    )
    pages = d.select(_url20(did).alias("url"), text.alias("text"))
    return text_outlinks(pages)


def q_segment_fetch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """crawl_fetch merge resolution (SegmentMerger.java:478-494 via
    operators/merger.merge_crawl_fetch): three synthetic segments mix
    eligible fetch statuses with retry/notmodified and linked datums;
    the latest eligible fetch wins, ineligible-only urls drop."""
    from nutch_spark.operators.merger import merge_crawl_fetch

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    url = _url20(did)
    s1 = d.select(
        url.alias("url"),
        (33 + did % 6).cast("int").alias("status"),
        F.lit(10).cast("long").alias("fetch_time"),
    )
    s2 = d.filter(did % 2 == 0).select(
        url.alias("url"),
        # keyed off did//2 so the even-only filter still produces ALL of
        # {35,36,37,38} — did%4 over even dids never hits 36/38 and the
        # "latest segment ineligible, fall back to earlier fetch" path
        # would go untested
        (35 + (did / 2).cast("long") % 4).cast("int").alias("status"),
        F.lit(20).cast("long").alias("fetch_time"),
    )
    s3 = d.filter(did % 5 == 0).select(
        url.alias("url"),
        F.lit(0x43).cast("int").alias("status"),  # linked: never wins
        F.lit(30).cast("long").alias("fetch_time"),
    )
    return merge_crawl_fetch([s1, s2, s3])


def q_index_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IndexerMapReduce add/delete resolution (IndexerMapReduce.java:
    299-340 via operators/indexer.index_actions): a status-rich crawldb
    (every doc_id%12 bucket) against parse output for 2 of every 3
    docs; gone/redirects delete without parse, duplicates only with
    it, notmodified rows are skipped, fetched+parsed rows add."""
    from nutch_spark.operators.indexer import index_actions

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    s = did % 12
    status = (
        F.when(s < 5, 1)
        .when(s < 8, 2)
        .when(s == 8, 6)
        .when(s == 9, 3)
        # (did//12)%2, NOT did%2: doc_id%12==10 forces did even, so a
        # did%2 split would leave status 5 (db_redir_perm) unreachable
        .when(s == 10, F.when((did / 12).cast("long") % 2 == 0, 4).otherwise(5))
        .otherwise(7)
    ).cast("int")
    url = _url20(did)
    db = d.select(url.alias("url"), status.alias("status"))
    parse_text = d.filter(did % 3 != 0).select(
        url.alias("url"), F.substring("text", 1, 50).alias("text")
    )
    return index_actions(db, parse_text, delete=True, skip_notmodified=True)


def q_reverse_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableUtil reversed-url storage keys (util/TableUtil.java:41-140
    via urls/urlutil): port and query variants reverse to the
    domain-clustered key form and round-trip back exactly."""
    from nutch_spark.urls.urlutil import reverse_url_col, unreverse_url_col

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    url = F.concat(
        F.lit("http://host"), (did % 20).cast("string"),
        F.lit(".example.com"),
        F.when(did % 4 == 0, F.lit(":8983")).otherwise(F.lit("")),
        F.lit("/doc/"), did.cast("string"),
        F.when(
            did % 2 == 0, F.concat(F.lit("?a="), (did % 3).cast("string"))
        ).otherwise(F.lit("")),
    )
    pages = d.select(url.alias("url"))
    rev = reverse_url_col(F.col("url"))
    return pages.select(
        "url",
        rev.alias("reversed"),
        (unreverse_url_col(rev) == F.col("url")).alias("roundtrip_ok"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _with_engine_conf(v) for k, v in _QUERIES.items()}


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "inject_merge": q_inject,
        "generate_quota": q_generate,
        "updatedb_states": q_updatedb,
        "updatedb_adaptive": q_updatedb_adaptive,
        "updatedb_incremental": q_updatedb_incremental,
        "merge_crawldbs": q_merge_crawldbs,
        "dedup_mark": q_dedup,
        "linkdb_invert": q_linkdb,
        "linkdb_merge": q_linkdb_merge,
        "readdb_dump": q_readdb_dump,
        "jexl_dump": q_jexl_dump,
        "mark_generated": q_mark_generated,
        "crawldb_stats": q_stats,
        "readdb_topn": q_topn,
        "hostdb_stats": q_hostdb,
        "readhostdb_expr": q_readhostdb_expr,
        "crawldb_404_purge": q_crawldb_404_purge,
        "urlfilter_domain": q_urlfilter_domain,
        "sitemap_merge": q_sitemap,
        "domain_stats": q_domain_stats,
        "suffix_stats": q_suffix_stats,
        "segment_merge": q_segment_merge,
        "free_generate": q_free_generate,
        "text_profile_sig": q_text_profile_sig,
        "linkrank": q_linkrank,
        "link_dump": q_link_dump,
        "text_analysis": q_text_analysis,
        "quality_score": q_quality,
        "exact_dup_groups": q_exact_dups,
        "ngram_jaccard": q_ngram_jaccard,
        "embedding_topk": q_embedding_topk,
        "depth_gate": q_depth_gate,
        "urlnorm_extras": q_urlnorm_extras,
        "commoncrawl_export": q_commoncrawl_export,
        "gopher_quality": q_gopher_quality,
        "parsefilter_regex": q_parsefilter_regex,
        "first_seen": q_first_seen,
        "gopher_repetition": q_gopher_repetition,
        "events_window": q_events_window,
        "sessionize": q_sessionize,
        "crawl_cycle": q_crawl_cycle,
        "fetch_politeness": q_fetch_politeness,
        "fetch_politeness_byip": q_fetch_politeness_byip,
        "fetch_throughput": q_fetch_throughput,
        "bandwidth_trajectory": q_bandwidth_trajectory,
        "fetch_depth_follow": q_fetch_depth_follow,
        "fetch_statuses": q_fetch_statuses,
        "parse_outlinks": q_parse_outlinks,
        "span_signature": q_span_signature,
        "meta_directives": q_meta_directives,
        "parse_meta_effects": q_parse_meta_effects,
        "warc_export": q_warc_export,
        "index_docs": q_index_docs,
        "exchange_routes": q_exchange_routes,
        "index_filters": q_index_filters,
        "urlfilter_validator": q_urlfilter_validator,
        "orphan_scoring": q_orphan_scoring,
        "similarity_score": q_similarity_score,
        "metadata_scoring": q_metadata_scoring,
        "parse_filter_battery": q_parse_filter_battery,
        "index_csv": q_index_csv,
        "minhash_near_dups": q_minhash_dups,
        "simhash_near_dups": q_simhash_dups,
        "simhash64_near_dups": q_simhash64_dups,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "multimodal_features": q_multimodal,
        "nb_focus_filter": q_nb_focus,
        "feed_parse": q_feed_parse,
        "js_outlinks": q_js_outlinks,
        "geoip_index": q_geoip_index,
        "zip_parse": q_zip_parse,
        "fetch_events": q_fetch_events,
        "protocol_status_stats": q_protocol_status_stats,
        "crawl_summary": q_crawl_summary,
        "dmoz_seeds": q_dmoz_seeds,
        "text_outlinks": q_text_outlinks,
        "segment_fetch_merge": q_segment_fetch_merge,
        "index_actions": q_index_actions,
        "reverse_url": q_reverse_url,
        "lang_detect": q_lang_detect,
        "lang_identify": q_lang_identify,
        "arc_ingest": q_arc_ingest,
        "detect_encoding": q_detect_encoding,
        "http_dates": q_http_dates,
        "header_spellcheck": q_header_spellcheck,
        "trie_url_gate": q_trie_url_gate,
        "ext_parse": q_ext_parse,
        "charset_sniff": q_charset_sniff,
        "mime_resolve": q_mime_resolve,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_LANGS = {
    "en": ["the", "and", "with", "that"],
    "de": ["der", "die", "und", "nicht"],
    "fr": ["les", "des", "est", "une"],
    "es": ["los", "las", "que", "para"],
}


def _cnt_sql(word: str, col: str = "lower(COALESCE(text, ''))") -> str:
    return f"(len(regexp_split_to_array({col}, '\\b{word}\\b')) - 1)"


def _lang_cnt(lang: str) -> str:
    return "(" + " + ".join(_cnt_sql(w) for w in _LANGS[lang]) + ")"


# fold an n-hex-char string into its unsigned integer value (DuckDB has
# no conv(); strpos over the hex alphabet is exact and branch-free)
def _hexfold(h: str) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({h}, ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), "
        "(a, b) -> a * 16 + b)"
    )


# Generator.HashComparator.hash (Generator.java:627-634): signed-int32
# Horner fold over the REVERSED utf-8 bytes, init 1 — ASCII URLs, so
# byte == code point and unicode() is exact
_URLHASH_SQL = (
    "list_reduce(list_prepend(CAST(1 AS BIGINT), "
    "list_transform(string_split(reverse(url), ''), "
    "c -> CAST(unicode(c) AS BIGINT))), "
    "(a, b) -> ((31 * a + b + 2147483648) % 4294967296 + 4294967296) "
    "% 4294967296 - 2147483648)"
)

# doubled-docs + normalized text + distinct word-3-shingles — the same
# CTE chain the (green) ngram_jaccard oracle uses
_SHINGLE_CTES = """
dd AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
),
norm AS (
  SELECT doc_id, regexp_replace(trim(lower(COALESCE(text, ''))), '\\s+', ' ', 'g') AS nt FROM dd
),
w AS (SELECT doc_id, nt, string_split(nt, ' ') AS words FROM norm),
g AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
         THEN list_distinct(list_transform(range(1, len(words) - 1),
              i -> array_to_string(words[i:i+2], ' ')))
         ELSE [nt] END AS grams
  FROM w
)"""


def _minhash_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.8) -> str:
    """DuckDB twin of ml/dedup.py minhash_near_duplicates: md5-derived
    signature (h_i = 8-hex slice of md5((i//4) || ':' || shingle)),
    md5 band values, bucket-join candidates, true-Jaccard verify."""
    rows = num_hashes // bands
    return f"""
WITH {_SHINGLE_CTES},
sig AS (
  SELECT doc_id, grams,
    list_transform(generate_series(0, {num_hashes - 1}), i ->
      list_min(list_transform(grams, s ->
        substr(md5(CAST(i // 4 AS VARCHAR) || ':' || s), (i % 4) * 8 + 1, 8)))) AS sig
  FROM g
),
bx AS (SELECT doc_id, sig, unnest(generate_series(0, {bands - 1})) AS b FROM sig),
bands AS (
  SELECT doc_id, b AS band_idx,
    md5(array_to_string(list_slice(sig, b * {rows} + 1, b * {rows} + {rows}), ',')) AS band_val
  FROM bx
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM bands a JOIN bands b2
    ON a.band_idx = b2.band_idx AND a.band_val = b2.band_val AND a.doc_id < b2.doc_id
),
j AS (
  SELECT c.doc_a, c.doc_b,
    round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
      / (len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams))), 6)
      AS jaccard
  FROM cand c
  JOIN g ga ON ga.doc_id = c.doc_a
  JOIN g gb ON gb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= {threshold}
"""


def _simhash_oracle(max_hamming: int = 3) -> str:
    """DuckDB twin of ml/dedup.py simhash_near_duplicates: per-token
    32-bit md5 hash, per-bit majority vote, byte-band pigeonhole
    bucketing, Hamming verify."""
    ones = ",\n    ".join(
        f"SUM(CASE WHEN (h & {1 << b}) <> 0 THEN 1 ELSE 0 END) AS o{b}"
        for b in range(32)
    )
    sh_sum = " + ".join(
        f"CASE WHEN 2 * o{b} > n THEN {1 << b} ELSE 0 END" for b in range(32)
    )
    return f"""
WITH dd AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
),
norm AS (
  SELECT doc_id, regexp_replace(trim(lower(COALESCE(text, ''))), '\\s+', ' ', 'g') AS nt FROM dd
),
w AS (SELECT doc_id, list_filter(string_split(nt, ' '), x -> x <> '') AS ws FROM norm),
tok AS (SELECT doc_id, unnest(ws) AS tok FROM w),
th AS (SELECT doc_id, {_hexfold("substr(md5(tok), 1, 8)")} AS h FROM tok),
bits AS (
  SELECT doc_id, COUNT(*) AS n,
    {ones}
  FROM th GROUP BY doc_id
),
shv AS (SELECT doc_id, CAST({sh_sum} AS BIGINT) AS sh FROM bits),
allsh AS (
  SELECT w.doc_id, COALESCE(s.sh, 0) AS sh
  FROM w LEFT JOIN shv s ON w.doc_id = s.doc_id
),
bx AS (SELECT doc_id, sh, unnest(generate_series(0, 3)) AS band_idx FROM allsh),
bands AS (
  SELECT doc_id, sh, band_idx, (sh >> (8 * band_idx)) & 255 AS band_val FROM bx
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


def _simhash64_oracle(max_hamming: int = 3) -> str:
    """DuckDB twin of ml/dedup.py simhash64_near_duplicates: per-token
    64-bit md5 hash as two 32-bit halves (hex chars 1-8 / 9-16 — no
    BIGINT overflow on either engine), per-bit majority vote, four
    16-bit pigeonhole bands, Hamming verify summed over the halves."""
    ones = ",\n    ".join(
        [
            f"SUM(CASE WHEN (hlo & {1 << b}) <> 0 THEN 1 ELSE 0 END) AS o{b}"
            for b in range(32)
        ]
        + [
            f"SUM(CASE WHEN (hhi & {1 << b}) <> 0 THEN 1 ELSE 0 END) AS o{b + 32}"
            for b in range(32)
        ]
    )
    lo_sum = " + ".join(
        f"CASE WHEN 2 * o{b} > n THEN {1 << b} ELSE 0 END" for b in range(32)
    )
    hi_sum = " + ".join(
        f"CASE WHEN 2 * o{b + 32} > n THEN {1 << b} ELSE 0 END" for b in range(32)
    )
    return f"""
WITH dd AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
),
norm AS (
  SELECT doc_id, regexp_replace(trim(lower(COALESCE(text, ''))), '\\s+', ' ', 'g') AS nt FROM dd
),
w AS (SELECT doc_id, list_filter(string_split(nt, ' '), x -> x <> '') AS ws FROM norm),
tok AS (SELECT doc_id, unnest(ws) AS tok FROM w),
th AS (
  SELECT doc_id,
    {_hexfold("substr(md5(tok), 1, 8)")} AS hlo,
    {_hexfold("substr(md5(tok), 9, 8)")} AS hhi
  FROM tok
),
bits AS (
  SELECT doc_id, COUNT(*) AS n,
    {ones}
  FROM th GROUP BY doc_id
),
shv AS (
  SELECT doc_id, CAST({lo_sum} AS BIGINT) AS sh_lo, CAST({hi_sum} AS BIGINT) AS sh_hi
  FROM bits
),
allsh AS (
  SELECT w.doc_id, COALESCE(s.sh_lo, 0) AS sh_lo, COALESCE(s.sh_hi, 0) AS sh_hi
  FROM w LEFT JOIN shv s ON w.doc_id = s.doc_id
),
bx AS (SELECT doc_id, sh_lo, sh_hi, unnest(generate_series(0, 3)) AS band_idx FROM allsh),
bands AS (
  SELECT doc_id, sh_lo, sh_hi, band_idx,
    CASE band_idx
      WHEN 0 THEN sh_lo & 65535
      WHEN 1 THEN (sh_lo >> 16) & 65535
      WHEN 2 THEN sh_hi & 65535
      ELSE (sh_hi >> 16) & 65535
    END AS band_val
  FROM bx
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) AS INTEGER) AS hamming
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


# ml/multimodal.py synth_media + _fake_features replay: bytes are the
# md5(ref || seed) digest repeated 4x, so folded[i] = 4 * digest_byte[i]
# and feature[i] = float32((4*b % 251) / 251) — REAL cast replicates the
# numpy float32 rounding exactly
_MULTIMODAL_ORACLE = f"""
WITH refs AS (
  SELECT DISTINCT 'http://host' || CAST(doc_id % 20 AS VARCHAR)
    || '.example.com/media/' || CAST(doc_id AS VARCHAR) || '.img' AS media_ref
  FROM documents
),
h AS (SELECT media_ref, md5(media_ref || '42') AS hx FROM refs),
ex AS (SELECT media_ref, hx, unnest(generate_series(0, 15)) AS i FROM h),
b AS (
  SELECT media_ref, CAST(i AS INTEGER) AS dim_idx,
    (strpos('0123456789abcdef', substr(hx, 2 * i + 1, 1)) - 1) * 16
      + strpos('0123456789abcdef', substr(hx, 2 * i + 2, 1)) - 1 AS byte
  FROM ex
)
SELECT media_ref, dim_idx,
  round(CAST(CAST(CAST((4 * byte) % 251 AS DOUBLE) / 251.0 AS REAL) AS DOUBLE), 6)
    AS feature_val
FROM b
"""


# q_fetch_politeness replay: 40 seed urls over 20 hosts, nothing gated
# (the /private/ disallow matches no /doc/ path; 8 s crawl-delay < the
# 30 s cap), no exceptions — so fetch_time is exactly cycle_start +
# per-host prefix sum of (latency + delay) in (url_hash, url) order
# (FetchItemQueue.java:119-170 virtual clock; delay = robots Crawl-Delay
# 8 s on hosts 0/11, else fetcher.server.delay 5 s)
_POLITENESS_CTES = f"""f AS (
  SELECT doc_id AS did, doc_id % 20 AS host_id,
    'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS url
  FROM documents WHERE doc_id < 40
),
h AS (
  SELECT url, host_id, did,
    {_URLHASH_SQL} AS url_hash,
    CAST(CASE WHEN did % 17 = 0 THEN 37 WHEN did % 29 = 0 THEN 34
              WHEN did % 23 = 0 THEN 36 ELSE 33 END AS INTEGER) AS status,
    50 + did % 100 AS latency,
    CASE WHEN host_id % 11 = 0 THEN 8000 ELSE 5000 END AS delay_ms
  FROM f
),
c AS (
  SELECT url, status, latency,
    COALESCE(SUM(latency + delay_ms) OVER (
      PARTITION BY host_id ORDER BY url_hash, url
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
  FROM h
)"""

_FETCH_POLITENESS_ORACLE = f"""
WITH {_POLITENESS_CTES}
SELECT url, status, CAST({GEN_NOW} + pfx AS BIGINT) AS fetch_time FROM c
"""

# F9 depth-follow replay: wave 0 = the politeness clock above; parsed
# (status 33) pages emit two candidates each (pos 0: the link span's
# target doc, same-host only; pos 1: the media url). The alreadyFetched
# set is replayed as first-occurrence over the interleaved event stream
# (page-claims at pos -1, candidates at span pos) ordered by the wave-0
# virtual clock; string equality stands in for Java hashCode equality
# (no collision in this fixture). Wave 1 drains from each host's wave-0
# end-of-queue clock in FIFO APPEND order (the fold's emission order:
# source completion instant, then span pos); media urls have no
# outcome row => status 37 (gone/notfound), latency 0.
_FETCH_DEPTH_FOLLOW_ORACLE = f"""
WITH {_POLITENESS_CTES},
w0 AS (
  SELECT url, host_id, did, status, latency, delay_ms,
    CAST({GEN_NOW} + COALESCE(SUM(latency + delay_ms) OVER (
      PARTITION BY host_id ORDER BY url_hash, url
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS fetch_time
  FROM h
),
nn AS (SELECT COUNT(*) AS n FROM documents),
parsed AS (SELECT * FROM w0 WHERE status = 33),
cand AS (
  SELECT p.host_id, p.fetch_time AS t, 0 AS pos,
    'http://host' || CAST(((7 * p.did + 1) % nn.n) % 20 AS VARCHAR)
      || '.example.com/doc/' || CAST((7 * p.did + 1) % nn.n AS VARCHAR) AS url,
    (7 * p.did + 1) % nn.n AS tgt
  FROM parsed p, nn
  WHERE ((7 * p.did + 1) % nn.n) % 20 = p.host_id
  UNION ALL
  SELECT p.host_id, p.fetch_time, 1,
    'http://host' || CAST(p.host_id AS VARCHAR) || '.example.com/media/'
      || CAST(p.did AS VARCHAR) || '.img',
    CAST(NULL AS BIGINT)
  FROM parsed p
),
ev AS (
  SELECT host_id, url, fetch_time AS t, -1 AS pos, CAST(NULL AS BIGINT) AS tgt,
         FALSE AS is_cand
  FROM parsed
  UNION ALL
  SELECT host_id, url, t, pos, tgt, TRUE FROM cand
),
fw AS (
  SELECT *, row_number() OVER (PARTITION BY host_id, url ORDER BY t, pos) AS rn
  FROM ev
),
followed AS (SELECT host_id, url, tgt, t, pos FROM fw WHERE is_cand AND rn = 1),
qend AS (
  SELECT host_id, MAX(fetch_time + latency + delay_ms) AS qstart
  FROM w0 GROUP BY host_id
),
w1 AS (
  SELECT url, host_id, t, pos,
    CAST(CASE WHEN tgt IS NULL THEN 37
         WHEN tgt % 17 = 0 THEN 37 WHEN tgt % 29 = 0 THEN 34
         WHEN tgt % 23 = 0 THEN 36 ELSE 33 END AS INTEGER) AS status,
    CASE WHEN tgt IS NULL THEN 0 ELSE 50 + tgt % 100 END AS latency,
    CASE WHEN host_id % 11 = 0 THEN 8000 ELSE 5000 END AS delay_ms
  FROM followed
),
-- wave-1 drain order is the queue's FIFO APPEND order — the fold's
-- emission order (source completion instant, then span pos; the engine's
-- _fifo_seq) — not the wave-0 url-hash interleave
w1c AS (
  SELECT w1.url, w1.status,
    CAST(q.qstart + COALESCE(SUM(w1.latency + w1.delay_ms) OVER (
      PARTITION BY w1.host_id ORDER BY w1.t, w1.pos, w1.url
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS fetch_time
  FROM w1 JOIN qend q ON w1.host_id = q.host_id
)
SELECT url, status, fetch_time, CAST(0 AS INTEGER) AS outlink_depth FROM w0
UNION ALL
SELECT url, status, fetch_time, CAST(1 AS INTEGER) AS outlink_depth FROM w1c
"""

# publisher replay: START at cycle start with an empty eventData, END
# at the virtual-clock completion carrying the status name, REPORT only
# for successes (seed scores are 1.0 by construction); payloads rebuild
# Spark's to_json envelope byte-for-byte.
_FETCH_EVENTS_ORACLE = f"""
WITH {_POLITENESS_CTES},
fp AS (
  SELECT url, status, CAST({GEN_NOW} + pfx AS BIGINT) AS fetch_time FROM c
),
named AS (
  SELECT *, CASE status
    WHEN 33 THEN 'fetch_success' WHEN 34 THEN 'fetch_retry'
    WHEN 35 THEN 'fetch_redir_temp' WHEN 36 THEN 'fetch_redir_perm'
    WHEN 37 THEN 'fetch_gone' WHEN 38 THEN 'fetch_notmodified'
    ELSE 'status_' || CAST(status AS VARCHAR) END AS sname
  FROM fp
)
SELECT 'START' AS event_type, url,
       CAST({GEN_NOW} AS BIGINT) AS timestamp_ms,
       '{{"eventType":"START","url":"' || url
         || '","timestamp":{GEN_NOW},"eventData":{{}}}}' AS payload
FROM fp
UNION ALL
SELECT 'END', url, fetch_time,
       '{{"eventType":"END","url":"' || url || '","timestamp":'
         || CAST(fetch_time AS VARCHAR)
         || ',"eventData":{{"status":"' || sname || '"}}}}'
FROM named
UNION ALL
SELECT 'REPORT', url, fetch_time,
       '{{"eventType":"REPORT","url":"' || url || '","timestamp":'
         || CAST(fetch_time AS VARCHAR)
         || ',"eventData":{{"score":"1.0","fetchTime":"'
         || CAST(fetch_time AS VARCHAR) || '"}}}}'
FROM fp WHERE status = 33
"""

# byIP politeness replay: queue = ip = host_id DIV 2 (hosts pair up on
# one clock); host19 has no dns row => its rows are skipped
# (FetchItem.java:101-104, no host fallback); per-item delay still comes
# from the item's own host's robots Crawl-Delay
_FETCH_POLITENESS_BYIP_ORACLE = f"""
WITH {_POLITENESS_CTES},
q AS (
  SELECT h.url, h.status, h.latency, h.delay_ms, h.url_hash,
    h.host_id // 2 AS queue_id
  FROM h WHERE h.host_id <> 19
),
cq AS (
  SELECT url, status,
    COALESCE(SUM(latency + delay_ms) OVER (
      PARTITION BY queue_id ORDER BY url_hash, url
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
  FROM q
)
SELECT url, status, CAST({GEN_NOW} + pfx AS BIGINT) AS fetch_time FROM cq
"""

# WARC record replay: successes of the politeness fetch, record string
# rebuilt byte-for-byte — payload is the span serialization (same string
# the span_signature oracle digests), id = uuid-formatted
# md5(url|fetch_time), date from the clock (container tz is UTC on both
# engines; make_timestamp renders UTC-naive)
_WARC_ORACLE = f"""
WITH {_POLITENESS_CTES},
dn AS (SELECT COUNT(*) AS n FROM documents),
cc AS (
  SELECT did, url, status,
    COALESCE(SUM(latency + delay_ms) OVER (
      PARTITION BY host_id ORDER BY url_hash, url
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
  FROM h
),
b AS (
  SELECT cc.url, CAST({GEN_NOW} + cc.pfx AS BIGINT) AS ft, d.text,
    (cc.did * 7 + 1) % dn.n AS tgt, cc.did % 20 AS hh, cc.did
  FROM cc JOIN documents d ON d.doc_id = cc.did, dn
  WHERE cc.status = 33
),
p AS (
  SELECT url, ft,
    'text' || chr(30) || substr(text, 1, 120) || chr(30) || '' || chr(30) || '0'
    || chr(31) ||
    'link' || chr(30) || 'anchor ' || CAST(tgt AS VARCHAR) || chr(30)
      || 'http://host' || CAST(tgt % 20 AS VARCHAR) || '.example.com/doc/'
      || CAST(tgt AS VARCHAR) || chr(30) || '1'
    || chr(31) ||
    'media' || chr(30) || 'img' || chr(30)
      || 'http://host' || CAST(hh AS VARCHAR) || '.example.com/media/'
      || CAST(did AS VARCHAR) || '.img' || chr(30) || '2' AS payload
  FROM b
),
r AS (
  SELECT url, ft, payload, md5(url || '|' || CAST(ft AS VARCHAR)) AS hx FROM p
)
SELECT url,
  'WARC/1.0' || chr(13) || chr(10)
  || 'WARC-Record-ID: <urn:uuid:'
  || substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-' || substr(hx, 13, 4)
  || '-' || substr(hx, 17, 4) || '-' || substr(hx, 21, 12)
  || '>' || chr(13) || chr(10)
  || 'Content-Length: ' || CAST(strlen(payload) AS VARCHAR) || chr(13) || chr(10)
  || 'WARC-Date: ' || strftime(make_timestamp(ft * 1000), '%Y-%m-%dT%H:%M:%SZ')
  || chr(13) || chr(10)
  || 'WARC-Type: resource' || chr(13) || chr(10)
  || 'WARC-Target-URI: ' || replace(url, ' ', '%20') || chr(13) || chr(10)
  || chr(13) || chr(10)
  || payload || chr(13) || chr(10) || chr(13) || chr(10) AS record
FROM r
"""

# F10 replay on top of the politeness clock (single fetch partition):
# per-second completion counts; a second with < 1 completion is bad;
# the first run of 3 bad seconds kills the queues at (kill_sec+1)*1000
# and everything not yet started is drained (Fetcher.java:311-338)
_FETCH_THROUGHPUT_ORACLE = f"""
WITH {_POLITENESS_CTES},
ends AS (
  SELECT url, status, pfx,
    CAST(floor((pfx + latency) / 1000) AS BIGINT) AS sec
  FROM c
),
secs AS (SELECT sec, COUNT(*) AS n FROM ends GROUP BY sec),
grid AS (
  SELECT gs.sec, COALESCE(secs.n, 0) AS n
  FROM (SELECT unnest(generate_series(0, (SELECT MAX(sec) FROM secs))) AS sec) gs
  LEFT JOIN secs ON gs.sec = secs.sec
),
runs AS (
  SELECT sec, sec - COALESCE(MAX(CASE WHEN n >= 1 THEN sec END) OVER (
    ORDER BY sec ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS run
  FROM grid
),
kill AS (SELECT MIN(sec) AS kill_sec FROM runs WHERE run >= 3)
SELECT url, status, CAST({GEN_NOW} + pfx AS BIGINT) AS fetch_time
FROM ends, kill
WHERE kill.kill_sec IS NULL OR pfx < (kill.kill_sec + 1) * 1000
"""

# F11 controller replay (q_bandwidth_trajectory): the politeness clock
# with server delay 11 s (robots crawl-delay 8 s for host%11=0), then
# the sequential thread state as a recursive CTE — check k sees the
# cumulative bytes of completions with end <= k*3000 and the count of
# queues whose last item is still pending; bps/avg/spawn/halt use
# truncating integer division exactly like Fetcher.java:345-404
# (target 150_000 bits/s, threads0 4, maxNum 12, maxThreadsPerQueue 1).
_BANDWIDTH_ORACLE = f"""
WITH RECURSIVE
f AS (
  SELECT doc_id AS did, doc_id % 20 AS host_id,
    'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS url
  FROM documents WHERE doc_id < 40
),
h AS (
  SELECT url, host_id, {_URLHASH_SQL} AS url_hash,
    50 + did % 100 AS latency,
    CASE WHEN host_id % 11 = 0 THEN 8000 ELSE 11000 END AS delay_ms
  FROM f
),
comp AS (
  SELECT host_id, latency * 120 AS bytes,
    COALESCE(SUM(latency + delay_ms) OVER (
      PARTITION BY host_id ORDER BY url_hash, url
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + latency AS end_off
  FROM h
),
ks AS (
  SELECT CAST(g.k AS BIGINT) AS k
  FROM (SELECT unnest(generate_series(1, 1000)) AS k) g, (SELECT MAX(end_off) AS max_end FROM comp) me
  WHERE g.k * 3000 < me.max_end
),
cumb AS (
  SELECT ks.k, COALESCE(SUM(c2.bytes), 0) AS cum
  FROM ks LEFT JOIN comp c2 ON c2.end_off <= ks.k * 3000 GROUP BY ks.k
),
qact AS (
  SELECT ks.k, COUNT(q.host_id) AS qcount
  FROM ks LEFT JOIN (
    SELECT host_id, MAX(end_off) AS qend FROM comp GROUP BY host_id
  ) q ON q.qend > ks.k * 3000
  GROUP BY ks.k
),
checks AS (SELECT cumb.k, cumb.cum, qact.qcount FROM cumb JOIN qact ON cumb.k = qact.k),
state AS (
  SELECT CAST(0 AS BIGINT) AS k, CAST(4 AS BIGINT) AS threads, CAST(0 AS BIGINT) AS cum
  UNION ALL
  SELECT c.k,
    s.threads + CASE
      WHEN ((c.cum - s.cum) * 8) // 2 < 150000
           AND (((c.cum - s.cum) * 8) // 2) // s.threads > 0
           AND c.qcount > s.threads
        THEN LEAST(
          (150000 - ((c.cum - s.cum) * 8) // 2)
            // ((((c.cum - s.cum) * 8) // 2) // s.threads),
          12 - s.threads)
      WHEN ((c.cum - s.cum) * 8) // 2 > 150000
           AND (((c.cum - s.cum) * 8) // 2) // s.threads > 0
        THEN -(CASE
          WHEN (((c.cum - s.cum) * 8) // 2 - 150000)
                 // ((((c.cum - s.cum) * 8) // 2) // s.threads) >= s.threads
          THEN 0
          ELSE (((c.cum - s.cum) * 8) // 2 - 150000)
                 // ((((c.cum - s.cum) * 8) // 2) // s.threads) END)
      ELSE 0 END,
    c.cum
  FROM state s JOIN checks c ON c.k = s.k + 1
)
SELECT CAST(c.k AS INTEGER) AS check_idx,
  CAST({GEN_NOW} + c.k * 3000 AS BIGINT) AS check_ms,
  CAST(c.cum AS BIGINT) AS bytes_total,
  CAST(((c.cum - s0.cum) * 8) // 2 AS BIGINT) AS bps,
  CAST((((c.cum - s0.cum) * 8) // 2) // s0.threads AS BIGINT) AS avg_bps_per_thread,
  CAST(c.qcount AS INTEGER) AS queue_count,
  CAST(s0.threads AS INTEGER) AS threads_before,
  CAST(s1.threads - s0.threads AS INTEGER) AS delta_threads,
  CAST(s1.threads AS INTEGER) AS threads_after
FROM checks c
JOIN state s0 ON s0.k = c.k - 1
JOIN state s1 ON s1.k = c.k
"""


# Two-cycle crawl replay (q_crawl_cycle) over integer doc ids. The
# output drops fetch_time, so the politeness clock is irrelevant here;
# what the oracle must replay is the status machine, the OPIC link
# graph, and the schedules:
# - cycle-1 seeds d<40: outcome gone(d%17)/retry(d%29)/moved(d%23)/
#   success; success parses 2 outlinks (doc (7d+1)%n at score/2, own
#   media at score/2); moved emits a 0-score redirect link to (d+1)%n.
# - updatedb: success->fetched(iv default), moved->redir_perm,
#   retry->unfetched(retries+1, fetch_time +1d so NOT re-eligible in
#   cycle 2), gone->gone(iv*1.5=3888000); linked-new -> unfetched at
#   score=sum(inlinks); linked-onto-old keeps fields, score+=sum.
# - cycle 2 generates the cycle-1 discoveries (fetch_time=U1 <= now2);
#   media urls have no scripted outcome => fetch GONE (the unknown-url
#   rule); the rest replays identically with halved link scores.
# All scores are dyadic (1.0/0.5/0.25 sums) => float32 == double.
_CRAWL_CYCLE_ORACLE = """
WITH params AS (SELECT COUNT(*) AS n FROM documents),
o1 AS (
  SELECT doc_id AS d,
    CASE WHEN doc_id % 17 = 0 THEN 'gone' WHEN doc_id % 29 = 0 THEN 'retry'
         WHEN doc_id % 23 = 0 THEN 'moved' ELSE 'success' END AS oc
  FROM documents WHERE doc_id < 40
),
s1 AS (SELECT d FROM o1 WHERE oc = 'success'),
l1 AS (
  SELECT (d * 7 + 1) % n AS t, 0.5 AS sc FROM s1, params
  UNION ALL
  SELECT (d + 1) % n AS t, 0.0 AS sc FROM o1, params WHERE oc = 'moved'
),
l1agg AS (SELECT t, SUM(sc) AS ls FROM l1 GROUP BY t),
db1_doc AS (
  SELECT o.d AS id,
    CASE oc WHEN 'success' THEN 2 WHEN 'moved' THEN 5
            WHEN 'retry' THEN 1 ELSE 3 END AS status,
    CASE oc WHEN 'retry' THEN 1 ELSE 0 END AS retries,
    CASE oc WHEN 'gone' THEN 3888000 ELSE 2592000 END AS iv,
    1.0 + COALESCE(l.ls, 0) AS score,
    FALSE AS g2
  FROM o1 o LEFT JOIN l1agg l ON l.t = o.d
  UNION ALL
  SELECT l.t, 1, 0, 2592000, l.ls, TRUE
  FROM l1agg l LEFT JOIN o1 o ON o.d = l.t WHERE o.d IS NULL
),
db1_media AS (SELECT d AS id, 0.5 AS score FROM s1),
o2 AS (
  SELECT id, score,
    CASE WHEN id % 17 = 0 THEN 'gone' WHEN id % 29 = 0 THEN 'retry'
         WHEN id % 23 = 0 THEN 'moved' ELSE 'success' END AS oc
  FROM db1_doc WHERE status = 1 AND g2
),
s2 AS (SELECT id, score FROM o2 WHERE oc = 'success'),
l2 AS (
  SELECT (id * 7 + 1) % n AS t, score / 2 AS sc FROM s2, params
  UNION ALL
  SELECT (id + 1) % n AS t, 0.0 AS sc FROM o2, params WHERE oc = 'moved'
),
l2agg AS (SELECT t, SUM(sc) AS ls FROM l2 GROUP BY t),
l2magg AS (SELECT id AS t, score / 2 AS ls FROM s2),
db2_doc AS (
  SELECT b.id,
    CASE WHEN f.oc IS NULL THEN b.status
         WHEN f.oc = 'success' THEN 2 WHEN f.oc = 'moved' THEN 5
         WHEN f.oc = 'retry' THEN 1 ELSE 3 END AS status,
    CASE WHEN f.oc IS NULL THEN b.retries
         WHEN f.oc = 'retry' THEN b.retries + 1
         WHEN f.oc = 'gone' THEN b.retries ELSE 0 END AS retries,
    CASE WHEN f.oc IS NULL THEN b.iv
         WHEN f.oc = 'gone' THEN 3888000
         WHEN f.oc = 'retry' THEN b.iv ELSE 2592000 END AS iv,
    CASE WHEN f.oc IS NULL AND l.ls IS NULL THEN b.score
         ELSE b.score + COALESCE(l.ls, 0) END AS score
  FROM db1_doc b
  LEFT JOIN o2 f ON f.id = b.id
  LEFT JOIN l2agg l ON l.t = b.id
  UNION ALL
  SELECT l.t, 1, 0, 2592000, l.ls
  FROM l2agg l LEFT JOIN db1_doc b ON b.id = l.t WHERE b.id IS NULL
),
db2_media AS (
  SELECT id, 3 AS status, 0 AS retries, 3888000 AS iv, score FROM db1_media
  UNION ALL
  SELECT m.t, 1, 0, 2592000, m.ls
  FROM l2magg m LEFT JOIN db1_media b ON b.id = m.t WHERE b.id IS NULL
)
SELECT
  'http://host' || CAST(id % 20 AS VARCHAR) || '.example.com/doc/'
    || CAST(id AS VARCHAR) AS url,
  CAST(status AS INTEGER) AS status, CAST(retries AS INTEGER) AS retries,
  CAST(iv AS INTEGER) AS fetch_interval, CAST(score AS DOUBLE) AS score
FROM db2_doc
UNION ALL
SELECT
  'http://host' || CAST(id % 20 AS VARCHAR) || '.example.com/media/'
    || CAST(id AS VARCHAR) || '.img' AS url,
  CAST(status AS INTEGER), CAST(retries AS INTEGER),
  CAST(iv AS INTEGER), CAST(score AS DOUBLE)
FROM db2_media
"""


def _plane_dot_sql(emb: str, plane: list[float]) -> str:
    lits = ", ".join(repr(v) for v in plane)
    return (
        f"list_reduce(list_transform(list_zip({emb}, [{lits}]), "
        "z -> z[1] * z[2]), (x, y) -> x + y)"
    )


def _bucket_sql(emb: str, t: int, dim: int, n_bits: int) -> str:
    """Sign-LSH bucket id as SQL: the hyperplane components are the same
    deterministic Python floats ml/similarity.py bakes into the Spark
    plan, inlined here as literals."""
    from nutch_spark.ml.similarity import _hyperplane

    terms = [
        f"CASE WHEN {_plane_dot_sql(emb, [_hyperplane(dim, t, b, d) for d in range(dim)])}"
        f" > 0 THEN {1 << b} ELSE 0 END"
        for b in range(n_bits)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _lsh_oracle(dim: int = 64, n_bits: int = 6, tables: int = 2, k: int = 10) -> str:
    """DuckDB twin of ml/similarity.py lsh_bucket_topk: exact replay of
    the sign-bit bucketing; candidate pairs are re-ranked by the same
    sequential-fold cosine as embedding_topk."""

    def bucket_sql(emb: str, t: int) -> str:
        return _bucket_sql(emb, t, dim, n_bits)

    cb = " UNION ALL ".join(
        f"SELECT vec_id, emb, {t} AS t, {bucket_sql('emb', t)} AS bucket FROM e"
        for t in range(tables)
    )
    qb = " UNION ALL ".join(
        f"SELECT query_id, qe, {t} AS t, {bucket_sql('qe', t)} AS bucket FROM q"
        for t in range(tables)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 8),
cb AS ({cb}),
qb AS ({qb}),
cand AS (
  SELECT DISTINCT qb.query_id, cb.vec_id
  FROM cb JOIN qb ON cb.t = qb.t AND cb.bucket = qb.bucket
    AND cb.vec_id <> qb.query_id
),
p AS (
  SELECT c.query_id, c.vec_id,
    list_reduce(list_transform(list_zip(e.emb, q.qe), z -> z[1] * z[2]),
                (x, y) -> x + y) AS dp,
    sqrt(list_reduce(list_transform(e.emb, x -> x * x), (x, y) -> x + y)) AS na,
    sqrt(list_reduce(list_transform(q.qe, x -> x * x), (x, y) -> x + y)) AS nq
  FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id
),
r AS (
  SELECT query_id, vec_id, CASE WHEN na * nq = 0 THEN 0.0 ELSE round(dp / (na * nq), 6) END AS cosine_sim,
    CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY (CASE WHEN na * nq = 0 THEN 0.0 ELSE round(dp / (na * nq), 6) END) DESC, vec_id ASC
    ) AS INTEGER) AS rank
  FROM p
)
SELECT query_id, vec_id, cosine_sim, rank FROM r WHERE rank <= {k}
"""


def _embedding_near_dup_oracle(
    threshold: float = 0.9, dim: int = 64, n_bits: int = 6, tables: int = 2
) -> str:
    """DuckDB twin of ml/similarity.py embedding_near_duplicates over the
    doubled corpus (original + per-component +0.03125 shifted copy)."""
    cb = " UNION ALL ".join(
        f"SELECT vec_id, emb, {t} AS t, {_bucket_sql('emb', t, dim, n_bits)} AS bucket FROM e"
        for t in range(tables)
    )
    return f"""
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
e AS (
  SELECT vec_id, emb FROM e0
  UNION ALL
  SELECT vec_id + 100000, list_transform(emb, x -> x + 0.03125) FROM e0
),
cb AS ({cb}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM cb a JOIN cb b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
p AS (
  SELECT c.vec_a, c.vec_b,
    CASE WHEN sqrt(list_reduce(list_transform(ea.emb, x -> x * x), (x, y) -> x + y))
         * sqrt(list_reduce(list_transform(eb.emb, x -> x * x), (x, y) -> x + y)) = 0
    THEN 0.0 ELSE round(
      list_reduce(list_transform(list_zip(ea.emb, eb.emb), z -> z[1] * z[2]),
                  (x, y) -> x + y)
      / (sqrt(list_reduce(list_transform(ea.emb, x -> x * x), (x, y) -> x + y))
         * sqrt(list_reduce(list_transform(eb.emb, x -> x * x), (x, y) -> x + y))),
      6) END AS cosine_sim
  FROM cand c JOIN e ea ON ea.vec_id = c.vec_a JOIN e eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cosine_sim FROM p WHERE cosine_sim >= {threshold}
"""


# validator/automaton replay: the verdicts are known analytically per
# url-variant branch, so the oracle states the expected truth table
# rather than re-running the regex battery
_URLFILTER_VALIDATOR_ORACLE = """
SELECT
  CASE
    WHEN doc_id % 7 = 0 THEN
      'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
        || CAST(doc_id AS VARCHAR)
        || CASE WHEN doc_id % 2 = 0 THEN '.png' ELSE '.html' END
    WHEN doc_id % 7 = 1 THEN 'http://999.000.456.32/doc/' || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 7 = 2 THEN 'http://10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
        || '/doc/' || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 7 = 3 THEN 'example.com/doc/' || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 7 = 4 THEN 'http://host.example.com/sp ace/' || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 7 = 5 THEN 'http://x.example.com:123456/doc/' || CAST(doc_id AS VARCHAR)
    ELSE 'http://singlehost/doc/' || CAST(doc_id AS VARCHAR)
  END AS url,
  doc_id % 7 IN (0, 2) AS valid,
  CASE WHEN doc_id % 7 = 0 THEN doc_id % 2 <> 0
       WHEN doc_id % 7 = 3 THEN FALSE
       ELSE TRUE END AS auto_accept
FROM documents
"""


# scoring-orphan replay: %3==0 rows are inlinked (stamp refreshed to
# now, status untouched); the rest age their stamp — 46d > 40d orphan,
# 35d > 30d gone, 5d untouched, %4==3 never stamped
def _orphan_oracle() -> str:
    n = _ORPHAN_NOW_S
    return f"""
WITH {_CRAWLDB_CTE}
SELECT url,
  CAST(CASE WHEN doc_id % 3 = 0 THEN status
       WHEN doc_id % 4 = 0 THEN 8
       WHEN doc_id % 4 = 1 THEN 3
       ELSE status END AS INTEGER) AS status,
  CAST(CASE WHEN doc_id % 3 = 0 THEN {n}
       WHEN doc_id % 4 = 0 THEN {n - 46 * 86400}
       WHEN doc_id % 4 = 1 THEN {n - 35 * 86400}
       WHEN doc_id % 4 = 2 THEN {n - 5 * 86400}
       END AS BIGINT) AS orphan_ts
FROM crawldb
"""


# scoring-similarity replay: same tokenizer ([a-z0-9]+ on lower),
# same gold TF vector compiled from _SIM_GOLD; dot and norm2 are
# integer-valued, so the double division is order-independent
def _similarity_oracle() -> str:
    from nutch_spark.operators.scoring import _term_freqs

    stop = frozenset(w.lower() for w in _SIM_STOP)
    gold = _term_freqs(_SIM_GOLD, stop)
    gold_norm = math.sqrt(sum(v * v for v in gold.values()))
    gold_case = (
        "CASE word "
        + " ".join(f"WHEN '{w}' THEN {v}" for w, v in sorted(gold.items()))
        + " ELSE 0 END"
    )
    stop_pred = " AND ".join(f"word <> '{w}'" for w in sorted(stop))
    return f"""
WITH t AS (
  SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS url,
    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
),
c AS (SELECT url, word, count(*) AS tf FROM t WHERE {stop_pred} GROUP BY 1, 2),
p AS (
  SELECT url, SUM(tf * ({gold_case})) AS dot, SUM(tf * tf) AS norm2
  FROM c GROUP BY 1
),
a AS (
  SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS url
  FROM documents
)
SELECT a.url,
  round(COALESCE(
    CASE WHEN p.norm2 > 0
         THEN p.dot / (sqrt(CAST(p.norm2 AS DOUBLE)) * {gold_norm!r}) END,
    0.0), 6) AS score
FROM a LEFT JOIN p ON p.url = a.url
"""


# Indexing-filter battery replay: cleaned/detected mime (URLs carry no
# extension -> octet-stream fallback), date precedence, linkdb-capped
# anchors with case-insensitive keep-first dedup, hosts-only link
# fields, metadata splits, host-scoped title replace, prefix mime gate.
def _index_filters_oracle(lang_case: str, lang_counts: str) -> str:
    return f"""
WITH dn AS (SELECT COUNT(*) AS n FROM documents),
base AS (
  SELECT doc_id, text,
    'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS url,
    CAST(1700000000000 + (doc_id % 1000) * 3600000 AS BIGINT) AS fetch_time,
    {lang_counts}
  FROM documents
  WHERE doc_id % 10 BETWEEN 5 AND 8
),
o AS (
  SELECT d.doc_id, k.k, (d.doc_id * 7 + k.k * 13 + 1) % dn.n AS tid,
    d.doc_id % 40 AS fh,
    CASE WHEN d.doc_id % 2 = 0 THEN 'A' ELSE 'a' END
      || CAST(k.k AS VARCHAR) AS anchor
  FROM documents d, (SELECT unnest([0, 1, 2]) AS k) k, dn
),
lnk AS (
  SELECT 'http://host' || CAST(tid % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(tid AS VARCHAR) AS url,
    'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS from_url,
    'host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS from_host,
    anchor
  FROM o WHERE tid % 40 <> fh
),
dd AS (SELECT DISTINCT url, from_url, from_host, anchor FROM lnk),
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY url ORDER BY from_url, anchor) AS rn
    FROM dd
  ) WHERE rn <= 4
),
a1 AS (
  SELECT url, anchor, rn,
    min(rn) OVER (PARTITION BY url, lower(anchor)) AS mrn
  FROM capped
),
anch AS (
  SELECT url, string_agg(anchor, ' ' ORDER BY rn) AS anchors
  FROM a1 WHERE rn = mrn GROUP BY url
),
ins AS (
  SELECT url, string_agg(h, ' ' ORDER BY h) AS inlink_hosts FROM (
    SELECT DISTINCT url, from_host AS h FROM capped
  ) GROUP BY url
),
outs AS (
  SELECT url, string_agg(h, ' ' ORDER BY h) AS outlink_hosts FROM (
    SELECT DISTINCT
      'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
        || CAST(doc_id AS VARCHAR) AS url,
      'host' || CAST(tid % 40 AS VARCHAR) || '.example.com' AS h
    FROM o WHERE tid % 40 <> fh
  ) GROUP BY url
),
m AS (
  SELECT b.*,
    CASE WHEN doc_id % 5 = 0 THEN 'text/html'
         WHEN doc_id % 5 = 1 THEN 'application/pdf'
         WHEN doc_id % 5 = 3 THEN 'image/png'
         WHEN doc_id % 5 = 4 THEN 'text/html'
         ELSE 'application/octet-stream' END AS type,
    CASE WHEN doc_id % 4 = 0 THEN NULL
         ELSE CAST(doc_id * 17 AS VARCHAR) END AS content_length,
    CASE WHEN doc_id % 3 = 0
         THEN CAST(1700000000000 - doc_id * 1000 AS BIGINT) END AS last_modified
  FROM base b
)
SELECT m.url,
  type,
  string_split(type, '/')[1] AS type_primary,
  string_split(type, '/')[2] AS type_sub,
  content_length,
  last_modified,
  COALESCE(last_modified, fetch_time) AS "date",
  COALESCE(anch.anchors, '') AS anchors,
  COALESCE(outs.outlink_hosts, '') AS outlink_hosts,
  COALESCE(ins.inlink_hosts, '') AS inlink_hosts,
  CASE WHEN doc_id % 2 = 0 THEN 'c' || CAST(doc_id % 7 AS VARCHAR)
       ELSE '' END AS collector,
  'k1 k2 k' || CAST(doc_id % 5 AS VARCHAR) AS keywords,
  'auth' || CAST(doc_id % 11 AS VARCHAR) AS author,
  CASE WHEN doc_id % 40 BETWEEN 10 AND 19
       THEN regexp_replace(substring(text, 1, 40), '\\d+', '#', 'g')
  END AS title_norm,
  'nutch-spark' AS source,
  type NOT LIKE 'application%' AS mime_keep,
  'com' AS tld,
  {lang_case} AS lang
FROM m
LEFT JOIN anch ON anch.url = m.url
LEFT JOIN outs ON outs.url = m.url
LEFT JOIN ins ON ins.url = m.url
"""


def _lang_detect_oracle() -> str:
    """DuckDB twin of q_lang_detect: same markup synthesis, same
    signal-extraction regexes, same alias-map normalization
    (ml/langid.parse_language_sql generates the map fragment)."""
    from nutch_spark.ml.langid import (
        _DC_META_CN,
        _DC_META_NC,
        _EQUIV_CN,
        _EQUIV_NC,
        _LANG_ATTR,
        parse_language_sql,
    )

    def first(*pats: str) -> str:
        parts = [
            "nullif(regexp_extract(html, '{}', 1), '')".format(p.replace("'", "''"))
            for p in pats
        ]
        return "coalesce(" + ", ".join(parts) + ")" if len(parts) > 1 else parts[0]

    raws = ", ".join("'{}'".format(s.replace("'", "''")) for s in _LANG_RAW)
    return f"""
WITH base AS (
  SELECT doc_id, ([{raws}])[CAST(doc_id % {len(_LANG_RAW)} AS INTEGER) + 1] AS raw
  FROM documents
),
hdoc AS (
  SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
    WHEN 0 THEN '<html lang="' || raw || '"><body>t</body></html>'
    WHEN 1 THEN '<html><head><meta name="dc.language" content="' || raw || '"></head></html>'
    WHEN 2 THEN '<html><head><meta http-equiv="content-language" content="' || raw || '"></head></html>'
    ELSE '<html><body>no signal</body></html>' END AS html
  FROM base
),
sig AS (
  SELECT doc_id,
    {first(_LANG_ATTR)} AS lang_attr,
    {first(_DC_META_NC, _DC_META_CN)} AS dc_language,
    {first(_EQUIV_NC, _EQUIV_CN)} AS http_equiv_lang
  FROM hdoc
)
SELECT doc_id,
  coalesce({parse_language_sql('lang_attr')},
           {parse_language_sql('dc_language')},
           {parse_language_sql('http_equiv_lang')},
           'unknown') AS lang
FROM sig
"""


def _lang_identify_oracle() -> str:
    """DuckDB twin of q_lang_identify: identical normalization
    (letters-only, collapsed, space-padded), char trigrams, dot product
    against the shipped L2-normalized profiles (inlined as VALUES),
    scores rounded to 9 decimals before the argmax, ties to the
    ascending language code — lockstep with ml/langid.identify_text."""
    from nutch_spark.ml.langid import profile_sql_values

    return f"""
WITH norm AS (
  SELECT doc_id,
    ' ' || trim(regexp_replace(lower(coalesce(text, '')), '[^\\p{{L}}]+', ' ', 'g')) || ' ' AS nt
  FROM documents
),
grams AS (
  SELECT doc_id, substr(nt, CAST(i AS INTEGER), 3) AS gram
  FROM norm, unnest(range(1, length(nt) - 1)) AS t(i)
  WHERE length(nt) >= 3
),
scores AS (
  SELECT g.doc_id, p.lang, round(SUM(p.w), 9) AS score
  FROM grams g JOIN {profile_sql_values('p')} ON p.gram = g.gram
  GROUP BY g.doc_id, p.lang
),
best AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
  FROM scores WHERE score > 0
)
SELECT d.doc_id, coalesce(b.lang, 'unknown') AS lang_pred
FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
"""


def oracle_sql() -> dict[str, str]:
    lang_best = "GREATEST(" + ", ".join(f"c_{g}" for g in _LANGS) + ")"
    lang_case = "CASE WHEN " + lang_best + " <= 0 THEN 'und' " + " ".join(
        f"WHEN c_{g} = {lang_best} THEN '{g}'" for g in _LANGS
    ) + " ELSE 'und' END"
    lang_counts = ", ".join(f"{_lang_cnt(g)} AS c_{g}" for g in _LANGS)
    en_stop = _lang_cnt("en")

    oracles = _build_oracles(lang_best, lang_case, lang_counts, en_stop)
    # the incremental path must produce row-identical output to the
    # exact merge — same oracle, different physical plan
    oracles["updatedb_incremental"] = oracles["updatedb_states"]
    oracles["minhash_near_dups"] = _minhash_oracle()
    oracles["simhash_near_dups"] = _simhash_oracle()
    oracles["simhash64_near_dups"] = _simhash64_oracle()
    oracles["multimodal_features"] = _MULTIMODAL_ORACLE
    oracles["fetch_politeness"] = _FETCH_POLITENESS_ORACLE
    oracles["fetch_politeness_byip"] = _FETCH_POLITENESS_BYIP_ORACLE
    oracles["fetch_depth_follow"] = _FETCH_DEPTH_FOLLOW_ORACLE
    oracles["warc_export"] = _WARC_ORACLE
    oracles["fetch_throughput"] = _FETCH_THROUGHPUT_ORACLE
    oracles["bandwidth_trajectory"] = _BANDWIDTH_ORACLE
    oracles["crawl_cycle"] = _CRAWL_CYCLE_ORACLE
    oracles["lsh_topk"] = _lsh_oracle()
    oracles["ivf_topk"] = _IVF_TOPK_ORACLE
    oracles["depth_gate"] = _DEPTH_GATE_ORACLE
    oracles["urlnorm_extras"] = _URLNORM_EXTRAS_ORACLE
    oracles["commoncrawl_export"] = _COMMONCRAWL_ORACLE
    oracles["gopher_quality"] = _GOPHER_ORACLE
    oracles["gopher_repetition"] = _GOPHER_REP_ORACLE
    oracles["index_filters"] = _index_filters_oracle(lang_case, lang_counts)
    oracles["urlfilter_validator"] = _URLFILTER_VALIDATOR_ORACLE
    oracles["lang_detect"] = _lang_detect_oracle()
    oracles["lang_identify"] = _lang_identify_oracle()
    # ARC round-trip: the reader/extractor must hand back exactly the
    # bytes that went in; the .png records exercise the default
    # url-filter drop (image-extension rule), so they never surface
    oracles["arc_ingest"] = """
SELECT
  'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
    || CAST(doc_id AS VARCHAR) AS url,
  'text/html' AS mime,
  CAST(20260101000000 + doc_id AS VARCHAR) AS archive_date,
  md5(coalesce(text, '')) AS content_md5,
  CAST(strlen(coalesce(text, '')) AS INTEGER) AS n_bytes
FROM documents
WHERE doc_id % 9 <> 0
"""
    # EncodingDetector clue-walk: the detect clue (valid multibyte
    # UTF-8 in a detectable mime, confidence 80 >= 50) wins; ASCII
    # bodies (confidence 10) fall through to the alias-resolved header
    # charset (ISO-8859-1 corrected to windows-1252); else the default
    oracles["detect_encoding"] = """
WITH t AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN 'utf-16'
         WHEN doc_id % 5 = 1 THEN 'windows-1254'
         WHEN doc_id % 5 = 4 THEN 'windows-1252'
         END AS header_charset,
    doc_id % 2 = 0 AS detectable,
    octet_length(encode(coalesce(text, '')
      || CASE WHEN doc_id % 3 = 0 THEN ' é' ELSE '' END)) AS blen,
    length(coalesce(text, '')
      || CASE WHEN doc_id % 3 = 0 THEN ' é' ELSE '' END) AS clen
  FROM documents)
SELECT doc_id, header_charset,
  CASE WHEN detectable AND blen > 4 AND blen > clen THEN 'utf-8'
       ELSE coalesce(header_charset, 'windows-1252') END AS charset
FROM t
"""
    # HttpDateFormat round-trip: DuckDB strftime's C-locale %a/%b match
    # Spark's Locale.US EEE/MMM names; parse-back is the identity
    oracles["http_dates"] = """
SELECT o_orderkey,
  strftime(o_orderdate, '%a, %d %b %Y %H:%M:%S GMT') AS http_date,
  epoch_ms(o_orderdate) AS parsed_ms
FROM orders
"""
    # SpellCheckedMetadata: normalize (letters-only, lowered) -> best
    # vocabulary hit by min (levenshtein, canonical) — encoded as a
    # zero-padded "ddCanon" string so MIN() gives the same tie-break as
    # the Spark twin's array_min over struct(d, name) — gated by the
    # reference's strict min(3, len//3) threshold (exact hits have d=0,
    # which always passes: every vocabulary entry is >= 8 letters, so
    # the threshold at an exact match is >= 2)
    oracles["header_spellcheck"] = """
WITH raw AS (
  SELECT doc_id,
    CASE CAST(doc_id % 8 AS INT)
      WHEN 0 THEN 'Content-Type'  WHEN 1 THEN 'contentype'
      WHEN 2 THEN 'CoNtEntType'   WHEN 3 THEN 'contntype'
      WHEN 4 THEN 'ETag'          WHEN 5 THEN 'X-Custom-Header'
      WHEN 6 THEN 'last-modified' WHEN 7 THEN 'contentlenght'
    END AS raw_header
  FROM documents),
n AS (
  SELECT doc_id, raw_header,
    lower(regexp_replace(raw_header, '[^a-zA-Z]', '', 'g')) AS norm
  FROM raw),
v(nv, canon) AS (VALUES
  ('transferencoding', 'Transfer-Encoding'),
  ('clienttransferencoding', 'Client-Transfer-Encoding'),
  ('contentencoding', 'Content-Encoding'),
  ('contentlanguage', 'Content-Language'),
  ('contentlength', 'Content-Length'),
  ('contentlocation', 'Content-Location'),
  ('contentdisposition', 'Content-Disposition'),
  ('contentmd', 'Content-MD5'),
  ('contenttype', 'Content-Type'),
  ('lastmodified', 'Last-Modified'),
  ('location', 'Location'),
  ('ifmodifiedsince', 'If-Modified-Since'),
  ('useragent', 'User-Agent')),
best AS (
  SELECT n.doc_id, n.raw_header, n.norm,
    min(lpad(CAST(levenshtein(n.norm, v.nv) AS VARCHAR), 2, '0') || v.canon) AS b
  FROM n CROSS JOIN v GROUP BY 1, 2, 3)
SELECT doc_id, raw_header,
  CASE WHEN CAST(substr(b, 1, 2) AS INT) < LEAST(3, length(norm) // 3)
       THEN substr(b, 3) ELSE raw_header END AS header
FROM best
"""
    # trie url gate: structural replay of the synthetic construction —
    # the 80-prefix accept list covers host indices 0-19 (both schemes,
    # plus 40 never-matching mirror hosts), the suffix denylist is
    # .pdf/.exe case-insensitive
    # parse-ext: the two allowlisted stdin filters replay as SQL
    # expressions; the failure arms are pure case analysis on doc_id
    oracles["ext_parse"] = """
WITH t AS (
  SELECT doc_id, coalesce(text, '') AS body FROM documents
)
SELECT
  'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/'
    || CAST(doc_id AS VARCHAR) AS url,
  CASE CAST(doc_id % 4 AS INTEGER)
    WHEN 2 THEN 'failed'
    WHEN 3 THEN 'failed_truncated'
    ELSE 'success' END AS status,
  CASE CAST(doc_id % 4 AS INTEGER)
    WHEN 0 THEN md5(body) || '  -' || chr(10)
    WHEN 1 THEN body
    ELSE '' END AS text
FROM t
"""
    # statistical charset sniffer: ground-truth labels replayed
    # structurally (class = doc_id % 6; detection per class is a
    # deterministic constant — see q_charset_sniff)
    _cs_labels = ["windows-1251", "koi8-r", "shift_jis",
                  "x-windows-949", "gb18030", "utf-8"]
    _cs_case = " ".join(
        f"WHEN {i} THEN '{lab}'" for i, lab in enumerate(_cs_labels)
    )
    oracles["charset_sniff"] = f"""
SELECT doc_id,
  CAST(doc_id % 6 AS INTEGER) AS charset_class,
  CASE CAST(doc_id % 6 AS INTEGER) {_cs_case} END AS charset
FROM documents
"""
    # MIME resolution: ground truth replayed structurally (class =
    # doc_id % 8; header/ext/resolution per class are deterministic
    # constants — see q_mime_resolve / _MIME_CLASSES)
    _mm_hdr = " ".join(
        f"WHEN {i} THEN " + ("NULL" if h is None else f"'{h}'")
        for i, (_, h, _, _) in enumerate(_MIME_CLASSES)
    )
    _mm_ext = " ".join(
        f"WHEN {i} THEN '{e}'" for i, (_, _, e, _) in enumerate(_MIME_CLASSES)
    )
    _mm_res = " ".join(
        f"WHEN {i} THEN '{r}'" for i, (_, _, _, r) in enumerate(_MIME_CLASSES)
    )
    oracles["mime_resolve"] = f"""
SELECT doc_id,
  CAST(doc_id % 8 AS INTEGER) AS mime_class,
  CASE CAST(doc_id % 8 AS INTEGER) {_mm_hdr} END AS header_mime,
  'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/r/'
    || CAST(doc_id AS VARCHAR)
    || CASE CAST(doc_id % 8 AS INTEGER) {_mm_ext} END AS url,
  CASE CAST(doc_id % 8 AS INTEGER) {_mm_res} END AS resolved
FROM documents
"""
    oracles["trie_url_gate"] = """
SELECT doc_id,
  'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
    || CAST(doc_id AS VARCHAR)
    || CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '.html' WHEN 1 THEN '.pdf'
            WHEN 2 THEN '.PDF' ELSE '' END AS url,
  (doc_id % 40) < 20 AS prefix_hit,
  CAST(doc_id % 4 AS INT) IN (1, 2) AS suffix_hit
FROM documents
"""
    oracles["orphan_scoring"] = _orphan_oracle()
    oracles["similarity_score"] = _similarity_oracle()
    # scoring-metadata + scoring-link replay: boosts are dyadic-exact
    # (scores are squares of quarter-integers, so pow(s, .5) == q)
    oracles["metadata_scoring"] = """
WITH dn AS (SELECT COUNT(*) AS n FROM documents),
p AS (
  SELECT doc_id,
    'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS url,
    CAST((doc_id % 8) / 4.0 AS DOUBLE) AS q,
    CASE WHEN doc_id % 2 = 0 THEN 'c' || CAST(doc_id % 5 AS VARCHAR) END
      AS campaign,
    'p' || CAST(doc_id % 3 AS VARCHAR) AS ptag
  FROM documents
),
l AS (
  SELECT d.doc_id,
    CASE WHEN k.k = 1 THEN (d.doc_id * 7 + 1) % dn.n
         ELSE (d.doc_id * 13 + 2) % dn.n END AS tid
  FROM documents d, (SELECT unnest([1, 2]) AS k) k, dn
)
SELECT
  'http://host' || CAST(l.tid % 40 AS VARCHAR) || '.example.com/doc/'
    || CAST(l.tid AS VARCHAR) AS url,
  p.url AS from_url,
  p.campaign,
  p.ptag,
  p.q AS boost_opic,
  0.5 * p.q * p.q AS boost_link
FROM l JOIN p ON p.doc_id = l.doc_id
"""
    # HtmlParseFilter battery: the html is synthesized from doc_id, so
    # the oracle states the expected extractions analytically
    oracles["parse_filter_battery"] = """
SELECT
  'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
    || CAST(doc_id AS VARCHAR) AS url,
  'k' || CAST(doc_id % 5 AS VARCHAR) || ', extra'
    || CASE WHEN doc_id % 3 = 0
            THEN '|dup' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END AS keywords,
  'a' || CAST(doc_id % 7 AS VARCHAR) AS author,
  CAST(doc_id % 9 AS VARCHAR) AS refresh,
  'Top ' || CAST(doc_id % 10 AS VARCHAR) || ' bold'
    || CASE WHEN doc_id % 2 = 0
            THEN '|Again ' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END AS h1,
  CASE WHEN doc_id % 4 <> 1
       THEN 'Sub ' || CAST(doc_id % 6 AS VARCHAR) ELSE '' END AS h2,
  'tag ' || CAST(doc_id % 5 AS VARCHAR) || '|z'
    || CAST(doc_id % 3 AS VARCHAR) AS reltags,
  CASE doc_id % 4
    WHEN 0 THEN 'http://creativecommons.org/licenses/by-nc/'
      || CAST(1 + doc_id % 3 AS VARCHAR) || '.0/'
    WHEN 1 THEN 'http://creativecommons.org/licenses/by/2.0/'
    WHEN 2 THEN 'http://creativecommons.org/licenses/by-sa/3.0/'
  END AS license_url,
  CASE doc_id % 4 WHEN 0 THEN 'rdf' WHEN 1 THEN 'rel' WHEN 2 THEN 'a'
  END AS license_loc,
  CASE WHEN doc_id % 4 = 0 THEN 'text' END AS work_type,
  CASE doc_id % 4 WHEN 0 THEN 'by-nc' WHEN 1 THEN 'by' WHEN 2 THEN 'by-sa'
  END AS cc_lic,
  CASE doc_id % 4 WHEN 0 THEN 'by|nc' WHEN 1 THEN 'by' WHEN 2 THEN 'by|sa'
  END AS cc_features,
  CASE doc_id % 4
    WHEN 0 THEN CAST(1 + doc_id % 3 AS VARCHAR) || '.0'
    WHEN 1 THEN '2.0' WHEN 2 THEN '3.0'
  END AS cc_version
FROM documents
"""
    # indexer-csv replay: quoting decided analytically per branch
    oracles["index_csv"] = """
SELECT url, url || ',' || title_r || ',' || anchors_r AS csv FROM (
  SELECT
    'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS url,
    CASE WHEN doc_id % 5 = 0
         THEN '"Say ""hi"", ' || CAST(doc_id % 3 AS VARCHAR) || '"'
         ELSE 'T' || CAST(doc_id % 7 AS VARCHAR) END AS title_r,
    CASE WHEN doc_id % 2 = 0
         THEN '"a' || CAST(doc_id % 3 AS VARCHAR) || '|b,'
              || CAST(doc_id % 4 AS VARCHAR) || '"'
         ELSE 'a' || CAST(doc_id % 3 AS VARCHAR) END AS anchors_r
  FROM documents
  WHERE doc_id % 10 BETWEEN 5 AND 8 AND doc_id % 64 > 2
)
"""
    oracles["first_seen"] = """
SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value, props
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""
    # parsefilter-regex replay: parse text = the doc's single text span
    # (first 120 chars); every _web doc carries a media span -> has_media
    # is uniformly true
    oracles["parsefilter_regex"] = """
SELECT
  'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/'
    || CAST(doc_id AS VARCHAR) AS url,
  CASE WHEN regexp_matches(substring(text, 1, 120), '\\bthe\\b')
       THEN 'true' ELSE 'false' END AS mentions_the,
  CASE WHEN regexp_matches(substring(text, 1, 120), '^.{100,}')
       THEN 'true' ELSE 'false' END AS long_enough,
  'true' AS has_media
FROM documents
"""
    oracles["embedding_near_dups"] = _embedding_near_dup_oracle()
    oracles["nb_focus_filter"] = _NB_FOCUS_ORACLE
    oracles["feed_parse"] = _FEED_PARSE_ORACLE
    oracles["js_outlinks"] = _JS_OUTLINKS_ORACLE
    oracles["geoip_index"] = _GEOIP_ORACLE
    oracles["zip_parse"] = _ZIP_PARSE_ORACLE
    oracles["fetch_events"] = _FETCH_EVENTS_ORACLE
    oracles["protocol_status_stats"] = _PROTOCOL_STATUS_STATS_ORACLE
    oracles["crawl_summary"] = _CRAWL_SUMMARY_ORACLE
    oracles["dmoz_seeds"] = _dmoz_oracle()
    oracles["text_outlinks"] = _TEXT_OUTLINKS_ORACLE
    oracles["segment_fetch_merge"] = _SEGMENT_FETCH_MERGE_ORACLE
    oracles["index_actions"] = _INDEX_ACTIONS_ORACLE
    oracles["reverse_url"] = _REVERSE_URL_ORACLE
    return oracles


# TableUtil replay: the reversed key is pure arithmetic over the
# fixture's host/port/query variants; the round-trip must always hold.
_REVERSE_URL_ORACLE = """
SELECT
  'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
    || CASE WHEN doc_id % 4 = 0 THEN ':8983' ELSE '' END
    || '/doc/' || CAST(doc_id AS VARCHAR)
    || CASE WHEN doc_id % 2 = 0
            THEN '?a=' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END AS url,
  'com.example.host' || CAST(doc_id % 20 AS VARCHAR) || ':http'
    || CASE WHEN doc_id % 4 = 0 THEN ':8983' ELSE '' END
    || '/doc/' || CAST(doc_id AS VARCHAR)
    || CASE WHEN doc_id % 2 = 0
            THEN '?a=' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END AS reversed,
  TRUE AS roundtrip_ok
FROM documents
"""


# IndexerMapReduce replay: status by doc_id%12 bucket, parse exists for
# doc_id%3<>0; the reference's evaluation order — gone/redirect deletes
# need no parse, the duplicate delete does, notmodified skips, fetched
# + parsed adds, everything else drops.
_INDEX_ACTIONS_ORACLE = """
WITH b AS (
  SELECT 'http://host' || CAST(doc_id % 20 AS VARCHAR)
         || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
    CASE WHEN doc_id % 12 < 5 THEN 1
         WHEN doc_id % 12 < 8 THEN 2
         WHEN doc_id % 12 = 8 THEN 6
         WHEN doc_id % 12 = 9 THEN 3
         WHEN doc_id % 12 = 10 THEN
              CASE WHEN (doc_id // 12) % 2 = 0 THEN 4 ELSE 5 END
         ELSE 7 END AS status,
    (doc_id % 3 <> 0) AS has_parse
  FROM documents
)
SELECT url,
  CASE WHEN status = 3 THEN 'delete'
       WHEN status IN (4, 5) THEN 'delete'
       WHEN has_parse AND status = 7 THEN 'delete'
       WHEN has_parse AND status = 2 THEN 'add' END AS action,
  CASE WHEN status = 3 THEN 'gone'
       WHEN status IN (4, 5) THEN 'redirects'
       WHEN has_parse AND status = 7 THEN 'duplicates'
       WHEN has_parse AND status = 2 THEN 'indexed' END AS reason
FROM b
WHERE status IN (3, 4, 5)
   OR (has_parse AND status IN (2, 7))
"""


# crawl_fetch merge replay: statuses are doc_id arithmetic; eligible =
# fetch statuses minus retry(34)/notmodified(38); latest segment
# (s2 over s1) wins, linked s3 never does, ineligible-only urls drop.
_SEGMENT_FETCH_MERGE_ORACLE = """
WITH b AS (
  SELECT 'http://host' || CAST(doc_id % 20 AS VARCHAR)
         || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
         33 + doc_id % 6 AS st1,
         CASE WHEN doc_id % 2 = 0 THEN 35 + (doc_id // 2) % 4 END AS st2
  FROM documents
)
SELECT url,
  CAST(CASE WHEN st2 IS NOT NULL AND st2 <> 38 THEN st2 ELSE st1 END
       AS INT) AS status,
  CAST(CASE WHEN st2 IS NOT NULL AND st2 <> 38 THEN 20 ELSE 10 END
       AS BIGINT) AS fetch_time
FROM b
WHERE (st2 IS NOT NULL AND st2 <> 38) OR st1 NOT IN (34, 38)
"""


# OutlinkExtractor replay: the synthesized text plants exactly three
# scheme-ful URLs per doc (http, ftp, mailto) in known positions; the
# bare www. host must not appear.
_TEXT_OUTLINKS_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n FROM documents),
u AS (
  SELECT 'http://host' || CAST(doc_id % 20 AS VARCHAR)
         || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id, (doc_id * 11 + 3) % n.n AS t1
  FROM documents CROSS JOIN n
)
SELECT url, CAST(0 AS INT) AS pos,
       'http://host' || CAST(t1 % 20 AS VARCHAR) || '.example.com/doc/'
         || CAST(t1 AS VARCHAR) AS to_url, '' AS anchor
FROM u
UNION ALL
SELECT url, CAST(1 AS INT),
       'ftp://site' || CAST(doc_id % 9 AS VARCHAR) || '.org/pub/f'
         || CAST(doc_id % 4 AS VARCHAR), ''
FROM u
UNION ALL
SELECT url, CAST(2 AS INT),
       'mailto:u' || CAST(doc_id AS VARCHAR) || '@mail.example.org', ''
FROM u
"""


def _dmoz_oracle() -> str:
    """DmozParser replay: the subset sampler (Hadoop md5 quarter-digest,
    signed, xor skew, abs-mod) rebuilt nibble-by-nibble from md5 hex —
    bit-identical to the Spark column arithmetic."""
    uv = " + ".join(
        f"(instr('0123456789abcdef', substr(md5(url), {k}, 1)) - 1)"
        f" * {16 ** (8 - k)}"
        for k in range(1, 9)
    )
    return f"""
WITH p AS (
  SELECT 'http://host' || CAST(doc_id % 20 AS VARCHAR)
         || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
    CASE WHEN doc_id % 11 = 0
         THEN 'Top/Adult/Sub' || CAST(doc_id % 3 AS VARCHAR)
         ELSE 'Top/T' || CAST(doc_id % 5 AS VARCHAR)
              || '/Sub' || CAST(doc_id % 3 AS VARCHAR) END AS topic,
    'T ' || CAST(doc_id AS VARCHAR) AS title,
    'D ' || CAST(doc_id AS VARCHAR) AS description
  FROM documents
),
h AS (
  SELECT *, {uv} AS uv FROM p WHERE topic NOT LIKE 'Top/Adult%'
),
s AS (
  SELECT *, CASE WHEN uv >= 2147483648
                 THEN uv - 4294967296 ELSE uv END AS sv
  FROM h
)
SELECT url, topic, title, description
FROM s WHERE abs(xor(sv, 12345)) % 3 = 0
"""


# stats-tool replays: seeds are doc_id < 40, their final fetch status
# (and thus the stamped protocol code) is pure doc_id arithmetic; the
# remaining frontier rows carry no code key.
_PROTOCOL_STATUS_STATS_ORACLE = """
WITH f AS (
  SELECT CASE WHEN doc_id % 17 = 0 THEN '404'
              WHEN doc_id % 29 = 0 THEN '503'
              WHEN doc_id % 23 = 0 THEN '301'
              ELSE '200' END AS status_code
  FROM documents WHERE doc_id < 40
)
SELECT status_code, COUNT(*) AS count FROM f GROUP BY status_code
UNION ALL
SELECT 'UNFETCHED', COUNT(*) FROM documents WHERE doc_id >= 40
"""

_CRAWL_SUMMARY_ORACLE = """
WITH f AS (
  SELECT 'host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS key,
    CASE WHEN doc_id % 17 = 0 THEN 'fetch_gone'
         WHEN doc_id % 29 = 0 THEN 'fetch_retry'
         WHEN doc_id % 23 = 0 THEN 'fetch_redir_perm'
         ELSE 'fetch_success' END AS status_name,
    CAST(CASE WHEN doc_id % 17 = 0 THEN 404
              WHEN doc_id % 29 = 0 THEN 503
              WHEN doc_id % 23 = 0 THEN 301
              ELSE 200 END AS INT) AS http_code
  FROM documents WHERE doc_id < 40
)
SELECT key, status_name, http_code, COUNT(*) AS count
FROM f GROUP BY key, status_name, http_code
UNION ALL
SELECT 'host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com',
       'db_unfetched', CAST(-1 AS INT), COUNT(*)
FROM documents WHERE doc_id >= 40 GROUP BY 1
"""


# parse-zip replay: entry payloads are synthesized from doc_id
# arithmetic, so every parsed field — names, mimes, true sizes, texts,
# the resolved html outlink, and the archive-order accumulation that
# skips the binary entry — is analytically known.
_ZIP_PARSE_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n FROM documents),
z AS (
  SELECT doc_id AS d, (doc_id * 3 + 1) % n.n AS t,
    'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/z/'
      || CAST(doc_id AS VARCHAR) || '.zip' AS url,
    'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS origin
  FROM documents CROSS JOIN n WHERE doc_id % 5 = 0
),
arch AS (
  SELECT url,
    'readme.txt Doc ' || CAST(d AS VARCHAR) || ' notes page.html xBody '
      || CAST(d AS VARCHAR) || ' ' AS arch_text
  FROM z
)
SELECT e.url, e.idx, e.name, e.mime, e.size, e.text, e.outlinks, a.arch_text
FROM (
  SELECT url, 0 AS idx, 'readme.txt' AS name, 'text/plain' AS mime,
         CAST(10 + length(CAST(d AS VARCHAR)) AS BIGINT) AS size,
         'Doc ' || CAST(d AS VARCHAR) || ' notes' AS text, '' AS outlinks
  FROM z
  UNION ALL
  SELECT url, 1, 'page.html', 'text/html',
         CAST(39 + length(CAST(t AS VARCHAR))
              + length(CAST(d AS VARCHAR)) AS BIGINT),
         'xBody ' || CAST(d AS VARCHAR),
         origin || '/doc/' || CAST(t AS VARCHAR)
  FROM z
  UNION ALL
  SELECT url, 2, 'data.bin', 'application/octet-stream',
         CAST(1 + d % 7 AS BIGINT), CAST(NULL AS VARCHAR), ''
  FROM z
) e JOIN arch a ON e.url = a.url
"""


# index-geoip replay: host k = doc_id % 20 resolves to 10.0.0.(k//2)
# for k < 19; geo fields are pure arithmetic in the IP's last octet j,
# postalCode null every third j, host19 fully unresolved.
_GEOIP_ORACLE = """
WITH pages AS (
  SELECT 'http://host' || CAST(doc_id % 20 AS VARCHAR)
         || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id % 20 AS k
  FROM documents
)
SELECT url,
  CASE WHEN k < 19 THEN '10.0.0.' || CAST(k // 2 AS VARCHAR) END AS ip,
  CASE WHEN k < 19 THEN 'City ' || CAST(k // 2 AS VARCHAR) END AS cityName,
  CASE WHEN k < 19 THEN
    CASE WHEN (k // 2) % 2 = 0 THEN 'NA' ELSE 'EU' END END AS continentCode,
  CASE WHEN k < 19
       THEN 'C' || CAST((k // 2) % 5 AS VARCHAR) END AS countryIsoCode,
  CASE WHEN k < 19
       THEN 'Country ' || CAST((k // 2) % 5 AS VARCHAR) END AS countryName,
  CASE WHEN k < 19 THEN CAST((k // 2) * 3 AS VARCHAR) || '.25,-'
       || CAST((k // 2) * 7 AS VARCHAR) || '.5' END AS latLon,
  CASE WHEN k < 19
       THEN CAST((k // 2) % 10 + 1 AS INT) END AS accRadius,
  CASE WHEN k < 19
       THEN 'Zone/Z' || CAST((k // 2) % 4 AS VARCHAR) END AS timeZone,
  CASE WHEN k < 19 AND (k // 2) % 3 <> 0
       THEN '5500' || CAST(k // 2 AS VARCHAR) END AS postalCode,
  CASE WHEN k < 19
       THEN 'S' || CAST((k // 2) % 6 AS VARCHAR) END AS subDivIsoCode
FROM pages
"""


# parse-js replay: the five accepted literals per page resolve to
# analytically-known URLs (absolute kept, root-relative on the origin,
# www. gets http://, dir-relative on the /js/ directory, &amp; -> &);
# "plainword" and "any"/"none" fail the URI shape and drop out.
_JS_OUTLINKS_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n FROM documents),
base AS (
  SELECT doc_id,
    'http://host' || CAST(doc_id % 20 AS VARCHAR)
      || '.example.com/js/' || CAST(doc_id AS VARCHAR) || '.js' AS url,
    'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS origin,
    'http://host' || CAST(((doc_id * 3 + 1) % n.n) % 20 AS VARCHAR)
      || '.example.com/doc/'
      || CAST((doc_id * 3 + 1) % n.n AS VARCHAR) AS abs_url
  FROM documents CROSS JOIN n
)
SELECT DISTINCT url, to_url FROM (
  SELECT url, abs_url AS to_url FROM base
  UNION ALL
  SELECT url, origin || '/rel/' || CAST(doc_id % 7 AS VARCHAR)
         || '/page' || CAST(doc_id % 5 AS VARCHAR) || '.html' FROM base
  UNION ALL
  SELECT url, 'http://www.site' || CAST(doc_id % 9 AS VARCHAR) || '.com/p'
  FROM base
  UNION ALL
  SELECT url, origin || '/js/img/' || CAST(doc_id % 4 AS VARCHAR) || '.png'
  FROM base
  UNION ALL
  SELECT url, abs_url || '/q?a=1&b=' || CAST(doc_id % 3 AS VARCHAR) FROM base
)
"""


# feed replay: the fixture XML is synthesized from doc_id arithmetic,
# so the expected parse rows are derived analytically — an independent
# expectation for the real regex extraction + RFC822/ISO date parsing.
_FEED_PARSE_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n FROM documents),
feeds AS (
  SELECT doc_id, (doc_id % 20 = 10) AS atom, 1 + doc_id % 3 AS m,
    'http://host' || CAST(doc_id % 20 AS VARCHAR)
      || '.example.com/feed/' || CAST(doc_id AS VARCHAR) || '.xml' AS feed_url,
    'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/' AS site
  FROM documents WHERE doc_id % 10 = 0
),
items AS (
  SELECT f.*, ((f.doc_id + 7 * t.j + 1) % n.n) AS tid
  FROM feeds f CROSS JOIN n CROSS JOIN UNNEST([0, 1, 2]) AS t(j)
  WHERE t.j < f.m
),
entries AS (
  SELECT
    'http://host' || CAST(tid % 20 AS VARCHAR) || '.example.com/doc/'
      || CAST(tid AS VARCHAR) AS url,
    site AS feed_link,
    feed_url,
    'entry' AS kind,
    'Item ' || CAST(tid AS VARCHAR) AS title,
    'Sum ' || CAST(tid AS VARCHAR) || ' ok' AS text,
    CASE WHEN tid % 4 <> 0 THEN 'a' || CAST(tid % 7 AS VARCHAR) END AS author,
    'c' || CAST(tid % 5 AS VARCHAR)
      || CASE WHEN tid % 2 = 0
              THEN '|d' || CAST(tid % 3 AS VARCHAR) ELSE '' END AS tags,
    (1700000000 + tid * 3600) * 1000 AS published_ms
  FROM items
),
feed_rows AS (
  SELECT feed_url AS url, site AS feed_link, feed_url, 'feed' AS kind,
         'Feed ' || CAST(doc_id AS VARCHAR) AS title,
         'About ' || CAST(doc_id AS VARCHAR) AS text,
         CAST(NULL AS VARCHAR) AS author, '' AS tags,
         CAST(NULL AS BIGINT) AS published_ms
  FROM feeds
)
SELECT * FROM entries UNION ALL SELECT * FROM feed_rows
"""


# parsefilter-naivebayes replay (Classify.java:54-116 arithmetic):
# the reference tokenizer strips non-alpha (fusing across newlines),
# keeps interior empty tokens in numwords, drops trailing ones; the
# smoothed contribution is ln(freq)+1-ln(numwords_c+V) (unseen: the
# same minus ln(freq)); ties classify relevant. ln-sum order differs
# between engines, absorbed by round(,6).
_NB_TOKS = """
  CASE WHEN clean = '' THEN ['']
       WHEN rt = '' THEN []::VARCHAR[]
       ELSE string_split(rt, ' ') END
"""
_NB_CLEAN = """
  SELECT {keys},
    lower(regexp_replace({txt}, '[^a-zA-Z ]', '', 'g')) AS clean,
    regexp_replace(lower(regexp_replace({txt}, '[^a-zA-Z ]', '', 'g')),
                   ' +$', '') AS rt
  FROM {src}
"""
_NB_FOCUS_ORACLE = f"""
WITH ex AS (
  SELECT CAST(doc_id % 2 AS INT) AS label,
         (CASE WHEN doc_id % 2 = 0 THEN 'buy cheap pills now casino '
               ELSE 'research science article data ' END)
         || substring(text, 1, 60) AS text
  FROM documents WHERE doc_id < 40
),
extok AS (
  SELECT e.label, u.w
  FROM (SELECT label, {_NB_TOKS} AS toks
        FROM ({_NB_CLEAN.format(keys='label', txt='text', src='ex')})) e,
       UNNEST(e.toks) AS u(w)
),
stats AS (
  SELECT
    (SELECT COUNT(*) FROM ex WHERE label = 0) AS numof_ir,
    (SELECT COUNT(*) FROM ex WHERE label = 1) AS numof_r,
    SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS numwords_ir,
    SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS numwords_r,
    COUNT(DISTINCT w) AS vocab
  FROM extok
),
model AS (
  SELECT w,
    SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS freq_ir,
    SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS freq_r
  FROM extok WHERE w <> '' GROUP BY w
),
pages AS (
  SELECT 'http://host' || CAST(doc_id % 20 AS VARCHAR)
         || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id, substring(text, 1, 120) AS text
  FROM documents
),
ptok AS (
  SELECT p.url, u.w
  FROM (SELECT url, {_NB_TOKS} AS toks
        FROM ({_NB_CLEAN.format(keys='url', txt='text', src='pages')})) p,
       UNNEST(p.toks) AS u(w)
),
contrib AS (
  SELECT t.url,
    CASE WHEN m.freq_ir IS NOT NULL AND m.freq_ir > 0
         THEN ln(m.freq_ir) + 1 - ln(s.numwords_ir + s.vocab)
         ELSE 1 - ln(s.numwords_ir + s.vocab) END AS c_ir,
    CASE WHEN m.freq_r IS NOT NULL AND m.freq_r > 0
         THEN ln(m.freq_r) + 1 - ln(s.numwords_r + s.vocab)
         ELSE 1 - ln(s.numwords_r + s.vocab) END AS c_r
  FROM ptok t LEFT JOIN model m ON t.w = m.w CROSS JOIN stats s
),
scored AS (
  SELECT p.url,
    COALESCE(SUM(c.c_ir), 0)
      + ln(s.numof_ir) - ln(s.numof_ir + s.numof_r) AS p_ir,
    COALESCE(SUM(c.c_r), 0)
      + ln(s.numof_r) - ln(s.numof_ir + s.numof_r) AS p_r
  FROM pages p LEFT JOIN contrib c ON p.url = c.url CROSS JOIN stats s
  GROUP BY p.url, s.numof_ir, s.numof_r
),
outl AS (
  SELECT p.url,
    'http://host' || CAST(((p.doc_id * 7 + 1) % n.n) % 20 AS VARCHAR)
    || '.example.com/doc/' || CAST((p.doc_id * 7 + 1) % n.n AS VARCHAR)
      AS to_url
  FROM pages p CROSS JOIN (SELECT COUNT(*) AS n FROM documents) n
),
kept AS (
  SELECT o.url, COUNT(*) AS kept
  FROM outl o JOIN scored s ON o.url = s.url
  WHERE s.p_r >= s.p_ir
     OR o.to_url LIKE '%doc/1%' OR o.to_url LIKE '%host7%'
  GROUP BY o.url
)
SELECT s.url,
       round(s.p_ir, 6) AS prob_ir,
       round(s.p_r, 6) AS prob_r,
       s.p_r >= s.p_ir AS relevant,
       CAST(COALESCE(k.kept, 0) AS INT) AS kept_outlinks
FROM scored s LEFT JOIN kept k ON s.url = k.url
"""


# IVF replay: seed centroids are the 16 lowest-md5(vec_id) vectors;
# assignment/probing order by RAW cosine (ties -> lowest centroid id),
# matching Spark's struct-max over (sim, -cid); the final re-rank sorts
# by the 6-dp rounded value exactly like embedding_topk. All dot/norm
# folds are sequential list_reduce — bit-identical to F.aggregate.
_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]),"
    " (x, y) -> x + y)"
)
_NRM = "sqrt(list_reduce(list_transform({a}, v -> v * v), (x, y) -> x + y))"
_COS = f"({_DOT} / ({_NRM.format(a='{a}')} * {_NRM.format(a='{b}')}))"

# Gopher-rule replay: same word/line splits, same rounding, thresholds
# applied to the rounded values on both sides.
_GOPHER_STOP_SQL = " + ".join(
    f"CASE WHEN regexp_matches(lower(text), '\\b{w}\\b') THEN 1 ELSE 0 END"
    for w in ["the", "be", "to", "of", "and", "that", "have", "with"]
)
_GOPHER_ORACLE = f"""
WITH base AS (
  SELECT doc_id, COALESCE(text, '') AS text FROM documents
),
f AS (
  SELECT doc_id,
    regexp_split_to_array(trim(text), '\\s+') AS words,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER)
    END AS n_words,
    string_split(text, chr(10)) AS lines,
    len(string_split(text, '#')) - 1 AS n_hash,
    len(regexp_split_to_array(text, '\\.\\.\\.')) - 1 AS n_ellipsis,
    {_GOPHER_STOP_SQL} AS stop_hits
  FROM base
),
g AS (
  SELECT doc_id, n_words, stop_hits,
    CAST(GREATEST(n_words, 1) AS DOUBLE) AS safe_w,
    COALESCE(list_sum(list_transform(words, w -> length(w))), 0) AS word_chars,
    len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
    n_hash, n_ellipsis,
    CAST(len(lines) AS INTEGER) AS n_lines,
    CAST(GREATEST(len(lines), 1) AS DOUBLE) AS safe_l,
    len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) AS bullet_lines,
    len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.\\s*$'))) AS ellipsis_lines,
    COALESCE(list_sum(list_transform(lines, l -> length(l))), 0) AS line_chars,
    COALESCE(list_sum(list_transform(list_distinct(lines), l -> length(l))), 0)
      AS uniq_line_chars,
    CAST(len(list_distinct(lines)) AS INTEGER) AS n_uniq_lines
  FROM f
),
r AS (
  SELECT doc_id, n_words,
    round(word_chars / safe_w, 6) AS mean_word_len,
    round((n_hash + n_ellipsis) / safe_w, 6) AS symbol_word_ratio,
    round(bullet_lines / safe_l, 6) AS bullet_line_frac,
    round(ellipsis_lines / safe_l, 6) AS ellipsis_line_frac,
    round(alpha_words / safe_w, 6) AS alpha_word_frac,
    CAST(stop_hits AS INTEGER) AS stop_hits,
    round((n_lines - n_uniq_lines) / safe_l, 6) AS dup_line_frac,
    round((line_chars - uniq_line_chars) / CAST(GREATEST(line_chars, 1) AS DOUBLE), 6)
      AS dup_line_char_frac
  FROM g
)
SELECT *,
  (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3 AND 10)
  AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
  AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
  AND stop_hits >= 2 AND dup_line_frac <= 0.3
  AND dup_line_char_frac <= 0.2 AS gopher_pass
FROM r
"""


# Gopher-repetition replay: same \s+ word split, 1-based inclusive list
# slices for the n-grams, char coverage = length(gram) * occurrences,
# top-gram tie-break (count DESC, gram ASC) identical to the Spark
# window.
_GOPHER_REP_ORACLE = """
WITH base AS (
  SELECT doc_id, length(COALESCE(text, '')) AS len,
    CASE WHEN length(trim(COALESCE(text, ''))) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(COALESCE(text, '')), '\\s+')
    END AS words
  FROM documents
),
grams AS (
  SELECT doc_id, ns.n,
    UNNEST(list_transform(range(1, GREATEST(len(words) - ns.n + 2, 1)),
      i -> array_to_string(words[i : i + ns.n - 1], ' '))) AS gram
  FROM base CROSS JOIN (SELECT UNNEST([2, 3, 4, 5, 6]) AS n) ns
),
counts AS (
  SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3
),
top AS (
  SELECT doc_id, n, length(gram) * c AS top_chars FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id, n ORDER BY c DESC, gram ASC) AS rn
    FROM counts
  ) WHERE rn = 1
),
dup AS (
  SELECT doc_id, n, SUM(length(gram) * c) AS dup_chars
  FROM counts WHERE c > 1 GROUP BY 1, 2
)
SELECT b.doc_id,
  round(COALESCE(t2.top_chars, 0) / CAST(GREATEST(b.len, 1) AS DOUBLE), 6) AS top2gram_char_frac,
  round(COALESCE(t3.top_chars, 0) / CAST(GREATEST(b.len, 1) AS DOUBLE), 6) AS top3gram_char_frac,
  round(COALESCE(t4.top_chars, 0) / CAST(GREATEST(b.len, 1) AS DOUBLE), 6) AS top4gram_char_frac,
  round(COALESCE(d5.dup_chars, 0) / CAST(GREATEST(b.len, 1) AS DOUBLE), 6) AS dup5gram_char_frac,
  round(COALESCE(d6.dup_chars, 0) / CAST(GREATEST(b.len, 1) AS DOUBLE), 6) AS dup6gram_char_frac
FROM base b
LEFT JOIN top t2 ON t2.doc_id = b.doc_id AND t2.n = 2
LEFT JOIN top t3 ON t3.doc_id = b.doc_id AND t3.n = 3
LEFT JOIN top t4 ON t4.doc_id = b.doc_id AND t4.n = 4
LEFT JOIN dup d5 ON d5.doc_id = b.doc_id AND d5.n = 5
LEFT JOIN dup d6 ON d6.doc_id = b.doc_id AND d6.n = 6
"""


# CommonCrawl envelope replay: hostN.example.com reversed to
# com.example.hostN; body/key escaped with the same two-char JSON
# escape as the Spark side; timestamps = fetch_time (injected clock).
_COMMONCRAWL_ORACLE = f"""
WITH {{CRAWLDB}},
pages AS (
  SELECT url, fetch_time,
    'host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS host,
    '/doc/' || CAST(doc_id AS VARCHAR) AS path,
    regexp_replace(text, '(["\\\\])', '\\\\\\1', 'g') AS body
  FROM crawldb WHERE status IN (2, 6)
),
k AS (
  SELECT *,
    'com.example.host' || CAST(
        CASE WHEN url LIKE 'http://host%' THEN
          CAST(regexp_extract(host, 'host(\\d+)', 1) AS INTEGER)
        END AS VARCHAR) || ':http' || path AS key
  FROM pages
)
SELECT url, key,
  '{{"url":"' || url || '","timestamp":"' || CAST(fetch_time AS VARCHAR)
  || '","request":{{"method":"GET","client":{{"hostname":"crawler.example.com",'
  || '"address":"10.0.0.1","software":"nutch-spark/1.0","robots":"classic",'
  || '"contact":{{"name":"crawler","email":"crawler@example.com"}}}},'
  || '"headers":{{"Accept":"text/html","Accept-Encoding":"gzip",'
  || '"Accept-Language":"en-us","User-Agent":"nutch-spark/1.0"}}}},'
  || '"response":{{"status":"200","server":{{"hostname":"' || host
  || '"}},"headers":{{"Content-Type":"text/html"}},"body":"' || body
  || '"}},"key":"' || key || '","imported":"' || CAST(fetch_time AS VARCHAR)
  || '"}}' AS record
FROM k
""".replace("{CRAWLDB}", _CRAWLDB_CTE.strip())


# extra-normalizer replay: the oracle states the expected output of the
# querystring -> protocol -> host chain directly (query params 'b=2','a=N'
# sort to a-then-b; example.org forced to http then aliased to
# www.example.org; sub.example.com collapsed by the *.example.com
# wildcard; plain.example.io forced to https by *.example.io).
_URLNORM_EXTRAS_ORACLE = """
WITH u AS (
  SELECT doc_id,
    CASE doc_id % 4 WHEN 0 THEN 'www.example.net' WHEN 1 THEN 'example.org'
         WHEN 2 THEN 'sub.example.com' ELSE 'plain.example.io' END AS h,
    CASE doc_id % 3 WHEN 0 THEN '?b=2&a=' || CAST(doc_id AS VARCHAR)
         WHEN 1 THEN '?a=1' ELSE '' END AS q,
    CASE doc_id % 3 WHEN 0 THEN '?a=' || CAST(doc_id AS VARCHAR) || '&b=2'
         WHEN 1 THEN '?a=1' ELSE '' END AS q_sorted
  FROM documents
)
SELECT
  'http://' || h || '/p/' || CAST(doc_id AS VARCHAR) || q AS url,
  CASE doc_id % 4
    WHEN 0 THEN 'http://example.net'
    WHEN 1 THEN 'http://www.example.org'
    WHEN 2 THEN 'http://example.com'
    ELSE 'https://plain.example.io' END
  || '/p/' || CAST(doc_id AS VARCHAR) || q_sorted AS normalized
FROM u
"""


# scoring-depth replay: parents doc_id%5==0 (depth 1 + (doc_id%15)/5,
# maxdepth 3; depth-3 parents gated), targets doc_id%5 in (1,2) linked
# by both flanking parents; new URLs take the linked_new updatedb path
# (status 1, fetch_time=now, score = sum of surviving link scores —
# dyadic quarters, so the float32 fold is exact) and min(parent)+1
# depth; gen_sort = score * (1 + maxdepth - depth).
_DEPTH_GATE_ORACLE = f"""
WITH d AS (SELECT doc_id FROM documents),
par AS (
  SELECT doc_id,
    'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS url,
    CAST(1 + (doc_id % 15) / 5 AS INTEGER) AS depth,
    (doc_id % 64) / 4.0 AS score
  FROM d WHERE doc_id % 5 = 0
),
tl AS (
  SELECT doc_id AS t, doc_id - (doc_id % 5) AS p
  FROM d WHERE doc_id % 5 IN (1, 2)
  UNION ALL
  SELECT doc_id, doc_id - (doc_id % 5) + 5
  FROM d WHERE doc_id % 5 IN (1, 2)
    AND EXISTS (SELECT 1 FROM d x WHERE x.doc_id = d.doc_id - (d.doc_id % 5) + 5)
),
links AS (
  SELECT tl.t, par.depth + 1 AS ldepth, (tl.p % 16) / 4.0 + 0.25 AS lscore
  FROM tl JOIN par ON par.doc_id = tl.p
  WHERE par.depth < 3
),
newu AS (
  SELECT t, CAST(sum(lscore) AS DOUBLE) AS score,
    CAST(min(ldepth) AS INTEGER) AS depth
  FROM links GROUP BY t
)
SELECT url, status, fetch_time, retries, fetch_interval, score, depth,
  CAST(3 AS INTEGER) AS maxdepth,
  CAST(score * (1 + 3 - depth) AS DOUBLE) AS gen_sort
FROM (
  SELECT url, CAST(2 AS INTEGER) AS status,
    CAST({FT_BASE} AS BIGINT) AS fetch_time, CAST(0 AS INTEGER) AS retries,
    CAST(2592000 AS INTEGER) AS fetch_interval, CAST(score AS DOUBLE) AS score,
    depth
  FROM par
  UNION ALL
  SELECT
    'http://host' || CAST(t % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(t AS VARCHAR) AS url,
    CAST(1 AS INTEGER), CAST({UPD_NOW} AS BIGINT), CAST(0 AS INTEGER),
    CAST(2592000 AS INTEGER), score, depth
  FROM newu
)
"""

_IVF_TOPK_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
cent AS (
  SELECT CAST(row_number() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) AS cid,
    emb AS cemb
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
asg AS (
  SELECT vec_id, emb, cid FROM (
    SELECT x.vec_id, x.emb, c.cid, row_number() OVER (
        PARTITION BY x.vec_id
        ORDER BY {_COS.format(a='x.emb', b='c.cemb')} DESC, c.cid ASC) AS rn
    FROM e x CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 8),
qprobe AS (
  SELECT query_id, qe, cid FROM (
    SELECT q.query_id, q.qe, c.cid, row_number() OVER (
        PARTITION BY q.query_id
        ORDER BY {_COS.format(a='q.qe', b='c.cemb')} DESC, c.cid ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 4
),
p AS (
  SELECT qp.query_id, a.vec_id,
    {_DOT.format(a='a.emb', b='qp.qe')} AS dp,
    {_NRM.format(a='a.emb')} AS na,
    {_NRM.format(a='qp.qe')} AS nq
  FROM asg a JOIN qprobe qp USING (cid)
  WHERE a.vec_id <> qp.query_id
),
r AS (
  SELECT query_id, vec_id, CASE WHEN na * nq = 0 THEN 0.0 ELSE round(dp / (na * nq), 6) END AS cosine_sim,
    CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY (CASE WHEN na * nq = 0 THEN 0.0 ELSE round(dp / (na * nq), 6) END) DESC, vec_id ASC
    ) AS INTEGER) AS rank
  FROM p
)
SELECT query_id, vec_id, cosine_sim, rank FROM r WHERE rank <= 10
"""


def _build_oracles(lang_best, lang_case, lang_counts, en_stop) -> dict[str, str]:
    return {
        # ---- J1 inject ----------------------------------------------------
        "inject_merge": f"""
WITH {_CRAWLDB_CTE},
old AS (SELECT * FROM crawldb WHERE doc_id % 2 = 0),
seeds AS (SELECT url FROM crawldb WHERE doc_id % 3 = 0)
SELECT COALESCE(o.url, s.url) AS url,
  CAST(CASE WHEN o.url IS NULL THEN 1 ELSE o.status END AS INTEGER) AS status,
  CAST(CASE WHEN o.url IS NULL THEN {UPD_NOW} ELSE o.fetch_time END AS BIGINT) AS fetch_time,
  CAST(CASE WHEN o.url IS NULL THEN 0 ELSE o.retries END AS INTEGER) AS retries,
  CAST(CASE WHEN o.url IS NULL THEN 2592000 ELSE o.fetch_interval END AS INTEGER) AS fetch_interval,
  CAST(CASE WHEN o.url IS NULL THEN 2.0 ELSE o.score END AS DOUBLE) AS score
FROM old o FULL OUTER JOIN seeds s ON o.url = s.url
""",
        # ---- G1/G2 generate ----------------------------------------------
        "generate_quota": f"""
WITH {_CRAWLDB_CTE},
elig AS (
  SELECT url, score,
    'host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS host_key
  FROM crawldb WHERE status = 1 AND fetch_time <= {GEN_NOW}
),
h AS (
  SELECT *, row_number() OVER (PARTITION BY host_key ORDER BY score DESC, url) AS rn_host
  FROM elig
),
seg AS (
  SELECT url, score, CAST(FLOOR((rn_host - 1) / 5.0) AS INTEGER) + 1 AS segnum
  FROM h WHERE rn_host <= 10
),
s2 AS (
  SELECT *, row_number() OVER (PARTITION BY segnum ORDER BY score DESC, url) AS rn_seg
  FROM seg
)
SELECT url, segnum FROM s2 WHERE rn_seg <= 150
""",
        # ---- J2 updatedb state machine -----------------------------------
        "updatedb_states": f"""
WITH d AS (
  SELECT doc_id, text,
    'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS url,
    doc_id % 4 AS k,
    (doc_id % 3 <> 0) AS has_old,
    (doc_id % 5 <> 4) AS has_seg,
    1700000000000 + (doc_id % 1000) * 3600000 AS old_ft,
    CAST(doc_id % 3 AS INTEGER) AS old_retries,
    (doc_id % 64) / 4.0 AS fscore,
    CASE WHEN doc_id % 10 < 5 THEN 1 WHEN doc_id % 10 < 8 THEN 2
         WHEN doc_id % 10 = 8 THEN 6 ELSE 3 END AS old_status,
    CASE WHEN doc_id % 10 BETWEEN 5 AND 8 THEN md5(text) END AS old_sig,
    CASE WHEN doc_id % 8 = 0 THEN md5(text) ELSE md5(text || 'x') END AS new_sig
  FROM documents
),
m AS (
  SELECT *,
    CASE WHEN k = 0 AND has_seg AND has_old AND old_sig IS NOT NULL
         THEN (CASE WHEN old_sig <> new_sig THEN 'MOD' ELSE 'NOTMOD' END)
         ELSE 'UNKNOWN' END AS mod_state,
    (k = 2 AND old_retries + 1 >= 3) AS exhausted
  FROM d WHERE has_old OR has_seg
)
SELECT url,
  CAST(CASE
    WHEN NOT has_seg THEN old_status
    WHEN k = 3 AND has_old THEN old_status
    WHEN k = 3 THEN 1
    WHEN k = 0 AND mod_state = 'NOTMOD' THEN 6
    WHEN k = 0 THEN 2
    WHEN k = 2 THEN (CASE WHEN exhausted THEN 3 ELSE 1 END)
    ELSE 3 END AS INTEGER) AS status,
  CAST(CASE
    WHEN NOT has_seg THEN old_ft
    WHEN k = 3 AND has_old THEN old_ft
    WHEN k = 3 THEN {UPD_NOW}
    WHEN k = 0 THEN {FETCH_TS} + 2592000000
    WHEN k = 1 THEN {FETCH_TS} + 3888000000
    WHEN k = 2 AND exhausted THEN {FETCH_TS} + 3888000000
    ELSE {FETCH_TS} + 86400000 END AS BIGINT) AS fetch_time,
  CAST(CASE
    WHEN NOT has_seg THEN old_retries
    WHEN k = 3 AND has_old THEN old_retries
    WHEN k = 3 THEN 0
    WHEN k = 2 THEN old_retries + 1
    ELSE 0 END AS INTEGER) AS retries,
  CAST(CASE
    WHEN NOT has_seg THEN 2592000
    WHEN k = 3 THEN 2592000
    WHEN k = 0 THEN 2592000
    WHEN k = 1 THEN 3888000
    WHEN k = 2 AND exhausted THEN 3888000
    ELSE 2592000 END AS INTEGER) AS fetch_interval,
  CAST(CASE
    WHEN NOT has_seg THEN fscore
    WHEN k = 3 AND has_old THEN fscore + 0.5
    WHEN k = 3 THEN 0.5
    ELSE fscore END AS DOUBLE) AS score,
  CASE
    WHEN NOT has_seg THEN old_sig
    WHEN k = 3 AND has_old THEN old_sig
    WHEN k = 3 THEN NULL
    WHEN k = 0 AND mod_state = 'NOTMOD' THEN old_sig
    WHEN k = 0 THEN new_sig
    WHEN has_old THEN old_sig
    ELSE NULL END AS signature
FROM m
""",
        # ---- §2.4 adaptive schedule through updatedb ----------------------
        # every doc has a success seg row; old exists for doc%3<>0; the
        # modification state needs an old signature (old status 2/6, i.e.
        # doc%10 in 5..8): same sig (%2=0) -> NOTMODIFIED (iv*1.5 with
        # inc=0.5), different -> MODIFIED (iv*0.75 with dec=0.25); else
        # UNKNOWN keeps iv. All products exact (dyadic rates).
        "updatedb_adaptive": f"""
WITH d AS (
  SELECT doc_id, text,
    'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS url,
    (doc_id % 3 <> 0) AS has_old,
    (doc_id % 10 BETWEEN 5 AND 8) AS old_has_sig,
    (doc_id % 2 = 0) AS sig_same,
    md5(text) AS sig_a,
    md5(text || 'x') AS sig_b
  FROM documents
)
SELECT url,
  CAST(CASE WHEN has_old AND old_has_sig AND sig_same THEN 6 ELSE 2 END AS INTEGER) AS status,
  CAST(CASE
    WHEN has_old AND old_has_sig AND sig_same THEN {FETCH_TS} + 3888000000
    WHEN has_old AND old_has_sig THEN {FETCH_TS} + 1944000000
    ELSE {FETCH_TS} + 2592000000 END AS BIGINT) AS fetch_time,
  CAST(CASE
    WHEN has_old AND old_has_sig AND sig_same THEN 3888000
    WHEN has_old AND old_has_sig THEN 1944000
    ELSE 2592000 END AS INTEGER) AS fetch_interval,
  CASE
    WHEN has_old AND old_has_sig AND sig_same THEN sig_a
    WHEN sig_same THEN sig_a
    ELSE sig_b END AS signature
FROM d
""",
        # ---- J4 merger ----------------------------------------------------
        "merge_crawldbs": f"""
WITH {_CRAWLDB_CTE}
SELECT url,
  status,
  CAST(CASE WHEN doc_id % 4 = 0 THEN fetch_time + 1000 ELSE fetch_time END AS BIGINT) AS fetch_time,
  CAST(CASE WHEN doc_id % 4 = 0 THEN score + 0.25 ELSE score END AS DOUBLE) AS score
FROM crawldb
""",
        # ---- A3 dedup -----------------------------------------------------
        "dedup_mark": f"""
WITH {_CRAWLDB_CTE},
c2 AS (
  SELECT url, status, fetch_time, score,
    CASE WHEN status IN (2, 6)
         THEN md5(CAST(CAST(FLOOR(doc_id / 5.0) AS BIGINT) AS VARCHAR)) END AS signature
  FROM crawldb
),
el AS (
  SELECT url, rank() OVER (
    PARTITION BY signature ORDER BY score DESC, fetch_time DESC, length(url) ASC
  ) AS rk
  FROM c2 WHERE status IN (2, 6) AND signature IS NOT NULL
),
dup AS (SELECT url FROM el WHERE rk > 1)
SELECT c2.url, CAST(CASE WHEN dup.url IS NOT NULL THEN 7 ELSE c2.status END AS INTEGER) AS status
FROM c2 LEFT JOIN dup ON c2.url = dup.url
""",
        # ---- J5 linkdb ----------------------------------------------------
        "linkdb_invert": """
WITH dn AS (SELECT COUNT(*) AS n FROM documents),
o AS (
  SELECT
    'http://host' || CAST(d.doc_id % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(d.doc_id AS VARCHAR) AS from_url,
    d.doc_id % 40 AS fh,
    (d.doc_id * 7 + k.k * 13 + 1) % dn.n AS tid,
    'a' || CAST(k.k AS VARCHAR) AS anchor
  FROM documents d, (SELECT unnest([0, 1, 2]) AS k) k, dn
),
ol AS (
  SELECT 'http://host' || CAST(tid % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(tid AS VARCHAR) AS url, from_url, anchor
  FROM o WHERE tid % 40 <> fh
),
dd AS (SELECT DISTINCT url, from_url, anchor FROM ol),
r AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY from_url, anchor) AS rn FROM dd
)
SELECT url, from_url, anchor FROM r WHERE rn <= 4
""",
        # ---- S7 readdb dump -----------------------------------------------
        "readdb_dump": f"""
WITH {_CRAWLDB_CTE}
SELECT url, status, fetch_time, CAST(score AS DOUBLE) AS score
FROM crawldb
WHERE status = 1 AND regexp_matches(url, '/doc/\\d*[02468]$') AND score >= 2.0
""",
        # ---- T14 readdb dump with a real JEXL -expr -------------------------
        # status 'db_fetched' = 2; 2023-12-01T00:00:00Z = 1701388800000 ms
        # (the JexlUtil date rewrite); =~ is Java String.matches (anchored)
        "jexl_dump": f"""
WITH {_CRAWLDB_CTE}
SELECT url, status, fetch_time, CAST(score AS DOUBLE) AS score
FROM crawldb
WHERE status = 2 AND score > 3.5 AND fetch_time < 1701388800000
  AND regexp_matches(url, '^(?:.*[02468])$')
""",
        # ---- J3 generate-mark writeback ------------------------------------
        "mark_generated": f"""
WITH {_CRAWLDB_CTE}
SELECT url, status,
  CAST(CASE WHEN status = 1 THEN {GEN_NOW} END AS BIGINT) AS gen_time
FROM crawldb
""",
        # ---- J5 linkdb merge ----------------------------------------------
        "linkdb_merge": """
WITH dn AS (SELECT COUNT(*) AS n FROM documents),
ks AS (SELECT doc_id FROM documents),
o1 AS (
  SELECT 'http://host' || CAST(tid % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(tid AS VARCHAR) AS url,
    'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS from_url,
    'a' || CAST(k AS VARCHAR) AS anchor, doc_id % 40 AS fh, tid % 40 AS th
  FROM (SELECT doc_id, k, (doc_id * 7 + k * 13 + 1) % dn.n AS tid
        FROM ks, (SELECT unnest([0, 1]) AS k), dn)
),
o2 AS (
  SELECT 'http://host' || CAST(tid % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(tid AS VARCHAR) AS url,
    'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS from_url,
    'a' || CAST(k AS VARCHAR) AS anchor, doc_id % 40 AS fh, tid % 40 AS th
  FROM (SELECT doc_id, k, (doc_id * 11 + k * 13 + 3) % dn.n AS tid
        FROM ks, (SELECT unnest([0, 1]) AS k), dn)
),
inv1 AS (
  SELECT url, from_url, anchor FROM (
    SELECT *, row_number() OVER (PARTITION BY url ORDER BY from_url, anchor) AS rn
    FROM (SELECT DISTINCT url, from_url, anchor FROM o1 WHERE fh <> th)
  ) WHERE rn <= 3
),
inv2 AS (
  SELECT url, from_url, anchor FROM (
    SELECT *, row_number() OVER (PARTITION BY url ORDER BY from_url, anchor) AS rn
    FROM (SELECT DISTINCT url, from_url, anchor FROM o2 WHERE fh <> th)
  ) WHERE rn <= 3
),
u AS (SELECT DISTINCT * FROM (SELECT * FROM inv1 UNION ALL SELECT * FROM inv2)),
r AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY from_url, anchor) AS rn FROM u
)
SELECT url, from_url, anchor FROM r WHERE rn <= 3
""",
        # ---- A1 stats -----------------------------------------------------
        "crawldb_stats": f"""
WITH {_CRAWLDB_CTE}
SELECT status,
  CASE status WHEN 1 THEN 'db_unfetched' WHEN 2 THEN 'db_fetched'
              WHEN 3 THEN 'db_gone' WHEN 6 THEN 'db_notmodified' END AS status_name,
  COUNT(*) AS count,
  CAST(MIN(score) AS DOUBLE) AS min_score,
  CAST(MAX(score) AS DOUBLE) AS max_score,
  CAST(AVG(score) AS DOUBLE) AS avg_score,
  CAST(SUM(score) AS DOUBLE) AS sum_score,
  MIN(fetch_time) AS min_fetch_time,
  MAX(fetch_time) AS max_fetch_time,
  MIN(fetch_interval) AS min_interval,
  MAX(fetch_interval) AS max_interval
FROM crawldb GROUP BY status
""",
        # ---- A2 topN ------------------------------------------------------
        "readdb_topn": f"""
WITH {_CRAWLDB_CTE}
SELECT url, CAST(score AS DOUBLE) AS score
FROM crawldb ORDER BY score DESC, url ASC LIMIT 100
""",
        # ---- A4 hostdb ----------------------------------------------------
        "hostdb_stats": f"""
WITH {_CRAWLDB_CTE}
SELECT 'host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS host,
  COUNT(*) AS n_urls,
  COUNT(*) FILTER (WHERE status = 1) AS n_db_unfetched,
  COUNT(*) FILTER (WHERE status = 2) AS n_db_fetched,
  COUNT(*) FILTER (WHERE status = 3) AS n_db_gone,
  COUNT(*) FILTER (WHERE status = 6) AS n_db_notmodified,
  COUNT(*) FILTER (WHERE status <> 1) AS n_tried,
  MAX(fetch_time) AS last_fetch_time
FROM crawldb GROUP BY 1
""",
        # ---- A4/T14 readhostdb -expr ---------------------------------------
        # JEXL 'ok gt 0 && fetched > notModified && redirs == 0' over the
        # hostdb counters; the fixture has no redirect statuses so redirs=0
        "readhostdb_expr": f"""
WITH {_CRAWLDB_CTE},
h AS (
  SELECT 'host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS host,
    COUNT(*) AS n_urls,
    COUNT(*) FILTER (WHERE status = 1) AS n_db_unfetched,
    COUNT(*) FILTER (WHERE status = 2) AS n_db_fetched,
    COUNT(*) FILTER (WHERE status = 3) AS n_db_gone,
    COUNT(*) FILTER (WHERE status = 6) AS n_db_notmodified
  FROM crawldb GROUP BY 1
)
SELECT host, n_urls, n_db_unfetched, n_db_fetched, n_db_gone, n_db_notmodified
FROM h
WHERE (n_db_fetched + n_db_notmodified) > 0 AND n_db_fetched > n_db_notmodified
""",
        # ---- S9 indexing job ----------------------------------------------
        # indexable = db_fetched/db_notmodified; fields per
        # BasicIndexingFilter (domain/host/content/title/tstamp) + the
        # IndexerMapReduce digest/boost stamps
        "index_docs": f"""
WITH {_CRAWLDB_CTE}
SELECT url,
  'example.com' AS domain,
  'host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS host,
  regexp_replace(substr(text, 1, 10000), '[\\x00-\\x1f\\x7f]', ' ', 'g') AS content,
  NULLIF(regexp_replace(substr(text, 1, 100), '[\\x00-\\x1f\\x7f]', ' ', 'g'), '') AS title,
  fetch_time AS tstamp,
  signature AS digest,
  CAST(score AS DOUBLE) AS boost,
  COALESCE(array_to_string(list_filter([
    CASE WHEN (url LIKE '%/doc/1%' OR url LIKE '%/doc/2%')
          AND url NOT LIKE '%/doc/12%' THEN 'docs-low' END,
    CASE WHEN url LIKE '%host5.example.com%' OR url LIKE '%host15.%'
         THEN 'host-five' END
  ], x -> x IS NOT NULL), ' '), '') AS subcollection
FROM crawldb WHERE status IN (2, 6)
""",
        # ---- S9 exchange routing (JEXL over the doc context) ----------------
        # 'high_boost': boost(=score) >= 8.0; 'host_teens': anchored
        # String.matches on host; 'untitled': null-safe == null on title
        "exchange_routes": f"""
WITH {_CRAWLDB_CTE}
SELECT url,
  COALESCE(array_to_string(list_filter([
    CASE WHEN score >= 8.0 THEN 'high_boost' END,
    CASE WHEN regexp_matches(
      'host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com',
      '^(?:host1[0-9].example.com)$') THEN 'host_teens' END,
    CASE WHEN NULLIF(regexp_replace(substr(text, 1, 100),
      '[\\x00-\\x1f\\x7f]', ' ', 'g'), '') IS NULL THEN 'untitled' END
  ], x -> x IS NOT NULL), ' '), '') AS writers
FROM crawldb WHERE status IN (2, 6)
""",
        # ---- T7 404 purge -------------------------------------------------
        "crawldb_404_purge": f"""
WITH {_CRAWLDB_CTE}
SELECT url, status FROM crawldb WHERE status <> 3
""",
        # ---- T6 domain + fast url filters ---------------------------------
        # allowlist keeps hosts 3/17/21; the host17-scoped DenyPath ^/doc/1
        # then vetoes doc ids whose decimal form starts with 1
        "urlfilter_domain": f"""
WITH {_CRAWLDB_CTE}
SELECT url, status FROM crawldb
WHERE doc_id % 40 IN (3, 17, 21)
  AND NOT (doc_id % 40 = 17 AND CAST(doc_id AS VARCHAR) LIKE '1%')
""",
        # ---- S10 sitemap processor ----------------------------------------
        # overwrite=False: crawldb rows pass through untouched; the fresh
        # doc_id+1000000 urls enter as db_unfetched with the sitemap's
        # priority (dyadic), changefreq interval table, and UTC lastmod
        "sitemap_merge": f"""
WITH {_CRAWLDB_CTE}
SELECT url, status, fetch_time, fetch_interval,
  CAST(score AS DOUBLE) AS score, modified_time
FROM crawldb
UNION ALL
SELECT
  'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
    || CAST(doc_id + 1000000 AS VARCHAR) AS url,
  1 AS status,
  CAST({UPD_NOW} AS BIGINT) AS fetch_time,
  CAST(CASE doc_id % 8 WHEN 0 THEN 1 WHEN 1 THEN 3600 WHEN 2 THEN 86400
       WHEN 3 THEN 604800 WHEN 4 THEN 2592000 WHEN 5 THEN 31536000
       WHEN 6 THEN 2147483647 ELSE 2592000 END AS INTEGER) AS fetch_interval,
  CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id % 4) / 4.0 ELSE 0.5 END AS DOUBLE) AS score,
  CAST(CASE WHEN doc_id % 3 = 0
       THEN 1704067200000 + (doc_id % 28) * 86400000 ELSE 0 END AS BIGINT) AS modified_time
FROM documents WHERE doc_id < 400 AND doc_id % 5 = 0
""",
        # ---- A5 domain stats ----------------------------------------------
        "domain_stats": f"""
WITH {_CRAWLDB_CTE}
SELECT 'host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS key,
  COUNT(*) AS n_urls,
  COUNT(*) FILTER (WHERE status = 2) AS n_fetched,
  COUNT(*) FILTER (WHERE status = 1) AS n_unfetched
FROM crawldb GROUP BY 1
""",
        # ---- A5 suffix/tld stats ------------------------------------------
        # independent restatement: the suffix per row follows from the
        # deterministic host construction (rotation by doc_id%8, IP rows
        # at doc_id%97=0 -> NULL suffix), tld = last label of the suffix
        "suffix_stats": """
WITH db AS (
  SELECT CASE WHEN doc_id % 97 = 0 THEN NULL
         ELSE CASE doc_id % 8 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
              WHEN 2 THEN 'org' WHEN 3 THEN 'de' WHEN 4 THEN 'com.au'
              WHEN 5 THEN 'barbaz' WHEN 6 THEN 'io' ELSE 'co.jp' END END AS sfx,
         CAST(doc_id % 2 + 1 AS INTEGER) AS status
  FROM documents
)
SELECT sfx AS key, COUNT(*) AS n_urls,
  COUNT(*) FILTER (WHERE status = 2) AS n_fetched,
  COUNT(*) FILTER (WHERE status = 1) AS n_unfetched,
  'suffix' AS mode
FROM db GROUP BY 1
UNION ALL
SELECT CASE sfx WHEN 'co.uk' THEN 'uk' WHEN 'com.au' THEN 'au'
       WHEN 'co.jp' THEN 'jp' ELSE sfx END AS key,
  COUNT(*) AS n_urls,
  COUNT(*) FILTER (WHERE status = 2) AS n_fetched,
  COUNT(*) FILTER (WHERE status = 1) AS n_unfetched,
  'tld' AS mode
FROM db GROUP BY 1
""",
        # ---- J7 segment merge ---------------------------------------------
        "segment_merge": f"""
WITH {_CRAWLDB_CTE}
SELECT url,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE status END AS INTEGER) AS status,
  CAST(CASE WHEN doc_id % 2 = 0 THEN fetch_time + 5000 ELSE fetch_time END AS BIGINT) AS fetch_time,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 20 ELSE 10 END AS BIGINT) AS gen_time
FROM crawldb
""",
        # ---- S10 free generator -------------------------------------------
        "free_generate": f"""
SELECT
  'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
    || CAST(doc_id AS VARCHAR) AS url,
  CAST(doc_id % 7 AS DOUBLE) AS score,
  CAST(2592000 AS INTEGER) AS fetch_interval,
  CAST({UPD_NOW} AS BIGINT) AS gen_time
FROM documents
""",
        # ---- T13 text profile signature -----------------------------------
        "text_profile_sig": """
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+'),
                       t -> length(t) > 2)) AS tok
  FROM documents
),
counts AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
q AS (SELECT *, MAX(cnt) OVER (PARTITION BY doc_id) AS maxf FROM counts),
q2 AS (
  SELECT *, CASE WHEN CAST(FLOOR(maxf * 0.01 + 0.5) AS BIGINT) >= 2
                 THEN CAST(FLOOR(maxf * 0.01 + 0.5) AS BIGINT)
                 WHEN maxf > 1 THEN 2 ELSE 1 END AS qq
  FROM q
),
kept AS (
  SELECT doc_id, tok, (cnt // qq) * qq AS qcnt, qq FROM q2
  WHERE (cnt // qq) * qq >= qq
),
prof AS (
  SELECT doc_id,
    string_agg(tok || ' ' || CAST(qcnt AS VARCHAR), chr(10) ORDER BY qcnt DESC, tok) AS p
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, md5(COALESCE(prof.p, '')) AS signature
FROM documents d LEFT JOIN prof ON prof.doc_id = d.doc_id
""",
        # ---- A6 linkrank (2 unrolled iterations) --------------------------
        "linkrank": """
WITH links AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
        || CAST(doc_id AS VARCHAR) AS src,
      'http://host' || CAST(tid % 40 AS VARCHAR) || '.example.com/doc/'
        || CAST(tid AS VARCHAR) AS dst
    FROM (SELECT doc_id, (doc_id * 7 + k * 13 + 1) % (SELECT COUNT(*) FROM documents) AS tid
          FROM documents, (SELECT unnest([0, 1, 2]) AS k))
  ) WHERE src <> dst
),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM links GROUP BY src),
nodes AS (SELECT DISTINCT url FROM
          (SELECT src AS url FROM links UNION ALL SELECT dst FROM links)),
params AS (SELECT 1.0 / COUNT(*) AS rank_one FROM nodes),
s0 AS (SELECT url, 1.0 AS score FROM nodes),
t1 AS (
  SELECT l.dst, round(SUM(s.score / od.outdeg), 9) AS tot
  FROM links l JOIN s0 s ON s.url = l.src JOIN outdeg od ON od.src = l.src
  GROUP BY l.dst
),
s1 AS (
  SELECT n.url, round((1.0 - 0.85) + 0.85 * (p.rank_one + COALESCE(t1.tot, 0.0)), 9) AS score
  FROM nodes n CROSS JOIN params p LEFT JOIN t1 ON t1.dst = n.url
),
t2 AS (
  SELECT l.dst, round(SUM(s.score / od.outdeg), 9) AS tot
  FROM links l JOIN s1 s ON s.url = l.src JOIN outdeg od ON od.src = l.src
  GROUP BY l.dst
),
s2 AS (
  SELECT n.url, round((1.0 - 0.85) + 0.85 * (p.rank_one + COALESCE(t2.tot, 0.0)), 9) AS score
  FROM nodes n CROSS JOIN params p LEFT JOIN t2 ON t2.dst = n.url
)
SELECT url, round(score, 6) AS score FROM s2
""",
        # ---- linkdumper inlink detail ---------------------------------------
        "link_dump": """
WITH links AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'http://host' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/doc/'
        || CAST(doc_id AS VARCHAR) AS src,
      'http://host' || CAST(tid % 40 AS VARCHAR) || '.example.com/doc/'
        || CAST(tid AS VARCHAR) AS dst
    FROM (SELECT doc_id, (doc_id * 7 + k * 13 + 1) % (SELECT COUNT(*) FROM documents) AS tid
          FROM documents, (SELECT unnest([0, 1, 2]) AS k))
  ) WHERE src <> dst
),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM links GROUP BY src),
nodes AS (SELECT DISTINCT url FROM
          (SELECT src AS url FROM links UNION ALL SELECT dst FROM links)),
params AS (SELECT 1.0 / COUNT(*) AS rank_one FROM nodes),
s0 AS (SELECT url, 1.0 AS score FROM nodes),
t1 AS (
  SELECT l.dst, round(SUM(s.score / od.outdeg), 9) AS tot
  FROM links l JOIN s0 s ON s.url = l.src JOIN outdeg od ON od.src = l.src
  GROUP BY l.dst
),
s1 AS (
  SELECT n.url, round((1.0 - 0.85) + 0.85 * (p.rank_one + COALESCE(t1.tot, 0.0)), 9) AS score
  FROM nodes n CROSS JOIN params p LEFT JOIN t1 ON t1.dst = n.url
),
t2 AS (
  SELECT l.dst, round(SUM(s.score / od.outdeg), 9) AS tot
  FROM links l JOIN s1 s ON s.url = l.src JOIN outdeg od ON od.src = l.src
  GROUP BY l.dst
),
s2 AS (
  SELECT n.url, round((1.0 - 0.85) + 0.85 * (p.rank_one + COALESCE(t2.tot, 0.0)), 9) AS score
  FROM nodes n CROSS JOIN params p LEFT JOIN t2 ON t2.dst = n.url
),
indeg AS (SELECT dst AS url, COUNT(*) AS num_inlinks FROM links GROUP BY dst),
node AS (
  SELECT n.url,
         COALESCE(i.num_inlinks, 0) AS num_inlinks,
         COALESCE(o.outdeg, 0) AS num_outlinks,
         s.score
  FROM nodes n
  LEFT JOIN indeg i ON i.url = n.url
  LEFT JOIN outdeg o ON o.src = n.url
  JOIN s2 s ON s.url = n.url
),
inv AS (
  SELECT l.dst AS url, l.src AS from_url,
         n.num_inlinks, n.num_outlinks,
         round(n.score, 6) AS inlink_score,
         round(CASE WHEN n.num_outlinks > 0
               THEN round(n.score / n.num_outlinks, 9) ELSE 0.0 END, 6) AS outlink_score,
         row_number() OVER (PARTITION BY l.dst ORDER BY l.src ASC) AS rn
  FROM links l JOIN node n ON n.url = l.src
)
SELECT url, from_url,
  CAST(num_inlinks AS BIGINT) AS num_inlinks,
  CAST(num_outlinks AS BIGINT) AS num_outlinks,
  inlink_score, outlink_score
FROM inv WHERE rn <= 2
""",
        # ---- text analysis ------------------------------------------------
        "text_analysis": f"""
WITH base AS (
  SELECT doc_id, text, {lang_counts}
  FROM documents
)
SELECT doc_id,
  CAST(CASE WHEN length(trim(COALESCE(text, ''))) = 0 THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS INTEGER) AS n_tokens,
  CAST(len(regexp_extract_all(COALESCE(text, ''), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
  {lang_case} AS lang_pred,
  md5(regexp_replace(trim(lower(COALESCE(text, ''))), '\\s+', ' ', 'g')) AS fingerprint
FROM base
""",
        # ---- quality ------------------------------------------------------
        "quality_score": f"""
WITH f0 AS (
  SELECT doc_id,
    length(text) AS n_chars,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
    {en_stop} AS n_stop
  FROM documents
),
f1 AS (
  SELECT *, CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END AS safe,
         CASE WHEN n_tokens > 0 THEN n_tokens ELSE 1 END AS safe_tok
  FROM f0
),
f2 AS (
  SELECT doc_id, n_chars,
    round(CAST(n_alpha AS DOUBLE) / safe, 6) AS alpha_ratio,
    round(CAST(n_punct AS DOUBLE) / safe, 6) AS punct_ratio,
    round(CAST(n_stop AS DOUBLE) / safe_tok, 6) AS stopword_ratio
  FROM f1
)
SELECT doc_id, alpha_ratio, stopword_ratio,
  round(
    0.4 * LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
    + 0.3 * LEAST(alpha_ratio * 1.25, 1.0)
    + 0.2 * LEAST(stopword_ratio * 5.0, 1.0)
    + 0.1 * (1.0 - LEAST(punct_ratio * 10.0, 1.0)),
  6) AS quality
FROM f2
""",
        # ---- exact dedup --------------------------------------------------
        "exact_dup_groups": """
WITH dd AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
),
fp AS (
  SELECT doc_id, md5(regexp_replace(trim(lower(COALESCE(text, ''))), '\\s+', ' ', 'g')) AS fp
  FROM dd
)
SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
FROM fp GROUP BY fp HAVING COUNT(*) > 1
""",
        # ---- ngram jaccard ------------------------------------------------
        "ngram_jaccard": """
WITH dd AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
),
norm AS (
  SELECT doc_id, regexp_replace(trim(lower(COALESCE(text, ''))), '\\s+', ' ', 'g') AS nt FROM dd
),
w AS (SELECT doc_id, nt, string_split(nt, ' ') AS words FROM norm),
g AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
         THEN list_distinct(list_transform(range(1, len(words) - 1),
              i -> array_to_string(words[i:i+2], ' ')))
         ELSE [nt] END AS grams
  FROM w
),
sh AS (SELECT doc_id, unnest(grams) AS shingle FROM g),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT doc_a, doc_b,
    round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.8
""",
        # ---- embedding topk ----------------------------------------------
        "embedding_topk": """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 8),
p AS (
  SELECT q.query_id, e.vec_id,
    list_reduce(list_transform(list_zip(e.emb, q.qe), z -> z[1] * z[2]),
                (x, y) -> x + y) AS dp,
    sqrt(list_reduce(list_transform(e.emb, x -> x * x), (x, y) -> x + y)) AS na,
    sqrt(list_reduce(list_transform(q.qe, x -> x * x), (x, y) -> x + y)) AS nq
  FROM e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
r AS (
  SELECT query_id, vec_id, CASE WHEN na * nq = 0 THEN 0.0 ELSE round(dp / (na * nq), 6) END AS cosine_sim,
    CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY (CASE WHEN na * nq = 0 THEN 0.0 ELSE round(dp / (na * nq), 6) END) DESC, vec_id ASC
    ) AS INTEGER) AS rank
  FROM p
)
SELECT query_id, vec_id, cosine_sim, rank FROM r WHERE rank <= 10
""",
        # ---- F6/F7 fetch statuses -----------------------------------------
        # seeds = doc_id < 40 (2 per host over 20 hosts); robots fixtures
        # never gate them (host0's /private/ disallow matches no seed path,
        # crawl_delay 8s < fetcher.max.crawl.delay 30s); statuses follow
        # the scripted outcome chain of _web()
        "fetch_statuses": """
SELECT 'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/'
    || CAST(doc_id AS VARCHAR) AS url,
  CAST(CASE WHEN doc_id % 17 = 0 THEN 37
            WHEN doc_id % 29 = 0 THEN 34
            WHEN doc_id % 23 = 0 THEN 36
            ELSE 33 END AS INTEGER) AS status
FROM documents WHERE doc_id < 40
""",
        # ---- T16/T17 parse outlinks + OPIC link scores --------------------
        # every _web doc has exactly one link span (to (doc*7+1)%n) and
        # one media span -> validCount 2, link_score = 1.0/2
        "parse_outlinks": """
-- links-to-self are dropped on the raw target (filterNormalize,
-- ParseOutputFormat.java:406-408): the doc link self-collides iff
-- tgt = doc_id (never with an even document count, guard kept as the
-- exact twin); a self-linking page's media link would then take the
-- full OPIC share (validCount 1)
WITH dn AS (SELECT COUNT(*) AS n FROM documents),
b AS (
  SELECT doc_id, doc_id % 20 AS h, (doc_id * 7 + 1) % dn.n AS tgt
  FROM documents, dn
)
SELECT 'http://host' || CAST(h AS VARCHAR) || '.example.com/doc/'
    || CAST(doc_id AS VARCHAR) AS url,
  'http://host' || CAST(tgt % 20 AS VARCHAR) || '.example.com/doc/'
    || CAST(tgt AS VARCHAR) AS to_url,
  'anchor ' || CAST(tgt AS VARCHAR) AS anchor,
  CAST(0 AS INTEGER) AS pos, CAST(0.5 AS DOUBLE) AS link_score
FROM b WHERE tgt <> doc_id
UNION ALL
SELECT 'http://host' || CAST(h AS VARCHAR) || '.example.com/doc/'
    || CAST(doc_id AS VARCHAR),
  'http://host' || CAST(h AS VARCHAR) || '.example.com/media/'
    || CAST(doc_id AS VARCHAR) || '.img',
  'img', CAST(1 AS INTEGER),
  CAST(CASE WHEN tgt = doc_id THEN 1.0 ELSE 0.5 END AS DOUBLE)
FROM b
""",
        # ---- HTML meta directives (HTMLMetaProcessor) ---------------------
        # replays the reference's case-insensitive substring screens
        # over the exact content strings the fixture feeds the engine
        "meta_directives": """
WITH b AS (
  SELECT doc_id,
    'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS url,
    doc_id % 11 AS m,
    CAST(doc_id % 9 AS VARCHAR) AS rt,
    CAST(doc_id % 5 AS VARCHAR) AS bb
  FROM documents
),
d AS (
  SELECT *,
    CASE WHEN m = 0 THEN 'noindex,nofollow,noarchive' WHEN m = 1 THEN 'NoNe'
         WHEN m = 2 THEN 'all' WHEN m = 5 THEN '' END AS robots,
    CASE WHEN m = 1 THEN 'no-cache' END AS pragma,
    CASE WHEN m = 3 THEN rt || ';url=http://r' || bb || '.example.com/t'
         WHEN m = 5 THEN 'abc'
         WHEN m = 6 THEN rt
         WHEN m = 7 THEN rt || ';url=' END AS refresh_content,
    -- m=8: the second (href-less) <base> is skipped, the first wins;
    -- m=9: the LAST resolving <base> wins
    CASE WHEN m = 4 OR m = 8 THEN 'http://base' || bb || '.example.com/b/'
         WHEN m = 9 THEN 'http://base' || bb || '.example.com/n/' END AS base_href
  FROM b
),
e AS (
  SELECT *,
    TRY_CAST(regexp_extract(refresh_content, '^([^;]*)', 1) AS INTEGER) AS rtime
  FROM d
)
SELECT url,
  CAST(CASE WHEN robots IS NOT NULL AND (contains(lower(robots), 'noindex')
        OR contains(lower(robots), 'none')) THEN 1 ELSE 0 END AS INTEGER) AS no_index,
  CAST(CASE WHEN robots IS NOT NULL AND (contains(lower(robots), 'nofollow')
        OR contains(lower(robots), 'none')) THEN 1 ELSE 0 END AS INTEGER) AS no_follow,
  CAST(CASE WHEN (robots IS NOT NULL AND contains(lower(robots), 'noarchive'))
        OR (pragma IS NOT NULL AND contains(lower(pragma), 'no-cache'))
        THEN 1 ELSE 0 END AS INTEGER) AS no_cache,
  base_href,
  CAST(CASE WHEN rtime IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS refresh,
  rtime AS refresh_time,
  CASE WHEN rtime IS NOT NULL THEN
    CASE WHEN m = 3 THEN 'http://r' || bb || '.example.com/t' ELSE url END
  END AS refresh_href,
  robots
FROM e
""",
        # ---- meta directives through parse() ------------------------------
        # nofollow (m=0) kills the page's outlink row; refresh (m=1)
        # adds a LINKED datum at the target. chooseRepr: every fixture
        # host shares domain example.com, both paths non-root, equal
        # host label counts -> temp refresh (time<5) reprs the SOURCE,
        # perm refresh reprs the target (recorded as NULL since equal)
        "parse_meta_effects": """
WITH dn AS (SELECT COUNT(*) AS n FROM documents),
b AS (
  SELECT doc_id, doc_id % 6 AS m, (doc_id * 7 + 1) % dn.n AS tgt,
    'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/'
      || CAST(doc_id AS VARCHAR) AS from_url
  FROM documents, dn
)
SELECT 'http://host' || CAST(tgt % 20 AS VARCHAR) || '.example.com/doc/'
    || CAST(tgt AS VARCHAR) AS url,
  from_url,
  'a' || CAST(tgt AS VARCHAR) AS anchor,
  CAST(NULL AS VARCHAR) AS repr_url,
  CAST(1.0 AS DOUBLE) AS score,
  CAST(2592000 AS INTEGER) AS fetch_interval
FROM b WHERE m <> 0 AND tgt <> doc_id
UNION ALL
SELECT 'http://host' || CAST((doc_id + 3) % 20 AS VARCHAR) || '.example.com/r/'
    || CAST(doc_id AS VARCHAR),
  from_url,
  CAST(NULL AS VARCHAR),
  CASE WHEN doc_id % 9 < 5 THEN from_url END,
  CAST(0.0 AS DOUBLE),
  CAST(0 AS INTEGER)
FROM b WHERE m = 1
""",
        # ---- T12 span signature -------------------------------------------
        "span_signature": """
WITH dn AS (SELECT COUNT(*) AS n FROM documents),
b AS (
  SELECT doc_id, text, doc_id % 20 AS h, (doc_id * 7 + 1) % dn.n AS tgt
  FROM documents, dn
)
SELECT 'http://host' || CAST(h AS VARCHAR) || '.example.com/doc/'
    || CAST(doc_id AS VARCHAR) AS url,
  md5(
    'text' || chr(30) || substr(text, 1, 120) || chr(30) || '' || chr(30) || '0'
    || chr(31) ||
    'link' || chr(30) || 'anchor ' || CAST(tgt AS VARCHAR) || chr(30)
      || 'http://host' || CAST(tgt % 20 AS VARCHAR) || '.example.com/doc/'
      || CAST(tgt AS VARCHAR) || chr(30) || '1'
    || chr(31) ||
    'media' || chr(30) || 'img' || chr(30)
      || 'http://host' || CAST(h AS VARCHAR) || '.example.com/media/'
      || CAST(doc_id AS VARCHAR) || '.img' || chr(30) || '2'
  ) AS signature
FROM b
""",
        # ---- sessionization -----------------------------------------------
        "sessionize": """
WITH e AS (
  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ms,
    CAST(value AS DECIMAL(18,6)) AS v
  FROM events
),
m AS (
  SELECT *, CASE WHEN ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms)
                      > 21600000 THEN 1 ELSE 0 END AS brk
  FROM e
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ms) AS sid FROM m
)
SELECT user_id,
  MIN(ms) AS session_start_ms,
  MAX(ms) AS session_end_ms,
  COUNT(*) AS n_events,
  CAST(SUM(v) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sid
""",
        # ---- events window ------------------------------------------------
        "events_window": """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
  event_type,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
  MIN(value) AS min_value,
  MAX(value) AS max_value
FROM events GROUP BY 1, 2
""",
    }
