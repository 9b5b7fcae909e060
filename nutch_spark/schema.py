"""CrawlDatum status space + table schemas, and the one owner of the
datum format: ``crawldb_schema()`` (columns and types), ``DATUM_COLS``
and ``new_datum`` (the values a new datum starts with).

Status byte ranges re-expressed from the reference
(``crawl/CrawlDatum.java:63-105``); range predicates mirror
``CrawlDatum.hasDbStatus``/``hasFetchStatus`` (``CrawlDatum.java:147-157``).

Schemas keep the hot CrawlDatum fields as top-level columns (not one
struct) so Catalyst column pruning works (SURVEY.md §4), and hoist the
two hot metadata keys (``_ngt_`` -> ``gen_time``, ``_repr_`` ->
``repr_url``) into typed columns as the reference itself special-cases
them (``metadata/Nutch.java:39-86``).

``signature`` is stored as a lowercase hex string (not binary) — easier
to compare across engines and to group on; MD5 is the default signature
(``crawl/MD5Signature.java:33-38``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- DB statuses (persisted in CrawlDb), CrawlDatum.java:63-78 ---
STATUS_DB_UNFETCHED = 0x01
STATUS_DB_FETCHED = 0x02
STATUS_DB_GONE = 0x03
STATUS_DB_REDIR_TEMP = 0x04
STATUS_DB_REDIR_PERM = 0x05
STATUS_DB_NOTMODIFIED = 0x06
STATUS_DB_DUPLICATE = 0x07
STATUS_DB_ORPHAN = 0x08

# --- Fetch statuses (segment-only), CrawlDatum.java:80-93 ---
STATUS_FETCH_SUCCESS = 0x21
STATUS_FETCH_RETRY = 0x22
STATUS_FETCH_REDIR_TEMP = 0x23
STATUS_FETCH_REDIR_PERM = 0x24
STATUS_FETCH_GONE = 0x25
STATUS_FETCH_NOTMODIFIED = 0x26

# --- Transient statuses (crawl_parse / inject), CrawlDatum.java:95-105 ---
STATUS_SIGNATURE = 0x41
STATUS_INJECTED = 0x42
STATUS_LINKED = 0x43
STATUS_PARSE_META = 0x44

STATUS_NAMES = {
    STATUS_DB_UNFETCHED: "db_unfetched",
    STATUS_DB_FETCHED: "db_fetched",
    STATUS_DB_GONE: "db_gone",
    STATUS_DB_REDIR_TEMP: "db_redir_temp",
    STATUS_DB_REDIR_PERM: "db_redir_perm",
    STATUS_DB_NOTMODIFIED: "db_notmodified",
    STATUS_DB_DUPLICATE: "db_duplicate",
    STATUS_DB_ORPHAN: "db_orphan",
    STATUS_FETCH_SUCCESS: "fetch_success",
    STATUS_FETCH_RETRY: "fetch_retry",
    STATUS_FETCH_REDIR_TEMP: "fetch_redir_temp",
    STATUS_FETCH_REDIR_PERM: "fetch_redir_perm",
    STATUS_FETCH_GONE: "fetch_gone",
    STATUS_FETCH_NOTMODIFIED: "fetch_notmodified",
    STATUS_SIGNATURE: "signature",
    STATUS_INJECTED: "injected",
    STATUS_LINKED: "linked",
    STATUS_PARSE_META: "parse_metadata",
}


def has_db_status(status: int) -> bool:
    """CrawlDatum.hasDbStatus — status in the DB byte range (≤ 0x1f)."""
    return 0 < status <= 0x1F


def has_fetch_status(status: int) -> bool:
    """CrawlDatum.hasFetchStatus — status in the fetch byte range."""
    return 0x20 <= status <= 0x3F


# Metadata keys (metadata/Nutch.java:33-86). The two hot ones are hoisted
# to typed columns; the rest live in the open string->string metadata map.
META_GENERATE_TIME = "_ngt_"
META_REPR_URL = "_repr_"
META_FIXED_INTERVAL = "fixedInterval"
META_VARIABLE_FETCH_DELAY = "_variableFetchDelay_"


def crawldb_schema() -> T.StructType:
    """The CrawlDb / frontier table (CrawlDatum fields, CrawlDatum.java:138-145).

    ``fetch_time`` carries the *next scheduled* fetch in the db and the
    *actual* fetch time in segment outputs — the same dual meaning the
    reference documents at CrawlDatum.java:201-218.
    """
    return T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("status", T.IntegerType(), False),
            T.StructField("fetch_time", T.LongType(), False),
            T.StructField("retries", T.IntegerType(), False),
            T.StructField("fetch_interval", T.IntegerType(), False),
            T.StructField("score", T.FloatType(), False),
            T.StructField("signature", T.StringType(), True),
            T.StructField("modified_time", T.LongType(), False),
            T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
            T.StructField("gen_time", T.LongType(), True),
            T.StructField("repr_url", T.StringType(), True),
        ]
    )


# the canonical empty metadata literal (SQL-expr form for F.expr) — one
# definition; if the metadata value type ever changes, change it here
EMPTY_META_EXPR = "cast(map() as map<string,string>)"

# the datum columns in crawldb_schema() order — every projection that
# selects a CrawlDatum out of a wider table uses this
DATUM_COLS = tuple(crawldb_schema().fieldNames())


def new_datum(
    url,
    status,
    fetch_time,
    *,
    retries=0,
    fetch_interval=0,
    score=0.0,
    signature=None,
    modified_time=0,
    metadata=None,
    gen_time=None,
    repr_url=None,
) -> list[Column]:
    """``new CrawlDatum(status, fetchInterval, score)`` plus its setters
    as the 11 datum columns, named and ordered as ``DATUM_COLS`` (the
    one record ``CrawlDatum.write`` serializes). Each argument is a Column or a Python literal and
    is cast to its ``crawldb_schema()`` type — a no-op Catalyst removes
    when the column already has it. ``metadata=None`` is the empty map.
    Callers append their extras (``anchor``, ``from_url``) after it."""
    if metadata is None:
        metadata = F.expr(EMPTY_META_EXPR)
    values = (
        url, status, fetch_time, retries, fetch_interval, score,
        signature, modified_time, metadata, gen_time, repr_url,
    )
    return [
        (v if isinstance(v, Column) else F.lit(v)).cast(f.dataType).alias(f.name)
        for f, v in zip(crawldb_schema().fields, values)
    ]


def spans_schema() -> T.ArrayType:
    """The interleaved text+media document payload (BASELINE.json input_hint)."""
    return T.ArrayType(
        T.StructType(
            [
                T.StructField("kind", T.StringType(), True),
                T.StructField("text", T.StringType(), True),
                T.StructField("media_ref", T.StringType(), True),
                T.StructField("offset", T.IntegerType(), True),
            ]
        )
    )


def docs_schema() -> T.StructType:
    """The fetchable corpus: doc_id (canonical URL) -> ordered spans."""
    return T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("spans", spans_schema(), True),
        ]
    )

