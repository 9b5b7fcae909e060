"""WARC / CommonCrawl-style export (S8, ``tools/warc/WARCExporter.java``).

The reference walks segment content and emits WARC/1.0 records (type
``response`` when verbatim HTTP headers were stored, else ``resource``,
:206-212). Our simulated fetch stores no verbatim headers, so every
record is a ``resource`` record over the canonical span payload — the
same serialization the T12 span signature hashes, making each record a
deterministic pure-JVM string with an exact DuckDB oracle.

Deliberate deviation (documented): the reference stamps a random UUID
per record (:183); we derive the record id from md5(url, fetch_time) so
exports are replay-deterministic — the engine-wide injected-clock rule.

Scale: record building is a map-side column transform; the sink writes
one ``part-*.warc`` file per partition (records are already
byte-exact strings, so the writer is a plain per-partition stream —
no driver collect).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nutch_spark.operators.parse import span_signature
from nutch_spark.schema import STATUS_FETCH_SUCCESS

CRLF = "\r\n"


from nutch_spark.operators.parse import span_payload as _span_payload


def _uuid_from_md5(h: Column) -> Column:
    """Format a 32-hex md5 as 8-4-4-4-12 (deterministic record id)."""
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


def warc_records(
    content: DataFrame,
    *,
    only_successful: bool = True,
    status_col: str = "status",
) -> DataFrame:
    """Build WARC resource records for fetched content rows
    (url, status?, fetch_time, spans). Returns (url, record).

    Header set mirrors WARCExporter.java:184-249: version, record id,
    Content-Length (payload octets), WARC-Date (fetch time, ISO-8601),
    WARC-Type, WARC-Target-URI (spaces %20-escaped); body = payload
    framed by the standard CRLF pairs.
    """
    df = content
    if only_successful and status_col in df.columns:
        df = df.filter(F.col(status_col) == STATUS_FETCH_SUCCESS)
    payload = _span_payload(F.col("spans"))
    rid = _uuid_from_md5(F.md5(F.concat(F.col("url"), F.lit("|"), F.col("fetch_time").cast("string"))))
    date = F.date_format(F.timestamp_millis(F.col("fetch_time")), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    target = F.regexp_replace(F.col("url"), " ", "%20")
    record = F.concat(
        F.lit("WARC/1.0" + CRLF),
        F.lit("WARC-Record-ID: <urn:uuid:"), rid, F.lit(">" + CRLF),
        F.lit("Content-Length: "), F.octet_length(payload).cast("string"), F.lit(CRLF),
        F.lit("WARC-Date: "), date, F.lit(CRLF),
        F.lit("WARC-Type: resource" + CRLF),
        F.lit("WARC-Target-URI: "), target, F.lit(CRLF),
        F.lit(CRLF),
        payload,
        F.lit(CRLF + CRLF),
    )
    return df.select("url", record.alias("record"))


def warcinfo_record(software: str = "nutch-spark", warc_date: str = "1970-01-01T00:00:00Z") -> str:
    """File-level warcinfo header record (one per output file)."""
    body = f"software: {software}{CRLF}format: WARC File Format 1.0{CRLF}"
    return (
        f"WARC/1.0{CRLF}"
        f"WARC-Type: warcinfo{CRLF}"
        f"WARC-Date: {warc_date}{CRLF}"
        f"Content-Type: application/warc-fields{CRLF}"
        f"Content-Length: {len(body.encode())}{CRLF}"
        f"{CRLF}{body}{CRLF}{CRLF}"
    )


def write_warc(records: DataFrame, out_dir: str, software: str = "nutch-spark") -> None:
    """Write records as ``part-<n>.warc`` files, one per partition, each
    prefixed with a warcinfo record. Per-partition streaming writes —
    records never gather on the driver."""
    info = warcinfo_record(software)
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(idx: int, it):
        path = os.path.join(out_dir, f"part-{idx:05d}.warc")
        n = 0
        with open(path, "wb") as f:
            for row in it:
                if n == 0:
                    f.write(info.encode())
                f.write(row["record"].encode())
                n += 1
        if n == 0:
            os.remove(path)
        yield (idx, n)

    # rdd path: per-partition file handles need imperative IO (the one
    # legitimate mapPartitions use, SURVEY's RDD rule)
    counts = records.rdd.mapPartitionsWithIndex(write_partition).collect()
    del counts


# ---------------------------------------------------------------------------
# CommonCrawl JSON export (tools/CommonCrawlDataDumper.java +
# AbstractCommonCrawlFormat.java:99-170)
# ---------------------------------------------------------------------------

def _json_escape(c: Column) -> Column:
    """Escape backslash and double-quote — the only JSON-special chars
    the synthetic corpus can contain; explicit so the DuckDB oracle
    reproduces the byte stream without library-dependent \\uXXXX
    case differences."""
    return F.regexp_replace(c, '(["\\\\])', r"\\$1")


# Reversed-domain key prefix (CommonCrawlDataDumper.reverseUrl) — same
# transform as TableUtil's reversed storage keys; one definition.
from nutch_spark.urls.urlutil import reverse_host


def commoncrawl_records(
    pages: DataFrame,
    *,
    key_prefix: str = "",
    software: str = "nutch-spark/1.0",
) -> DataFrame:
    """One CommonCrawl-format JSON document per fetched page — the
    nested url/timestamp/request/response/key envelope of
    ``AbstractCommonCrawlFormat.getJsonData`` (:99-170), built as a
    pure JVM string concat (map-side, deterministic, no JSON library on
    either side of the oracle).

    ``pages``: (url, fetch_time, text). Our simulated fetch stores no
    verbatim HTTP headers, so the request/client and response/server
    blocks carry the same deterministic stand-ins as the WARC export;
    response.body is the parse text. Deviation (documented): timestamps
    are the epoch-ms fetch_time under the injected-clock rule, not
    wall-clock import time."""
    from nutch_spark.urls.urlutil import host_expr

    host = host_expr(F.col("url"))
    path = F.regexp_replace(F.col("url"), r"^[a-z]+://[^/]*", "")
    key = F.concat(
        F.lit(key_prefix), reverse_host(host), F.lit(":http"), path
    )
    ts = F.col("fetch_time").cast("string")
    record = F.concat(
        F.lit('{"url":"'), _json_escape(F.col("url")),
        F.lit('","timestamp":"'), ts,
        F.lit('","request":{"method":"GET","client":{"hostname":"crawler.example.com",'
              '"address":"10.0.0.1","software":"'), F.lit(software),
        F.lit('","robots":"classic","contact":{"name":"crawler",'
              '"email":"crawler@example.com"}},"headers":{"Accept":"text/html",'
              '"Accept-Encoding":"gzip","Accept-Language":"en-us",'
              '"User-Agent":"'), F.lit(software),
        F.lit('"}},"response":{"status":"200","server":{"hostname":"'), host,
        F.lit('"},"headers":{"Content-Type":"text/html"},"body":"'),
        _json_escape(F.col("text")),
        F.lit('"},"key":"'), _json_escape(key),
        F.lit('","imported":"'), ts, F.lit('"}'),
    )
    return pages.select("url", key.alias("key"), record.alias("record"))
