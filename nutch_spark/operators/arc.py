"""ARC archive ingestion — ArcSegmentCreator parity (the last
import-format gap from VERDICT r02).

Reference surface (``src/java/org/apache/nutch/tools/arc/``):

- ``ArcRecordReader.java``: an ARC file is a concatenation of gzip
  members; each member decompresses to a one-line header
  ``URL IP-address Archive-date Content-type [Archive-length]``
  followed by the record's raw bytes (:286-304 — the first newline
  separates header from payload).
- ``ArcSegmentCreator.java:290-351`` (the mapper, a fetcher
  replacement): header split on whitespace — url, [1]=ip,
  [2]="version" (the archive date, stored into content metadata key
  ``arc.url.version``), [3]=content type; ``filedesc://`` version
  blocks skipped (:301-304); url normalized with SCOPE_FETCHER and
  url-filtered (:313-322); survivors become a
  ``STATUS_FETCH_SUCCESS`` crawl_fetch datum with the default fetch
  interval and score 1.0 (:309-310, :342-343) plus a content row, then
  flow through the regular parse/signature path (output(), :158-259 —
  "almost the same as Fetcher.output").

Spark-first design: whole ARC files are the split unit
(``spark.read.format("binaryFile")`` — standard ARCs are ~100 MB, one
task each; a 100 TB corpus is ~10^6 files, so per-file parallelism
saturates any cluster without sub-file splits). Member boundaries come
from zlib's multi-member walk (``decompressobj`` + ``unused_data``),
which is EXACT — the reference needs sub-file MapReduce splits and
therefore re-scans for gzip magic bytes, tolerating false positives
and re-reading every member from each overlapping split
(ArcRecordReader.java:220-312, the seek(startRead+1) overshoot note);
per-file units make that heuristic unnecessary. Extraction runs in
``mapInPandas`` (Arrow-batched, zero shuffle); everything downstream
(normalize/filter/datum build) is the repo's regular column pipeline.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nutch_spark.schema import STATUS_FETCH_SUCCESS
from nutch_spark.urls.filters import url_filter_cond
from nutch_spark.urls.normalizer import normalize_col

URL_VERSION_KEY = "arc.url.version"  # ArcSegmentCreator.URL_VERSION

ARC_RECORD_SCHEMA = (
    "src string, url string, ip string, archive_date string, "
    "mime string, declared_len long, content binary"
)


def iter_arc_members(data: bytes) -> Iterator[bytes]:
    """Walk the concatenated gzip members of one ARC file. zlib gives
    exact member boundaries via ``unused_data`` — no magic-byte rescan.
    A trailing truncated/corrupt member is dropped, matching the
    reference's give-up-on-error behavior (ArcRecordReader.java:317-322)."""
    buf = data
    while buf:
        d = zlib.decompressobj(wbits=31)
        try:
            # unbounded decompress of the remaining buffer always
            # finishes the current member (eof) or errors
            out = d.decompress(buf)
        except zlib.error:
            return
        if not d.eof:
            return  # truncated trailing member
        yield out
        buf = d.unused_data


def split_arc_record(member: bytes) -> tuple[str, bytes]:
    """First-newline split (ArcRecordReader.java:286-298): header line
    (trimmed) + raw payload. The reference's scan starts at index 1, so
    a pathological leading newline is part of the header there too."""
    eol = member.find(b"\n", 1)
    if eol < 0:
        return member.decode("utf-8", errors="replace").strip(), b""
    header = member[:eol].decode("utf-8", errors="replace").strip()
    return header, member[eol + 1 :]


def arc_records(files: DataFrame, include_filedesc: bool = False) -> DataFrame:
    """(path, content-bytes) rows -> one row per ARC record. ``src``
    carries the originating file for lineage. ``filedesc://`` version
    blocks are skipped unless asked for (ArcSegmentCreator.java:301-304)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                for member in iter_arc_members(bytes(blob)):
                    header, raw = split_arc_record(member)
                    parts = header.split()
                    if not parts:
                        continue
                    url = parts[0]
                    if not include_filedesc and url.startswith("filedesc://"):
                        continue
                    try:
                        declared = int(parts[4]) if len(parts) > 4 else None
                    except ValueError:
                        declared = None
                    rows.append(
                        (
                            path,
                            url,
                            parts[1] if len(parts) > 1 else None,
                            parts[2] if len(parts) > 2 else None,
                            parts[3] if len(parts) > 3 else None,
                            declared,
                            raw,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "src", "url", "ip", "archive_date", "mime",
                    "declared_len", "content",
                ],
            )

    return files.select("path", "content").mapInPandas(extract, schema=ARC_RECORD_SCHEMA)


def read_arc(spark: SparkSession, path: str, include_filedesc: bool = False) -> DataFrame:
    """Read a directory/glob of ARC files into record rows (the
    ArcInputFormat equivalent; whole files as split units)."""
    return arc_records(
        spark.read.format("binaryFile").load(path), include_filedesc=include_filedesc
    )


def arc_segment(
    records: DataFrame,
    now_ms: int,
    *,
    interval: int = 2592000,
    url_filter_rules: list[str] | None = None,
    segment_name: str | None = None,
    resolve_mime: bool = False,
) -> dict[str, DataFrame]:
    """ArcSegmentCreator.map semantics (:290-351): normalize
    (SCOPE_FETCHER) + url-filter; survivors emit

    - ``crawl_fetch``: STATUS_FETCH_SUCCESS datum, fetch_time=now,
      default interval, score 1.0 (:309-310);
    - ``content``: (url, base=url, mime, bytes) with the archive date
      under metadata key ``arc.url.version`` (:338-339).

    ``resolve_mime=True`` replaces the ARC header's content-type with
    ``MimeUtil.autoResolveContentType`` over (header, url, payload
    magic) — what the reference's ``Content`` constructor does on every
    record (protocol/Content.java:85, via util/MimeUtil.java:153-221),
    correcting mislabeled archives; pure JVM expressions
    (``data/mimeutil.py``), no extra pass. Off by default so callers
    that trust their headers keep byte-stable output.

    Parse products are composable downstream exactly as the reference
    routes output() through ParseUtil — feed ``arc_text_spans`` of the
    content table to ``operators.parse.parse``."""
    kept = (
        records.withColumn("url", normalize_col(F.col("url")))
        .filter(F.col("url").isNotNull() & url_filter_cond(F.col("url"), url_filter_rules))
    )
    if resolve_mime:
        from nutch_spark.data.mimeutil import auto_resolve_mime_col

        kept = kept.withColumn(
            "mime",
            auto_resolve_mime_col(F.col("mime"), F.col("url"), F.col("content")),
        )
    meta = F.map_from_arrays(
        F.array(F.lit(URL_VERSION_KEY)),
        F.array(F.coalesce(F.col("archive_date"), F.lit(""))),
    )
    crawl_fetch = kept.select(
        "url",
        F.lit(STATUS_FETCH_SUCCESS).alias("status"),
        F.lit(now_ms).alias("fetch_time"),
        F.lit(0).alias("retries"),
        F.lit(interval).alias("fetch_interval"),
        F.lit(1.0).alias("score"),
        meta.alias("metadata"),
    )
    content = kept.select(
        "url",
        F.col("url").alias("base"),
        "mime",
        "content",
        "archive_date",
        "src",
        *([F.lit(segment_name).alias("segment")] if segment_name else []),
    )
    return {"crawl_fetch": crawl_fetch, "content": content}


def arc_text_spans(
    content: DataFrame,
    text_mimes: tuple[str, ...] = ("text/",),
    detect_charset: bool = False,
    min_confidence: int = 50,
    statistical: bool = False,
) -> DataFrame:
    """Bridge ARC content rows into the engine's interleaved-span
    document model (input_hint): text/* payloads become a single text
    span; other mimes become a media span referencing the record url —
    so ARC-ingested pages flow through the regular parse/signature/
    index pipeline unchanged.

    ``detect_charset=True`` runs the EncodingDetector column twin
    (``data/encoding.py`` — parity with util/EncodingDetector.java,
    which the reference's parse path applies to exactly this kind of
    archived content) and decodes each payload under its detected
    charset instead of assuming UTF-8; detection and the dominant
    decodes stay JVM-side.

    ``statistical=True`` (with ``detect_charset=True``) swaps the
    JVM clue-twin's BOM/UTF-8 mini-detector for the trained byte-ngram
    sniffer (``data/charset_sniffer.py`` — the ICU CharsetDetector
    equivalent the reference uses on exactly this content): the detect
    clue becomes an Arrow-batched narrow map over the payload bytes
    (header clue still wins below min_confidence, same clue order),
    buying windows-125x / KOI8 / CJK coverage for charset-chaotic
    archives at the cost of one Python pass over text rows."""
    is_text = F.coalesce(F.col("mime"), F.lit(""))
    text_cond = None
    for m in text_mimes:
        c = is_text.startswith(m)
        text_cond = c if text_cond is None else (text_cond | c)
    if detect_charset:
        from nutch_spark.data.encoding import (
            DETECTABLES,
            MIN_LENGTH,
            decode_with_charset_col,
            detect_charset_col,
            header_charset_col,
        )

        # the DETECTABLES gate wants the bare mime (no ;charset=...);
        # the raw header doubles as the header-charset clue source
        bare_mime = F.trim(F.element_at(F.split(is_text, ";"), 1))
        if statistical:
            from nutch_spark.data.charset_sniffer import (
                statistical_charset_struct_udf,
            )

            from nutch_spark.data.charset_sniffer import SNIFF_LIMIT

            gate = bare_mime.isin(*sorted(DETECTABLES)) & (
                F.length(F.col("content")) > MIN_LENGTH
            )
            # feed the UDF only gated rows, pre-sliced to the sniffer's
            # own byte budget JVM-side: binary/non-text payloads never
            # cross the Arrow boundary, and text rows ship at most
            # SNIFF_LIMIT bytes instead of the whole payload
            sniff_input = F.when(
                gate, F.substring(F.col("content"), 1, SNIFF_LIMIT)
            )
            det = statistical_charset_struct_udf()(sniff_input)
            confident = gate & (det["conf"] >= F.lit(min_confidence))
            cs = F.lower(
                F.when(confident, det["cs"]).otherwise(
                    F.coalesce(header_charset_col(is_text), F.lit("utf-8"))
                )
            )
        else:
            cs = detect_charset_col(
                F.col("content"), bare_mime, is_text,
                default="utf-8", min_confidence=min_confidence,
            )
        decoded = decode_with_charset_col(F.col("content"), cs)
    else:
        decoded = F.col("content").cast("string")
    text_span = F.struct(
        F.lit("text").alias("kind"),
        decoded.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    media_span = F.struct(
        F.coalesce(F.col("mime"), F.lit("application/octet-stream")).alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.col("url").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    return content.withColumn(
        "spans", F.array(F.when(text_cond, text_span).otherwise(media_span))
    )
