"""FileDumper + ResolveUrls — the small operator conveniences
(VERDICT r02 missing #4).

- ``tools/FileDumper.java:134-296`` + ``util/DumpFileUtil.java:40-89``:
  dump each stored content record to an individual file named
  ``<md5(url)>_<basename>.<ext>`` under a two-level fan-out directory
  (md5 chars [0][8] / [16][24]), with an optional mime-type filter, a
  ``-mimeStats``-only mode, and the ``-reverseUrlDirs`` layout
  (reversed-domain path + uppercase sha256). Mime detection: the
  reference calls Tika on the raw bytes; here the stored ``mime``
  column wins when present, else a magic-byte sniff (``detect_mime``)
  covers the formats the synthetic corpus and tests produce.

  Scale note: this is a DEBUGGING tool (the reference runs it as a
  single-process loop over local segment files); the dump streams
  through the driver via ``toLocalIterator`` on purpose — the
  distributed representation of content IS the parquet table, and
  exploding it into millions of little local files is not a cluster
  operation. Stats mode never collects content, only the mime counts.

- ``tools/ResolveUrls.java``: resolve each url's host to an IP to
  separate real dead hosts from DNS trouble. The reference spins a
  thread pool over ``InetAddress.getByName``; this environment has no
  network, so the resolver is injectable — a (host, ip) DataFrame
  (broadcast join, the same shape the byIP politeness path uses) or a
  Python callable (pandas UDF). Output keeps the reference's summary
  counts (total / resolved / errored).
"""

from __future__ import annotations

import hashlib
import os
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nutch_spark.urls.urlutil import host_expr

MAX_FILENAME = 32  # DumpFileUtil.MAX_LENGTH_OF_FILENAME
MAX_EXTENSION = 5  # DumpFileUtil.MAX_LENGTH_OF_EXTENSION

_MAGIC = [
    (b"\x1f\x8b", "application/gzip"),
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"%PDF", "application/pdf"),
    (b"PK\x03\x04", "application/zip"),
]


def detect_mime(data: bytes) -> str:
    """Magic-byte sniff standing in for Tika.detect (FileDumper:192) —
    covers the formats this engine stores; html/text by content probe,
    octet-stream fallback."""
    for magic, mime in _MAGIC:
        if data.startswith(magic):
            return mime
    head = data[:256].lstrip().lower()
    if head.startswith((b"<!doctype", b"<html", b"<head", b"<body")):
        return "text/html"
    try:
        data[:256].decode("utf-8")
        return "text/plain"
    except UnicodeDecodeError:
        return "application/octet-stream"


def url_md5(url: str) -> str:
    """DumpFileUtil.getUrlMD5: md5 hex of the url bytes."""
    return hashlib.md5(url.encode("utf-8")).hexdigest()


def two_level_dir(md5: str) -> str:
    """DumpFileUtil.createTwoLevelsDirectory fan-out: chars [0][8] then
    [16][24]."""
    return f"{md5[0]}{md5[8]}/{md5[16]}{md5[24]}"


def create_file_name(md5: str, base: str, ext: str) -> str:
    """DumpFileUtil.createFileName: 32-char base / 5-char ext caps,
    '?' stripped, '<md5>_<base>.<ext>'."""
    base = base[:MAX_FILENAME].replace("?", "")
    ext = ext[:MAX_EXTENSION].replace("?", "")
    return f"{md5}_{base}.{ext}"


def _base_and_ext(url: str) -> tuple[str, str]:
    """FilenameUtils.getBaseName/getExtension over the url string,
    empty extension defaulting to 'html' (FileDumper:182-186)."""
    seg = url.rsplit("/", 1)[-1]
    if "." in seg:
        base, ext = seg.rsplit(".", 1)
    else:
        base, ext = seg, ""
    return base, (ext or "html")


def file_dumper(
    content: DataFrame,
    out_dir: str | None,
    mime_types: list[str] | None = None,
    flat: bool = False,
    mime_type_stats: bool = False,
    reverse_url_dirs: bool = False,
) -> dict:
    """FileDumper.dump (:134-296). ``content``: (url, content binary
    [, mime]). Returns {'typeCounts': {...}, 'filteredCounts': {...},
    'files': n_written} — the reference's end-of-run stats display."""
    has_mime = "mime" in content.columns
    cols = ["url", "content"] + (["mime"] if has_mime else [])
    type_counts: dict[str, int] = {}
    filtered_counts: dict[str, int] = {}
    written = 0
    for row in content.select(*cols).toLocalIterator():
        url = row["url"]
        data = bytes(row["content"]) if row["content"] is not None else b""
        mime = (row["mime"] if has_mime else None) or detect_mime(data)
        type_counts[mime] = type_counts.get(mime, 0) + 1
        if mime_types is not None and mime not in mime_types:
            continue
        filtered_counts[mime] = filtered_counts.get(mime, 0) + 1
        if mime_type_stats or out_dir is None:
            continue
        md5 = url_md5(url)
        if reverse_url_dirs:
            # reversed-domain path + uppercase sha256 (FileDumper:225-231;
            # TableUtil.reverseUrl's host head with '.' -> '/')
            from urllib.parse import urlparse

            host = urlparse(url).netloc.rsplit("@", 1)[-1].split(":")[0]
            rev = "/".join(reversed(host.split(".")))
            full = os.path.join(
                out_dir, rev, hashlib.sha256(url.encode("utf-8")).hexdigest().upper()
            )
        else:
            sub = out_dir if flat else os.path.join(out_dir, two_level_dir(md5))
            base, ext = _base_and_ext(url)
            full = os.path.join(sub, create_file_name(md5, base, ext))
        os.makedirs(os.path.dirname(full), exist_ok=True)
        if not os.path.exists(full):  # FileDumper:246 skips existing
            with open(full, "wb") as f:
                f.write(data)
            written += 1
    return {
        "typeCounts": type_counts,
        "filteredCounts": filtered_counts,
        "files": written,
    }


def resolve_urls(
    urls: DataFrame,
    resolver: DataFrame | Callable[[str], str | None] | None = None,
) -> DataFrame:
    """ResolveUrls: (url) -> (url, host, ip, resolved). ``resolver`` is
    a (host, ip) DataFrame (broadcast-joined) or a host->ip callable
    (pandas UDF); None marks every host unresolved (no network here —
    the reference's InetAddress path needs one)."""
    with_host = urls.withColumn("host", host_expr(F.col("url")))
    if resolver is None:
        out = with_host.withColumn("ip", F.lit(None).cast("string"))
    elif isinstance(resolver, DataFrame):
        out = with_host.join(
            F.broadcast(resolver.select("host", "ip")), "host", "left"
        )
    else:
        fn = resolver

        @F.pandas_udf("string")
        def _resolve(s: pd.Series) -> pd.Series:
            return s.map(lambda h: fn(h) if h is not None else None)

        out = with_host.withColumn("ip", _resolve(F.col("host")))
    return out.select(
        "url", "host", "ip", F.col("ip").isNotNull().alias("resolved")
    )


def resolve_urls_summary(resolved: DataFrame) -> dict:
    """The reference's end-of-run counters (numTotal / numResolved /
    numErrored)."""
    row = resolved.agg(
        F.count("*").alias("total"),
        F.count(F.when(F.col("resolved"), 1)).alias("resolved"),
    ).collect()[0]
    return {
        "total": row["total"],
        "resolved": row["resolved"],
        "errored": row["total"] - row["resolved"],
    }
