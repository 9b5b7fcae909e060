"""Indexing-filter battery (§2.9 IndexingFilter extension point).

The remaining index-time plugins, each as a composable pure-JVM column
transform over the indexer's joined NutchDocument rows
(``operators/indexer.index_documents``):

- index-more     (``index-more/.../MoreIndexingFilter.java:112-240``):
  type/primaryType/subType from the cleaned Content-Type with a
  URL-extension fallback detect, trimmed contentLength, lastModified,
  and the date precedence last-modified > modified_time > fetch_time.
- index-anchor   (``index-anchor/.../AnchorIndexingFilter.java:60-92``):
  inlink anchors, optional case-insensitive dedup that keeps the first
  occurrence in inlink order.
- index-metadata (``index-metadata/.../MetadataIndexer.java:57-100``):
  configured db/parse metadata keys become fields; multi-valued fields
  split on a separator, values trimmed, empties dropped.
- index-replace  (``index-replace/.../ReplaceIndexer.java`` +
  ``FieldReplacer.java``): ordered host/url-scoped regexp
  replacements, optionally into a new field.
- index-static   (``index-static/.../StaticFieldIndexer.java:43-55``):
  literal fields.
- index-links    (``index-links/.../LinksIndexingFilter.java:63-132``):
  outlink/inlink fields with hosts-only and same-host-ignore modes.
- mimetype-filter (``mimetype-filter/.../MimeTypeIndexingFilter.java:95-122``):
  prefix accept/block gate on the content type (TrieStringMatcher
  shortestMatch == "some configured line is a prefix").
- tld            (``tld/.../TLDIndexingFilter.java:48-60``): public
  domain-suffix field.
- language-identifier: ``lang`` field — ``ml.text.lang_id``'s marker
  heuristic stands in for the reference's n-gram profiles.

Scale: everything here is a map-side column expression except the two
link joins (anchor/links), which shuffle on url once and are
broadcast-able when the linkdb slice is small. No Python anywhere:
link hosts are ``urlutil.host_expr`` and the tld field is
``urlutil.tld_expr``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tika-by-url fallback: extension -> mime (Tika.detect(String name) is
# a pure filename-extension lookup; MoreIndexingFilter.java:226-239)
_EXT_MIME = {
    "html": "text/html", "htm": "text/html", "txt": "text/plain",
    "pdf": "application/pdf", "png": "image/png", "jpg": "image/jpeg",
    "jpeg": "image/jpeg", "gif": "image/gif", "xml": "application/xml",
    "json": "application/json", "js": "text/javascript", "css": "text/css",
    "zip": "application/zip", "csv": "text/csv", "mp4": "video/mp4",
    "mp3": "audio/mpeg", "wav": "audio/x-wav",
}
_DEFAULT_MIME = "application/octet-stream"


def clean_mime(ct: Column) -> Column:
    """MimeUtil.cleanMimeType (``util/MimeUtil.java:119-133``) + forName
    canonicalization: drop ';'-parameters, trim, lowercase."""
    return F.lower(F.trim(F.substring_index(ct, ";", 1)))


def detect_mime_by_url(url: Column) -> Column:
    """Extension lookup with octet-stream default."""
    ext = F.lower(F.regexp_extract(url, r"\.([A-Za-z0-9]+)(?:[?#].*)?$", 1))
    expr = F.lit(_DEFAULT_MIME)
    for e, m in _EXT_MIME.items():
        expr = F.when(ext == e, F.lit(m)).otherwise(expr)
    return expr


def more_fields(
    docs: DataFrame,
    *,
    content_type: str = "content_type",
    content_length: str = "content_length",
    last_modified: str = "last_modified",
) -> DataFrame:
    """index-more: ``type``/``type_primary``/``type_sub``,
    ``content_length`` (trimmed, null when empty), ``last_modified``
    passthrough, and ``date`` = lastModified, else modified_time when
    set, else fetch_time (MoreIndexingFilter.java:122-170).

    Expects columns ``url``, ``fetch_time``, ``modified_time`` plus the
    three named metadata columns (ms-epoch long for last_modified).
    """
    mime = F.coalesce(
        F.when(F.col(content_type).isNotNull(), clean_mime(F.col(content_type))),
        detect_mime_by_url(F.col("url")),
    )
    trimmed_len = F.trim(F.col(content_length))
    lm = F.col(last_modified)
    return docs.withColumns({
        "type": mime,
        "type_primary": F.substring_index(mime, "/", 1),
        "type_sub": F.substring_index(mime, "/", -1),
        "content_length": F.when(F.length(trimmed_len) > 0, trimmed_len),
        "last_modified": lm,
        "date": F.coalesce(
            lm,
            F.when(F.col("modified_time") > 0, F.col("modified_time")),
            F.col("fetch_time"),
        ),
    })


def _dedup_ci_keep_first(arr: Column) -> Column:
    """Case-insensitive dedup preserving first occurrence — the
    AnchorIndexingFilter HashSet walk, as one JVM aggregate fold."""
    empty = F.array().cast("array<string>")
    return F.aggregate(
        arr,
        F.struct(empty.alias("out"), empty.alias("seen")),
        lambda acc, x: F.when(
            F.array_contains(acc.seen, F.lower(x)), acc
        ).otherwise(
            F.struct(
                F.concat(acc.out, F.array(x)).alias("out"),
                F.concat(acc.seen, F.array(F.lower(x))).alias("seen"),
            )
        ),
        lambda acc: acc.out,
    )


def anchor_field(
    docs: DataFrame, linkdb: DataFrame, *, deduplicate: bool = False
) -> DataFrame:
    """index-anchor: ``anchors`` array from the page's inlinks (linkdb
    rows are (url, inlinks array<struct<from_url, anchor>>), already in
    deterministic (from_url, anchor) order)."""
    joined = docs.join(linkdb.select("url", "inlinks"), "url", "left")
    anchors = F.coalesce(
        F.transform(F.col("inlinks"), lambda l: l["anchor"]),
        F.array().cast("array<string>"),
    )
    if deduplicate:
        anchors = _dedup_ci_keep_first(anchors)
    return joined.withColumn("anchors", anchors).drop("inlinks")


def metadata_fields(
    docs: DataFrame,
    *,
    db_keys: tuple[str, ...] = (),
    parse_keys: tuple[str, ...] = (),
    meta_col: str = "metadata",
    parse_meta_col: str = "parse_metadata",
    separator: str | None = None,
    mv_fields: tuple[str, ...] = (),
) -> DataFrame:
    """index-metadata: each configured key becomes an array<string>
    field named after the key; multi-valued keys split on the
    separator; all values trimmed, empties dropped
    (MetadataIndexer.add:102-117)."""
    out = docs
    for key, src in [(k, meta_col) for k in db_keys] + [
        (k, parse_meta_col) for k in parse_keys
    ]:
        raw = F.element_at(F.col(src), key)
        if separator is not None and key in mv_fields:
            vals = F.split(raw, F.lit(separator), -1)
        else:
            vals = F.array(raw)
        # NB: lambda, not bare F.trim — transform would feed it the
        # element index as trim's second (trimStr) parameter
        cleaned = F.filter(
            F.transform(vals, lambda v: F.trim(v)), lambda v: F.length(v) > 0
        )
        out = out.withColumn(key, F.coalesce(cleaned, F.array().cast("array<string>")))
    return out


def static_fields(docs: DataFrame, fields: dict[str, list[str]]) -> DataFrame:
    """index-static: every doc gets the configured literal values."""
    return docs.withColumns(
        {k: F.array(*[F.lit(v) for v in vs]) for k, vs in fields.items()}
    )


def replace_fields(docs: DataFrame, rules: list[dict]) -> DataFrame:
    """index-replace: ordered rules, each
    ``{"scope": "host"|"url", "match": <java regex>, "field": f,
    "to_field": g (optional), "pattern": p, "replacement": r}``.

    When the scope column matches, ``regexp_replace(field, p, r)`` (Java
    replaceAll, replace-all semantics) lands in to_field (default: in
    place); non-matching rows keep the previous value (null for a fresh
    to_field) — FieldReplacer.java:45-120 + ReplaceIndexer.filter."""
    out = docs
    for rule in rules:
        target = rule.get("to_field") or rule["field"]
        if target not in out.columns:
            out = out.withColumn(target, F.lit(None).cast("string"))
        replaced = F.regexp_replace(
            F.col(rule["field"]), rule["pattern"], rule["replacement"]
        )
        out = out.withColumn(
            target,
            F.when(F.col(rule["scope"]).rlike(rule["match"]), replaced).otherwise(
                F.col(target)
            ),
        )
    return out


def links_fields(
    docs: DataFrame,
    outlinks: DataFrame,
    linkdb: DataFrame,
    *,
    only_hosts: bool = False,
    ignore_same_host_out: bool = False,
    ignore_same_host_in: bool = False,
) -> DataFrame:
    """index-links: ``outlinks``/``inlinks`` array fields. Hosts-only
    mode indexes each link's host once; the ignore flags drop links
    whose host equals the page's own host. Arrays are sorted-distinct
    (Nutch multi-valued fields are unordered bags; sorting makes the
    output deterministic and oracle-replayable)."""
    from nutch_spark.urls.urlutil import host_expr

    page_host = host_expr(F.col("url"))

    o = outlinks.select(
        "url",
        F.col("to_url").alias("link"),
        host_expr(F.col("to_url")).alias("link_host"),
        page_host.alias("page_host"),
    )
    if ignore_same_host_out:
        o = o.filter(
            F.col("link_host").isNull()
            | (F.col("link_host") != F.col("page_host"))
        )
    o_val = F.col("link_host") if only_hosts else F.col("link")
    outs = o.groupBy("url").agg(
        F.array_sort(F.collect_set(o_val)).alias("outlinks")
    )

    joined = (
        docs.join(outs, "url", "left")
        .join(linkdb.select("url", F.col("inlinks").alias("_il")), "url", "left")
        .withColumnRenamed("_il", "inlinks_raw")
    )
    in_links = F.transform(F.col("inlinks_raw"), lambda l: l["from_url"])
    in_hosts = F.transform(in_links, host_expr)
    in_val = in_hosts if only_hosts else in_links
    if ignore_same_host_in:
        pairs = F.arrays_zip(in_val.alias("v"), in_hosts.alias("h"))
        in_val = F.transform(
            F.filter(pairs, lambda p: p["h"].isNull() | (p["h"] != page_host)),
            lambda p: p["v"],
        )
    return joined.withColumns({
        "outlinks": F.coalesce(F.col("outlinks"), F.array().cast("array<string>")),
        "inlinks": F.coalesce(
            F.array_sort(F.array_distinct(in_val)), F.array().cast("array<string>")
        ),
    }).drop("inlinks_raw")


def mimetype_keep(
    type_col: Column, prefixes: list[str], *, accept_mode: bool = True
) -> Column:
    """mimetype-filter gate as a boolean: a doc matches when any
    configured line is a prefix of its content type
    (TrieStringMatcher.shortestMatch); accept_mode=True keeps
    non-matching docs and blocks matching ones, accept_mode=False is
    the inverse (MimeTypeIndexingFilter.java:105-119)."""
    if not prefixes:
        return F.lit(True)
    matched = reduce(
        lambda a, b: a | b,
        [type_col.startswith(F.lit(p)) for p in prefixes],
    )
    matched = F.coalesce(matched, F.lit(False))
    return ~matched if accept_mode else matched
