"""Parse stage — span docs -> parse_text / parse_data / crawl_parse (S6).

Re-expresses ``parse/ParseOutputFormat.java:176-378`` +
``parse-html/.../DOMContentUtils.java:84-97`` over the interleaved-docs
payload (input_hint): outlinks are the spans with a non-null
``media_ref`` **in span order** (media refs are first-class outlinks,
exactly as the reference extracts from ``a area form frame iframe
script link img source`` tags); parse text is the concatenation of the
text spans; the signature is MD5 over the canonical span serialization
(``crawl/MD5Signature.java:33-38`` over content bytes).

Per-outlink pipeline (T17, ``ParseOutputFormat.java:295-344``):
extraction cap ``db.max.outlinks.per.page``=100 (applied before
filtering, as parse-html does) -> length cap 4096 -> normalize (scope
outlink) -> filter -> within-page dedup (first occurrence wins) ->
OPIC score distribution score/validCount with internal/external factors
(``OPICScoringFilter.distributeScoreToOutlinks``, :128-172).

Fork deviation #2 (SURVEY header): non-canonical parses additionally
emit a synthetic STATUS_FETCH_SUCCESS datum into crawl_parse carrying
the fetch time (``ParseOutputFormat.java:365-377``).

Everything except URL normalize/filter (pandas UDFs) is JVM columns;
span order is preserved end-to-end via posexplode (the per-row parity
invariant is span-sequence equality).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.operators.metatags import (
    CACHING_FORBIDDEN_CONTENT,
    CACHING_FORBIDDEN_KEY,
    PERM_REFRESH_TIME,
    meta_directives,
)
from nutch_spark.schema import (
    STATUS_FETCH_SUCCESS,
    STATUS_LINKED,
    STATUS_SIGNATURE,
    new_datum,
)
from nutch_spark.urls.filters import url_filter_cond
from nutch_spark.urls.normalizer import normalize_col
from nutch_spark.urls.urlutil import host_expr


def span_payload(spans: Column) -> Column:
    """THE canonical span serialization (kind, text, media_ref, offset
    joined with unit separators). Single definition on purpose: the T12
    signature, the WARC Content-Length contract, and the regex parse
    filter's 'html' source must all digest the identical byte string —
    and each has a byte-equality DuckDB oracle against it."""
    return F.concat_ws(
        "\x1f",
        F.transform(
            spans,
            lambda s: F.concat_ws(
                "\x1e",
                F.coalesce(s["kind"], F.lit("")),
                F.coalesce(s["text"], F.lit("")),
                F.coalesce(s["media_ref"], F.lit("")),
                F.coalesce(s["offset"].cast("string"), F.lit("")),
            ),
        ),
    )


def span_signature(spans: Column) -> Column:
    """MD5 over ``span_payload`` — deterministic and expressible
    identically in ANSI SQL for the oracle."""
    return F.md5(span_payload(spans))


def parse_text_col(spans: Column) -> Column:
    return F.concat_ws(
        " ", F.transform(F.filter(spans, lambda s: s["kind"] == "text"), lambda s: s["text"])
    )


def _filter_normalize(
    df: DataFrame,
    from_col: str,
    raw_col: str,
    scope: str,
    cfg: NutchConfig,
    url_filter_rules: list[str] | None,
    exemption_rules: list[str] | None,
) -> DataFrame:
    """``ParseOutputFormat.filterNormalize`` (:401-467) as ONE shared
    column pipeline for both call sites — outlinks (SCOPE_OUTLINK) and
    meta-refresh targets (SCOPE_FETCHER): drop links-to-self comparing
    the RAW target against the source (:406-408, "ignore links to self
    (or anchors within the page)"), normalize -> filter, then the
    ``db.ignore.{internal,external}.links`` host policy with
    urlfilter-ignoreexempt (:417-449). Adds column ``to_url``.

    The downstream conditions reference the materialized ``to_url``
    COLUMN, not the normalize expression — re-embedding the expression
    would clone its Python UDF into every condition (plan audits count
    the ArrowEvalPython nodes; keep it at one per call site).

    Documented deviation: the reference evaluates the ignore policy on
    the raw target's lowercased host *before* normalization; we
    evaluate it on the normalized URL — the normalizer lowercases hosts
    without remapping them, so the comparison is host-equivalent."""
    df = df.filter(F.col(raw_col) != F.col(from_col))
    df = df.withColumn("to_url", normalize_col(F.col(raw_col), scope)).filter(
        F.col("to_url").isNotNull()
    )
    if url_filter_rules is not None:
        df = df.filter(url_filter_cond(F.col("to_url"), url_filter_rules))
    src, dst = host_expr(F.col(from_col)), host_expr(F.col("to_url"))
    if cfg.db_ignore_internal_links:
        df = df.filter(src != dst)
    if cfg.db_ignore_external_links:
        keep = src == dst
        if exemption_rules:
            # urlfilter-ignoreexempt (ExemptionUrlFilter.java:38-44):
            # an external target the exemption chain accepts is still
            # followed
            from nutch_spark.urls.filters import exemption_cond

            keep = keep | exemption_cond(F.col("to_url"), exemption_rules)
        df = df.filter(keep)
    return df


def materialize_parse_caches(handles: list) -> None:
    """Force-fill the parse() persist handles, in dependency order,
    BEFORE the first job that fans out over them.

    Why: the segment commit is ONE job whose union branches (outlink
    datums, signature datums, non-canonical datums, refresh datums)
    all scan the same cached frame. On a cold cache the branches race:
    concurrent tasks hit the same uncomputed partition and serialize on
    the block manager's per-block write lock (or recompute it), so the
    *parallel* run degrades while a single-core run — whose first scan
    fills the cache sequentially — sees the full benefit. Measured at
    20M URLs / topN=2M / local[4] (BENCH/MEASUREMENT_LOG.md r3c):
    cold-cache fan-out parse 104.2s vs 58.8s with no cache at all;
    pre-filled it drops below both. One count() per handle pays only
    the compute the consuming job needed anyway, one handle at a time,
    with every core on the same fill."""
    for h in handles:
        h.count()


def parse(
    content: DataFrame,
    cfg: NutchConfig,
    *,
    url_filter_rules: list[str] | None = None,
    exemption_rules: list[str] | None = None,
    persist_handles: list | None = None,
) -> dict[str, DataFrame]:
    """Returns {'parse_text', 'parse_data', 'outlinks', 'crawl_parse',
    'refresh_links', 'parse_meta'}.

    ``content`` columns: url, score, fetch_time, gen_time, spans,
    is_canonical (from fetchsim.fetched_content).

    ``persist_handles``: pass a list to ``persist()`` (a) the annotated
    content frame ``c`` (content + signature + meta directives) that
    every per-doc product branch scans — when ``content`` is itself a
    join (fetchsim.fetched_content: crawl_fetch x docs), the four
    product branches would otherwise re-execute that join and the
    directive extraction each — and (b) the extracted outlink table
    (the expensive part: the normalize Arrow pass + the within-page
    dedup shuffle); the handles are appended for later unpersist. Every
    downstream product (crawl_parse, parse_data, the outlinks slice) is
    built FROM those frames, so a caller consuming the dict more than
    once (the outlink-follow fetch: once for the follow fold, once in
    the segment commit) pays the join/extraction once. The content
    frame is topN-bounded per segment (the generator's own cap), so
    MEMORY_AND_DISK residency is bounded at any corpus scale.
    """
    c0 = content.withColumn("signature", span_signature(F.col("spans"))).withColumn(
        "_md", meta_directives(F.col("spans"), F.col("url"))
    )

    # ---- outlink extraction: media_ref spans in span order, capped at
    # extraction time (db.max.outlinks.per.page; < 0 means unlimited —
    # ParseOutputFormat maps it to Integer.MAX_VALUE, and F.slice would
    # throw on a non-positive length). robots nofollow suppresses the
    # whole outlink array (HtmlParser.java:223-243) — link spans carry
    # producer-resolved absolute media_refs, so the reference's <base>
    # re-resolution of relative hrefs has no span-model analogue (base
    # still resolves refresh targets in meta_directives).
    all_links = F.when(
        F.col("_md.no_follow"),
        F.filter(F.col("spans"), lambda s: F.lit(False)),
    ).otherwise(F.filter(F.col("spans"), lambda s: s["media_ref"].isNotNull()))
    if cfg.db_max_outlinks_per_page < 0:
        link_spans = all_links
    else:
        link_spans = F.slice(all_links, 1, cfg.db_max_outlinks_per_page)

    # The cached per-doc frame is NARROW on purpose: everything any
    # product branch ever reads again — signature, directives, the
    # extracted text, the capped link list — is computed in THIS one
    # pass over `spans`, and `spans` itself is NOT retained. The 1->4
    # scaling pairs (BENCH/MEASUREMENT_LOG.md r3b/r3c) localized parse's
    # sub-linear speedup to the cache fill + branch rescans; dropping
    # the span arrays from the cached columnar batches cuts both the
    # fill's serialization traffic and every branch's decompress cost.
    # noindex -> text extraction skipped entirely (HtmlParser.java:
    # 208-221); the doc still parses, signs, and emits outlinks.
    c = c0.select(
        "url",
        "score",
        "fetch_time",
        "is_canonical",
        "signature",
        "_md",
        F.when(F.col("_md.no_index"), F.lit(""))
        .otherwise(parse_text_col(F.col("spans")))
        .alias("_text"),
        F.transform(
            link_spans,
            lambda s: F.struct(
                s["media_ref"].alias("media_ref"), s["text"].alias("anchor")
            ),
        ).alias("_links"),
    )
    if persist_handles is not None:
        c = c.persist()
        persist_handles.append(c)

    parse_text = c.select("url", F.col("_text").alias("text"))

    exploded = (
        c.select("url", "score", "fetch_time", F.posexplode("_links").alias("pos", "span"))
        .select(
            "url",
            "score",
            "fetch_time",
            "pos",
            F.col("span.media_ref").alias("to_url_raw"),
            F.col("span.anchor").alias("anchor"),
        )
        .filter(F.length("to_url_raw") <= cfg.db_max_outlink_length)
    )
    exploded = _filter_normalize(
        exploded, "url", "to_url_raw", "outlink", cfg,
        url_filter_rules, exemption_rules,
    )
    # ONE exchange for both windows below: hash-partitioning on `url`
    # alone satisfies the dedup window's ClusteredDistribution(url,
    # to_url) AND the OPIC window's (url), and the dedup sort's
    # (url, to_url, pos) ordering prefixes the OPIC window's (url) —
    # without this, Catalyst plans two back-to-back full shuffles of
    # the exploded outlink table (hash(url,to_url) then hash(url)),
    # the largest table in the stage. No skew risk: url is the
    # high-cardinality key (<= db.max.outlinks.per.page rows each).
    exploded = exploded.repartition("url")
    src_host = host_expr(F.col("url"))
    dst_host = host_expr(F.col("to_url"))

    # within-page dedup, first occurrence wins (ParseOutputFormat dedup set)
    w_dup = Window.partitionBy("url", "to_url").orderBy("pos")
    outlinks = (
        exploded.withColumn("_rn", F.row_number().over(w_dup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # OPIC distribution: score / validCount, internal/external factors
    w_url = Window.partitionBy("url")
    valid_count = F.count("*").over(w_url)
    per_link = (F.col("score") / valid_count.cast("float")).cast("float")
    factor = F.when(
        dst_host == src_host, F.lit(cfg.db_score_link_internal).cast("float")
    ).otherwise(F.lit(cfg.db_score_link_external).cast("float"))
    outlinks = outlinks.withColumn("link_score", (per_link * factor).cast("float"))
    if persist_handles is not None:
        outlinks = outlinks.persist()
        persist_handles.append(outlinks)

    parse_data = outlinks.groupBy("url").agg(
        F.sort_array(F.collect_list(F.struct("pos", "to_url", "anchor"))).alias("outlinks_s")
    ).select(
        "url",
        F.transform(
            "outlinks_s", lambda s: F.struct(s["to_url"].alias("to_url"), s["anchor"].alias("anchor"))
        ).alias("outlinks"),
    )

    # ---- crawl_parse rows ----
    linked = outlinks.select(
        *new_datum(
            F.col("to_url"), STATUS_LINKED, F.col("fetch_time"),
            fetch_interval=cfg.db_fetch_interval_default, score=F.col("link_score"),
        ),
        F.col("anchor"),
        F.col("url").alias("from_url"),
    )

    # ---- per-doc datum rows ----
    # sig / noncanon / refresh are separate scans ON PURPOSE: measured
    # (2M docs, local[8]) a fused array+explode pass — even UDF-free —
    # runs ~7% SLOWER than the extra column-pruned page-cached scans
    # because Generate+HOF-filter breaks whole-stage codegen on the
    # all-docs path. Scans are the cheap resource here; codegen isn't.
    sig_rows = c.select(
        *new_datum(
            F.col("url"), STATUS_SIGNATURE, F.col("fetch_time"),
            signature=F.col("signature"),
        ),
        F.lit(None).cast("string").alias("anchor"),
        F.lit(None).cast("string").alias("from_url"),
    )

    # fork deviation: non-canonical parse emits a synthetic fetch-success
    # datum carrying the fetch time (ParseOutputFormat.java:365-377)
    noncanon = c.filter(~F.col("is_canonical")).select(
        *new_datum(
            F.col("url"), STATUS_FETCH_SUCCESS, F.col("fetch_time"), score=F.col("score"),
        ),
        F.lit(None).cast("string").alias("anchor"),
        F.lit(None).cast("string").alias("from_url"),
    )

    # meta-refresh redirect (HtmlParser.java:246-250 sets
    # SUCCESS_REDIRECT; ParseOutputFormat.java:273-293 consumes it): the
    # target runs through the same filterNormalize as outlinks but in
    # SCOPE_FETCHER — so a bare-time refresh (target = the page itself)
    # is dropped by the links-to-self check — then is emitted as a
    # fresh STATUS_LINKED datum (score 0, interval 0) whose repr_url is
    # chooseRepr(from, to, temp=refresh_time < PERM_REFRESH_TIME) and is
    # only recorded when it differs from the target. The filter on the
    # meta-guarded `_md.refresh` keeps the normalize/chooseRepr Python
    # nodes on the (rare) refresh rows only. The reference appends this
    # datum straight to crawlOut BEFORE the scoring-filter outlink
    # loop, so depth/urlmeta scoring filters never see it — callers
    # that gate outlinks (crawl_loop) must use the separate
    # 'refresh_links' product and bypass it around their gates.
    refresh = c.filter(F.col("_md.refresh")).select(
        F.col("url").alias("from_url"),
        "fetch_time",
        F.col("_md.refresh_href").alias("to_raw"),
        F.col("_md.refresh_time").alias("refresh_time"),
    )
    refresh = _filter_normalize(
        refresh, "from_url", "to_raw", "fetcher", cfg,
        url_filter_rules, exemption_rules,
    )
    from nutch_spark.operators.fetchsim import _choose_repr_udf

    repr_u = _choose_repr_udf()(
        F.col("from_url"),
        F.col("to_url"),
        F.col("refresh_time") < PERM_REFRESH_TIME,
    )
    refresh_links = refresh.select(
        *new_datum(
            F.col("to_url"), STATUS_LINKED, F.col("fetch_time"),
            repr_url=F.when(repr_u != F.col("to_url"), repr_u),
        ),
        F.lit(None).cast("string").alias("anchor"),
        F.col("from_url"),
    )

    # per-doc meta directives for the indexer (robots first-value for
    # the noindex delete, IndexerMapReduce.java:277-289; caching
    # policy stamp, HtmlParser.java:259-263)
    parse_meta = c.select(
        "url",
        F.col("_md.robots").alias("robots"),
        F.col("_md.no_index").alias("no_index"),
        F.col("_md.no_follow").alias("no_follow"),
        F.when(
            F.col("_md.no_cache"), F.lit(CACHING_FORBIDDEN_CONTENT)
        ).alias(CACHING_FORBIDDEN_KEY.replace(".", "_")),
        F.col("_md.base_href").alias("base_href"),
        F.col("_md.refresh").alias("refresh"),
        F.col("_md.refresh_time").alias("refresh_time"),
        F.col("_md.refresh_href").alias("refresh_href"),
    )

    # 'crawl_parse_gateable' = the rows the reference's scoring filters
    # see (outlink targets + per-page datums); refresh datums bypass
    # them (appended to crawlOut before the targets loop,
    # ParseOutputFormat.java:283-293) and ship separately so crawl_loop
    # can gate one and not the other. 'crawl_parse' stays the full union
    # for plain consumers (bench, contract queries, segment replay).
    gateable = linked.unionByName(sig_rows).unionByName(noncanon)
    return {
        "parse_text": parse_text,
        "parse_data": parse_data,
        "parse_meta": parse_meta,
        "outlinks": outlinks.select("url", "to_url", "anchor", "pos", "link_score"),
        "crawl_parse": gateable.unionByName(refresh_links),
        "crawl_parse_gateable": gateable,
        "refresh_links": refresh_links,
    }


def regex_parse_filter(
    content: DataFrame, rules: list[tuple[str, str, str]]
) -> DataFrame:
    """parsefilter-regex (``parsefilter-regex/.../RegexParseFilter.java``
    :60-90): every rule (field, source, regex) stamps parse metadata
    field = 'true'/'false' by whether the regex matches the chosen
    source. Source 'text' = the extracted parse text; 'html' = the raw
    canonical span serialization (our content-bytes analogue). Pure JVM
    rlike columns — one map-side pass, no Python.

    Returns (url, parse_meta map<string,string>) rows ready to merge
    into parse_data / crawl_parse STATUS_PARSE_META datums."""
    text = parse_text_col(F.col("spans"))
    html = span_payload(F.col("spans"))
    entries = []
    for field, source, regex in rules:
        src = text if source.lower() == "text" else html
        entries.append(F.lit(field))
        entries.append(
            F.when(src.rlike(regex), F.lit("true")).otherwise(F.lit("false"))
        )
    meta = F.map_from_arrays(
        F.array(*entries[0::2]), F.array(*entries[1::2])
    )
    return content.select("url", meta.alias("parse_meta"))


# ---------------------------------------------------------------------------
# OutlinkExtractor: plain-text URL extraction (the non-HTML parse fallback)
# ---------------------------------------------------------------------------

# parse/OutlinkExtractor.java:56-57 — scheme:rest with the reference's
# bounded character classes; RE2-compatible (no backrefs), so the same
# pattern replays on any regex engine
TEXT_URL_PATTERN = (
    "([A-Za-z][A-Za-z0-9+.-]{1,120}:[A-Za-z0-9/]"
    "(([A-Za-z0-9$_.+!*,;/?:@&~=-])|%[A-Fa-f0-9]{2}){1,333}"
    "(#([a-zA-Z0-9][a-zA-Z0-9$_.+!*,;/?:@&~=%-]{0,1000}))?)"
)


def text_outlinks(
    pages: DataFrame,
    *,
    url_col: str = "url",
    text_col: str = "text",
    anchor: str = "",
) -> DataFrame:
    """OutlinkExtractor.getOutlinks (parse/OutlinkExtractor.java:69-120):
    scan plain text for scheme-ful URLs in document order (bare
    ``www.x.com`` without a scheme is NOT a link, per the reference's
    own tests); every match trims and carries the caller's anchor.

    One map-side ``regexp_extract_all`` + posexplode — JVM only; the
    reference's 60 s wall-clock bailout for parasitic inputs is
    unnecessary here (bounded quantifiers make the scan linear, and a
    runaway row cannot stall a thread pool, only its own task).
    """
    matches = F.regexp_extract_all(
        F.col(text_col), F.lit(TEXT_URL_PATTERN), 1
    )
    return pages.select(
        F.col(url_col).alias("url"), F.posexplode(matches).alias("pos", "_m")
    ).select(
        "url",
        "pos",
        F.trim(F.col("_m")).alias("to_url"),
        F.lit(anchor).alias("anchor"),
    )
