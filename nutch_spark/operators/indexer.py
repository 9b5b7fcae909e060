"""Indexing job (S9, ``indexer/IndexerMapReduce.java`` +
``index-basic/.../BasicIndexingFilter.java:72-131``): join the crawldb
datum with the parse output into NutchDocument rows, then hand them to
a pluggable writer.

Spark-first: the "job" is one join + column projection; the
IndexingFilter chain becomes composable column-producing functions. The
network writers (Solr/Elastic/Kafka, ``indexer-*`` plugins) are out of
scope in this sandbox — the shipped writer is the JSON-lines exchange
format every Nutch index writer ultimately serializes through, plus a
``DataFrameWriter`` passthrough so a real cluster can
``.format("kafka")``/``.format("es")`` the same rows.

Fields (BasicIndexingFilter): domain, host, url (repr-url preferred),
content (cleaned parse text, length-capped), title (the parser's
extracted title when ``parse_text`` carries a ``title`` column,
length-capped per indexer.max.title.length; zero-length titles become
NULL per NUTCH-1004; with no title column the documented fallback is
the content prefix), tstamp (fetch time), plus digest (signature) and
boost (score) stamped by IndexerMapReduce itself (:305-320). Skips are
the reference's: only db_fetched/db_notmodified datums with a
successful parse are indexed (:197-214).

Scale: one shuffle (the url join); everything else is map-side JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.schema import STATUS_DB_FETCHED, STATUS_DB_NOTMODIFIED
from nutch_spark.urls.urlutil import domain_expr, host_expr


def _clean_field(c: Column) -> Column:
    """StringUtil.cleanField: strip control characters."""
    return F.regexp_replace(c, r"[\x00-\x1f\x7f]", " ")


def index_documents(
    crawldb: DataFrame,
    parse_text: DataFrame,
    cfg: NutchConfig,
    *,
    max_content: int = 10000,
    max_title: int = 100,
) -> DataFrame:
    """NutchDocument rows for indexable pages.

    ``parse_text``: (url, text) from the parse stage. Returns columns
    (url, domain, host, content, title, tstamp, digest, boost).
    """
    db = crawldb.filter(
        F.col("status").isin(STATUS_DB_FETCHED, STATUS_DB_NOTMODIFIED)
    )
    has_title = "title" in parse_text.columns
    pt_cols = ["url", "text"] + (["title"] if has_title else [])
    joined = db.join(parse_text.select(*pt_cols), "url", "inner")
    url_out = F.coalesce(F.col("repr_url"), F.col("url"))
    host = host_expr(url_out)
    content = _clean_field(F.substring(F.coalesce(F.col("text"), F.lit("")), 1, max_content))
    # BasicIndexingFilter:110-118: parser title truncated to
    # indexer.max.title.length; NUTCH-1004: zero-length title not added.
    # Fallback without a parser title: content prefix (documented deviation).
    raw_title = F.col("title") if has_title else F.coalesce(F.col("text"), F.lit(""))
    title = _clean_field(F.substring(raw_title, 1, max_title))
    title = F.when(F.length(title) > 0, title)
    return joined.select(
        url_out.alias("url"),
        domain_expr(url_out).alias("domain"),
        host.alias("host"),
        content.alias("content"),
        title.alias("title"),
        F.col("fetch_time").alias("tstamp"),
        F.col("signature").alias("digest"),
        F.col("score").cast("float").alias("boost"),
    )


def write_jsonl(docs: DataFrame, out_dir: str) -> None:
    """The generic exchange sink: one JSON document per line (what the
    reference's index writers serialize before shipping)."""
    docs.write.mode("overwrite").json(out_dir)


def writer_passthrough(docs: DataFrame):
    """On a real cluster, plug any Spark sink:
    ``writer_passthrough(docs).format("kafka")...save()`` — the
    indexer-kafka/solr/es plugins become Spark connectors."""
    return docs.write


def subcollections_col(url: Column, collections: list[dict]) -> Column:
    """subcollection plugin (``subcollection/.../Subcollection.java:184-201``
    + ``SubcollectionIndexingFilter.java``): a URL belongs to a named
    collection when NO blacklist substring matches and ANY whitelist
    substring does; the indexer emits the matching collection names.

    ``collections``: [{"name", "whitelist": [...], "blacklist": [...],
    "case_insensitive": bool}] (the parsed subcollections.xml). Pure JVM
    ``contains`` chains over broadcast-size rule literals — zero Python,
    zero shuffle; returns array<string> of matching names in definition
    order (the reference's iteration order)."""
    names = []
    for c in collections:
        u = F.lower(url) if c.get("case_insensitive") else url
        def _c(s, cc=c):
            return F.lit(s.lower() if cc.get("case_insensitive") else s)
        black = [u.contains(_c(s)) for s in c.get("blacklist", [])]
        white = [u.contains(_c(s)) for s in c.get("whitelist", [])]
        # no blacklist hit AND some whitelist hit
        black_hit = (
            F.greatest(*black, F.lit(False), F.lit(False)) if black else F.lit(False)
        )
        white_hit = (
            F.greatest(*white, F.lit(False), F.lit(False)) if white else F.lit(False)
        )
        names.append(F.when(~black_hit & white_hit, F.lit(c["name"])))
    if not names:
        return F.array().cast("array<string>")
    return F.filter(F.array(*names), lambda x: x.isNotNull())


def route_documents(
    docs: DataFrame, routes: list[tuple[str, str]], dialect: str = "jexl"
) -> DataFrame:
    """Exchange component (``exchange/Exchanges.java`` +
    ``exchange-jexl``): route each index document to the writers whose
    expression matches. ``routes``: [(writer_id, expr)] where expr is
    the reference's own JEXL (``JexlExchange.match``, evaluated over
    the ``doc`` context — ``doc.getFieldValue('host')=='example.org'``
    per exchanges.xml.template) or, with ``dialect="sql"``, a Spark-SQL
    boolean (the earlier T14 substitution). Adds ``writers``
    array<string>; docs matching nothing get the empty array (the
    reference's 'no exchange matched' path drops them from every
    writer); a match() exception counts as no-match, which the JEXL
    gate's null handling replays."""
    if dialect == "jexl":
        from nutch_spark.jexl import indexing_doc_resolver, jexl_filter_column

        res = None

        def gate(expr):
            nonlocal res
            if res is None:
                res = indexing_doc_resolver(docs)
            return jexl_filter_column(expr, res)
    elif dialect == "sql":
        def gate(expr):
            return F.expr(expr)
    else:
        raise ValueError(f"route_documents: unknown dialect {dialect!r}")
    names = F.array(
        *[F.when(gate(expr), F.lit(writer)) for writer, expr in routes]
    )
    return docs.withColumn(
        "writers", F.filter(names, lambda x: x.isNotNull())
    )


# ---------------------------------------------------------------------------
# index-jexl-filter (``index-jexl-filter/.../JexlIndexingFilter.java:44-128``)
# ---------------------------------------------------------------------------


def jexl_index_filter(docs: DataFrame, expr: str, dialect: str = "jexl") -> DataFrame:
    """Document gate by expression over the indexing context
    (JexlIndexingFilter.java:56-102: ``doc.<field>``, status name,
    fetchTime/score/..., the three metadata maps). ``dialect="jexl"``
    (the reference's ``index.jexl.filter`` syntax) compiles through
    :mod:`nutch_spark.jexl` to a JVM Column; ``dialect="sql"`` keeps
    the repo's earlier T14 substitution (a Spark SQL boolean over the
    same names). Either way rows where the expression is not TRUE are
    dropped, mirroring the reference's ``Boolean.TRUE.equals`` gate —
    and, like ``setConf`` (:107-122), a missing or unparsable
    expression is a hard error, not a pass-through."""
    if expr is None:
        raise ValueError("index.jexl.filter must have a value")
    if dialect == "jexl":
        from nutch_spark.jexl import indexing_doc_resolver, jexl_filter_column

        return docs.filter(jexl_filter_column(expr, indexing_doc_resolver(docs)))
    if dialect != "sql":
        raise ValueError(f"jexl_index_filter: unknown dialect {dialect!r}")
    return docs.filter(F.expr(expr) == F.lit(True))


# ---------------------------------------------------------------------------
# indexer-csv (``indexer-csv/.../CSVIndexWriter.java:53-434``) and
# indexer-dummy (``indexer-dummy/.../DummyIndexWriter.java``)
# ---------------------------------------------------------------------------


def csv_render(
    docs: DataFrame,
    fields: list[str],
    *,
    sep: str = ",",
    quote: str = '"',
    escape: str = '"',
    valuesep: str = "|",
    record_sep: str = "\n",
    max_field_length: int = 4096,
    max_field_values: int = 12,
    out_col: str = "csv",
) -> DataFrame:
    """One CSV line per document, byte-faithful to CSVIndexWriter:

    - scalar fields are quoted only when they contain the quote, field
      or record separator (writeQuoted:375-393); quote chars escape as
      escape+quote; values clip at ``csv.maxfieldlength``
    - multi-value (array) fields are always quoted as a whole, each
      value escaped and joined by ``csv.valueseparator``
      (write:253-300); ``csv.maxfieldvalues`` caps the count (the
      reference's loop counter never increments — its cap is a no-op
      bug — ours caps, documented deviation)
    - absent/null fields render empty, separators still emitted

    All pure JVM string columns — rendering is map-side."""

    def clip(c: Column) -> Column:
        return F.substring(c, 1, max_field_length)

    def esc(c: Column) -> Column:
        return F.replace(clip(c), F.lit(quote), F.lit(escape + quote))

    def scalar(c: Column) -> Column:
        needs = (
            c.contains(quote) | c.contains(sep) | c.contains(record_sep)
        )
        return F.when(
            c.isNull(), F.lit("")
        ).when(needs, F.concat(F.lit(quote), esc(c), F.lit(quote))).otherwise(
            clip(c)
        )

    rendered = []
    schema = dict(docs.dtypes)
    for name in fields:
        c = F.col(name)
        if schema.get(name, "string").startswith("array"):
            joined = F.array_join(
                F.transform(F.slice(c, 1, max_field_values), esc), valuesep
            )
            multi = F.concat(F.lit(quote), joined, F.lit(quote))
            rendered.append(
                F.when(c.isNull() | (F.size(c) == 0), F.lit(""))
                .when(F.size(c) == 1, scalar(F.try_element_at(c, F.lit(1))))
                .otherwise(multi)
            )
        else:
            rendered.append(scalar(c.cast("string")))
    return docs.withColumn(out_col, F.concat_ws(sep, *rendered))


def csv_header(fields: list[str], sep: str = ",") -> str:
    """The withHeader first line (open():248-256)."""
    return sep.join(fields)


def write_csv(
    docs: DataFrame, out_dir: str, fields: list[str], **kwargs
) -> None:
    """Render + write as text; single ``nutch.csv``-style part when the
    caller coalesces. Header handling is the caller's choice (the
    reference writes the header plus a record separator even when
    headers are off — a quirk we do not reproduce in files)."""
    csv_render(docs, fields, **kwargs).select("csv").write.mode(
        "overwrite"
    ).text(out_dir)


def dummy_render(docs: DataFrame, *, action: str = "add", id_col: str = "url") -> DataFrame:
    """indexer-dummy: '<action>\\t<id>' lines (DummyIndexWriter.write)."""
    return docs.select(
        F.concat(F.lit(action), F.lit("\t"), F.col(id_col)).alias("line")
    )


def index_actions(
    crawldb: DataFrame,
    parse_text: DataFrame,
    *,
    delete: bool = True,
    skip_notmodified: bool = False,
    parse_meta: DataFrame | None = None,
    delete_robots_noindex: bool = False,
) -> DataFrame:
    """IndexerMapReduce action resolution (``IndexerMapReduce.java:
    299-340``): which urls become index adds vs deletes.

    Mirrors the reference's evaluation order exactly: gone and redirect
    deletes fire even for rows with no parse output; the duplicate
    delete is only reached when fetch+parse exist (the code checks
    ``fetchDatum == null || parseText == null`` first); notmodified
    rows are silently skipped when ``indexer.skip.notmodified``; only
    successfully fetched+parsed pages become adds. Returns (url,
    action 'add'|'delete', reason) — dropped rows emit nothing.

    ``delete_robots_noindex`` (indexer.delete.robots.noindex,
    IndexerMapReduce.java:277-289): a url whose parse metadata carries a
    robots value containing ``noindex`` (case-insensitive) is deleted
    before any other rule is consulted — the reference returns from the
    reducer the moment the ParseData arrives. ``parse_meta`` is the
    parse stage's (url, robots, ...) frame.

    One broadcast-sized left join + column logic, no Python.
    """
    from nutch_spark.schema import (
        STATUS_DB_DUPLICATE,
        STATUS_DB_FETCHED,
        STATUS_DB_GONE,
        STATUS_DB_NOTMODIFIED,
        STATUS_DB_REDIR_PERM,
        STATUS_DB_REDIR_TEMP,
    )

    has_parse = F.col("_pt").isNotNull()
    j = crawldb.join(
        parse_text.select("url", F.lit(True).alias("_pt")), "url", "left"
    )
    if delete_robots_noindex and parse_meta is not None:
        j = j.join(
            parse_meta.select("url", F.col("robots").alias("_robots")),
            "url",
            "left",
        )
        robots_del = (
            F.col("_robots").isNotNull()
            & (F.instr(F.lower(F.col("_robots")), "noindex") > 0)
        )
    else:
        robots_del = F.lit(False)
    st = F.col("status")
    deleting = F.lit(delete)
    gone = deleting & (st == STATUS_DB_GONE)
    redir = deleting & st.isin(STATUS_DB_REDIR_PERM, STATUS_DB_REDIR_TEMP)
    dup = deleting & has_parse & (st == STATUS_DB_DUPLICATE)
    addable = has_parse & (
        st.isin(STATUS_DB_FETCHED)
        | ((st == STATUS_DB_NOTMODIFIED) & F.lit(not skip_notmodified))
    )
    action = (
        F.when(robots_del | gone | redir | dup, F.lit("delete"))
        .when(addable, F.lit("add"))
    )
    reason = (
        F.when(robots_del, F.lit("robots_noindex"))
        .when(gone, F.lit("gone"))
        .when(redir, F.lit("redirects"))
        .when(dup, F.lit("duplicates"))
        .when(addable, F.lit("indexed"))
    )
    return (
        j.select("url", action.alias("action"), reason.alias("reason"))
        .filter(F.col("action").isNotNull())
    )
