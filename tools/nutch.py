"""bin/nutch-style command dispatcher over a crawl directory.

The reference exposes each crawl stage as a CLI subcommand
(``src/bin/nutch``); this is the same operational surface on Spark so
a reference user can run their existing playbook:

    python tools/nutch.py inject   crawl/crawldb seeds.txt
    python tools/nutch.py generate crawl/crawldb --top-n 50000 [--num-lists 8]
    python tools/nutch.py fetch    crawl/segment_0001 [--robots R --outcomes O --dns D]
    python tools/nutch.py parse    crawl/segment_0001 --docs D
    python tools/nutch.py updatedb crawl/crawldb crawl/segment_0001
    python tools/nutch.py readdb   crawl/crawldb -stats
    python tools/nutch.py readdb   crawl/crawldb -topN 10
    python tools/nutch.py readdb   crawl/crawldb -dump out/ [--status N] [--regex R]
    python tools/nutch.py mergedb  merged/crawldb crawl1/crawldb crawl2/crawldb ...
    python tools/nutch.py invertlinks crawl/linkdb outlinks/
    python tools/nutch.py readlinkdb crawl/linkdb -url http://t.example.com/1
    python tools/nutch.py readseg  -list crawl/segment_0001 [...]
    python tools/nutch.py readseg  crawl/segment_0001 -dump out/ | -get URL
    python tools/nutch.py dedup    crawl/crawldb
    python tools/nutch.py hostdb   crawl/crawldb hostdb/   (alias: updatehostdb)
    python tools/nutch.py readhostdb hostdb/ -get host.example.com
    python tools/nutch.py freegen  seeds.txt crawl
    python tools/nutch.py mergesegs out/ seg1_rows/ seg2_rows/ [--slice N]
    python tools/nutch.py mergelinkdb merged/linkdb ldb1/ ldb2/
    python tools/nutch.py index    crawl/crawldb seg_parse_text/ out/ [--format csv]
    python tools/nutch.py clean    crawl/crawldb deletes/
    python tools/nutch.py dump     seg_parse_text/ files/
    python tools/nutch.py commoncrawldump pages/ out/
    python tools/nutch.py arc      arcs/ segments/
    python tools/nutch.py warc     seg_content/ out/
    python tools/nutch.py domainstats crawl/crawldb [--mode host|domain|suffix|tld]
    python tools/nutch.py protocolstats crawl/crawldb
    python tools/nutch.py crawlcomplete crawl/crawldb [--mode host|domain]
    python tools/nutch.py webgraph outlinks/ graph/
    python tools/nutch.py linkrank graph/ scores/ [--iterations 10]
    python tools/nutch.py scoreupdater crawl/crawldb scores/
    python tools/nutch.py nodedumper --group in --webgraph graph/ --topn 10
    python tools/nutch.py sitemap  crawl/crawldb sitemaps/ [--overwrite]
    python tools/nutch.py snapshots crawl crawldb [-manifest]
    python tools/nutch.py showproperties
    python tools/nutch.py normalizerchecker 'http://WWW.Ex.COM:80/a/../b'
    python tools/nutch.py filterchecker 'https://example.com/x'

A crawl directory is a SnapshotCatalog warehouse: ``crawl/crawldb`` is
its table ``crawldb`` and ``crawl/segment_NNNN`` prefixes one cycle's
segment tables. inject, generate, fetch, parse and updatedb run
``Crawler``'s stages (``pipeline/crawl_loop.py``), the code
``run_cycle`` runs. CrawlDb and LinkDb writers commit to the catalog and
refuse a plain parquet target (exit 2); readers take either; other
outputs are plain directories. Every subcommand is a thin shell over
the library.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from nutch_spark.catalog import SnapshotCatalog  # noqa: E402
from nutch_spark.config import NutchConfig  # noqa: E402
from nutch_spark.pipeline.crawl_loop import (  # noqa: E402
    CRAWLDB, SEGMENT_TABLES, Crawler, commit_crawldb, last_cycle_id, segment_name,
)


class UsageError(Exception):
    """A command refused its arguments; ``main`` prints why and exits 2,
    as it does for a table or file that does not exist."""


def _spark():
    from nutch_spark.session import get_spark

    # Python workers don't inherit the driver's sys.path patch above —
    # without the repo root on PYTHONPATH, any pandas-UDF stage dies
    # with ModuleNotFoundError when the CLI is invoked from another cwd
    # (the spark-submit deployment ships nutch_spark.zip via --py-files
    # instead; this is the bare-`python tools/nutch.py` path)
    root = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    prev = os.environ.get("PYTHONPATH", "")
    if root not in prev.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + prev if prev else "")
    return get_spark(
        master=os.environ.get("NUTCH_SPARK_MASTER", "local[*]"),
        shuffle_partitions=int(os.environ.get("NUTCH_SPARK_SHUFFLE", "32")),
    )


def _read(spark, path):
    """Read a table dir: plain parquet, or — when the dir carries a
    SnapshotCatalog ``metadata.json`` (crawl_loop's committed tables,
    ``wh/<table>/snap-*/``) — the table's current snapshot. This is what
    lets ``readseg -list wh/segment_0001`` & co. work against the crawl
    loop's warehouse, not just bench-style plain-parquet prefixes."""
    p = path.rstrip("/")
    if os.path.exists(os.path.join(p, "metadata.json")):
        cat = SnapshotCatalog(os.path.dirname(p) or ".")
        return cat.read(spark, os.path.basename(p))
    return spark.read.parquet(path)


def _write(df, path):
    df.write.mode("overwrite").parquet(path)


def _table(path: str):
    """A writer's target ``<dir>/<name>`` -> (catalog ``<dir>``, ``name``).
    A plain parquet directory is refused, not converted: the catalog
    would keep none of its history."""
    p = path.rstrip("/")
    if os.path.isdir(p) and os.listdir(p) and not os.path.exists(os.path.join(p, "metadata.json")):
        raise UsageError(f"{path} is a plain parquet directory, not a catalog table")
    return SnapshotCatalog(os.path.dirname(p) or "."), os.path.basename(p)


def _crawldb(path: str) -> SnapshotCatalog:
    cat, name = _table(path)
    if name != CRAWLDB:
        raise UsageError(f"{path}: a CrawlDb is the table <crawl>/{CRAWLDB}")
    return cat


def _segment(path: str, part: str):
    """``<crawl>/segment_NNNN`` and one of its tables -> (catalog
    ``<crawl>``, cycle NNNN, the table's name); the table must exist."""
    p = path.rstrip("/")
    name = os.path.basename(p)
    if not (name.startswith("segment_") and name[8:].isdigit()):
        raise UsageError(f"{path}: a segment is <crawl>/segment_NNNN")
    cat, cycle_id = SnapshotCatalog(os.path.dirname(p) or "."), int(name[8:])
    table = f"{segment_name(cycle_id)}_{part}"
    cat.snapshot(table)
    return cat, cycle_id, table


def _crawler(cat: SnapshotCatalog, **web) -> Crawler:
    return Crawler(_spark(), cat, NutchConfig(), **web)


def cmd_inject(args) -> int:
    n = _crawler(_crawldb(args.crawldb)).inject(args.seeds, args.now_ms)
    print(f"inject: crawldb now {n} urls")
    return 0


def _commit_fetchlist(crawler: Crawler, fl, now_ms: int, parent_id) -> str:
    """Commit ``fl`` as the next cycle's ``crawl_generate``, naming the
    CrawlDb snapshot it came from; returns what to print."""
    cycle_id = last_cycle_id(crawler.catalog) + 1
    (snap,) = crawler.commit_segment(
        cycle_id, now_ms, {"crawl_generate": fl}, crawldb_parent_snapshot=parent_id
    ).values()
    return f"{snap.rows} urls in {os.path.join(crawler.catalog.root, segment_name(cycle_id))}"


def cmd_generate(args) -> int:
    cat = _crawldb(args.crawldb)
    parent = cat.current_snapshot_id(CRAWLDB)
    crawler = _crawler(cat)
    fl = crawler.generate(
        cat.read(crawler.spark, CRAWLDB, parent), args.now_ms,
        top_n=args.top_n, num_lists=args.num_lists, jexl=args.expr,
    )
    print("generate: " + _commit_fetchlist(crawler, fl, args.now_ms, parent))
    return 0


def cmd_updatedb(args) -> int:
    """The update stage over the segment's committed tables, into the
    CrawlDb snapshot its fetchlist came from: a CrawlDb that moved since
    raises ConcurrentCommitError."""
    cat = _crawldb(args.crawldb)
    seg_cat, cycle_id, gen_table = _segment(args.segment, "crawl_generate")
    if os.path.abspath(seg_cat.root) != os.path.abspath(cat.root):
        raise UsageError(f"{args.segment} is not a segment of {cat.root}")
    gen = cat.snapshot(gen_table)
    parent = gen.lineage["crawldb_parent_snapshot"]
    if parent is None:
        raise UsageError(f"{args.segment} was generated without a CrawlDb; inject first")
    seg = segment_name(cycle_id)
    tables = {t: cat.snapshot(t).snapshot_id for t in (f"{seg}_{n}" for n in SEGMENT_TABLES)}
    crawler = _crawler(cat)
    res = crawler.update(
        cycle_id, args.now_ms, cat.read(crawler.spark, CRAWLDB, parent),
        cat.snapshot(CRAWLDB, parent), cat.read(crawler.spark, gen_table, gen.snapshot_id),
        gen.rows, tables,
    )
    print(f"updatedb: crawldb now {res.db_size} urls")
    return 0


def _update_crawldb(args, stage: str, fn):
    """Commit ``fn(CrawlDb)`` as the next CrawlDb snapshot, expecting
    the snapshot it read to be current still."""
    cat = _crawldb(args.crawldb)
    parent = cat.current_snapshot_id(CRAWLDB)
    out = fn(cat.read(_spark(), CRAWLDB, parent))
    return commit_crawldb(cat, out, args.now_ms, stage, expected_parent=parent)


def cmd_readdb(args) -> int:
    from nutch_spark.operators import stats

    spark = _spark()
    db = _read(spark, args.crawldb)
    if args.stats:
        for r in stats.crawldb_stats(db).collect():
            print(r.asDict())
    elif args.topN is not None:
        df = stats.top_n(db, args.topN)
        if args.out:
            _write(df, args.out)
        for r in df.collect():
            print(r["url"], r["score"])
    elif args.dump:
        df = stats.dump(db, status=args.status, regex=args.regex, jexl=args.expr)
        _write(df, args.dump)
        # count the WRITTEN parquet (metadata-only) — counting df would
        # re-run the whole filtered scan a second time
        print(f"readdb: dumped {_read(spark, args.dump).count()} rows to {args.dump}")
    elif args.url:
        for r in stats.read_url(db, args.url).collect():
            print(r.asDict())
    else:
        print("readdb: one of -stats/-topN/-dump/-url required", file=sys.stderr)
        return 2
    return 0


def cmd_mergedb(args) -> int:
    from nutch_spark.operators.merger import merge_crawldbs

    spark = _spark()
    cfg = NutchConfig()
    out = merge_crawldbs([_read(spark, p) for p in args.dbs], cfg)
    snap = commit_crawldb(_crawldb(args.out), out, args.now_ms, "mergedb")
    print(f"mergedb: {snap.rows} urls")
    return 0


def cmd_invertlinks(args) -> int:
    from nutch_spark.operators.linkdb import invert_links, merge_linkdbs

    spark = _spark()
    cfg = NutchConfig()
    cat, table = _table(args.linkdb)
    new = invert_links(_read(spark, args.outlinks), cfg)
    parent = cat.current_snapshot_id(table)
    existing = cat.read(spark, table, parent) if parent is not None else None
    snap = cat.commit(
        merge_linkdbs(existing, new, cfg), table, now_ms=args.now_ms,
        lineage={"stage": "invertlinks"}, expected_parent=parent,
    )
    print(f"invertlinks: linkdb now {snap.rows} targets")
    return 0


def cmd_readlinkdb(args) -> int:
    """LinkDbReader (``crawl/LinkDbReader.java:154-231``): -dump with
    optional -regex on the target url, or -url for one target's
    inlinks. Same parquet-table convention as readdb."""
    from pyspark.sql import functions as F

    spark = _spark()
    db = _read(spark, args.linkdb)
    if args.dump:
        df = db
        if args.regex:
            # LinkDbReader.java:134-151 screens the KEY (target url)
            df = df.filter(F.col("url").rlike(args.regex))
        _write(df, args.dump)
        print(f"readlinkdb: dumped {_read(spark, args.dump).count()} targets to {args.dump}")
    elif args.url:
        rows = db.filter(F.col("url") == args.url).collect()
        if not rows:
            print(f"no link information for {args.url}")
        for r in rows:
            for il in r["inlinks"]:
                print(f"fromUrl: {il['from_url']} anchor: {il['anchor']}")
    else:
        print("readlinkdb: one of -dump/-url required", file=sys.stderr)
        return 2
    return 0


def cmd_dedup(args) -> int:
    from nutch_spark.operators.dedup import dedup

    _update_crawldb(args, "dedup", lambda db: dedup(db, NutchConfig()))
    print("dedup: done")
    return 0


def cmd_hostdb(args) -> int:
    from nutch_spark.operators.stats import hostdb_update

    spark = _spark()
    cfg = NutchConfig()
    out = hostdb_update(_read(spark, args.crawldb), cfg)
    _write(out, args.hostdb)
    print(f"hostdb: {_read(spark, args.hostdb).count()} hosts")
    return 0


def cmd_parsechecker(args) -> int:
    """ParserChecker: parse a local file as the given URL and print
    title/text/outlinks (html via tag strip + href resolve, plain text
    via the OutlinkExtractor regex)."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.feed import strip_tags
    from nutch_spark.operators.js_parse import resolve_url
    from nutch_spark.operators.parse import text_outlinks

    spark = _spark()
    raw = open(args.file, "rb").read().decode("utf-8", "replace")
    df = spark.createDataFrame([(args.url, raw)], "url string, content string")
    is_html = "<" in raw and ">" in raw
    if is_html:
        row = df.select(
            strip_tags(
                F.regexp_extract("content", "(?is)<title>(.*?)</title>", 1)
            ).alias("title"),
            strip_tags(F.col("content")).alias("text"),
            F.transform(
                F.regexp_extract_all(
                    "content", F.lit('(?i)<a[^>]*href="([^"]*)"'), 1
                ),
                lambda h: resolve_url(F.col("url"), h),
            ).alias("outlinks"),
        ).first()
        title, text, links = row["title"], row["text"], row["outlinks"]
    else:
        title = raw.splitlines()[0][:80] if raw else ""
        text = raw
        links = [
            r["to_url"]
            for r in text_outlinks(
                df.select("url", F.col("content").alias("text"))
            ).collect()
        ]
    print(f"Title: {title}")
    print(f"Text: {text[:200]}")
    print(f"Outlinks: {len(links)}")
    for l in links:
        print(f"  outlink: {l}")
    return 0


def cmd_indexchecker(args) -> int:
    """IndexingFiltersChecker: parsechecker + the indexable fields."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.feed import strip_tags
    from nutch_spark.operators.index_filters import detect_mime_by_url
    from nutch_spark.ml.text import quality_score
    from nutch_spark.urls.urlutil import host_expr

    spark = _spark()
    raw = open(args.file, "rb").read().decode("utf-8", "replace")
    df = spark.createDataFrame([(args.url, raw)], "url string, content string")
    text = F.when(
        F.lit("<" in raw), strip_tags(F.col("content"))
    ).otherwise(F.col("content"))
    row = df.select(
        F.col("url").alias("id"),
        host_expr(F.col("url")).alias("host"),
        detect_mime_by_url(F.col("url")).alias("type"),
        F.substring(text, 1, 100).alias("title"),
        F.substring(text, 1, 10000).alias("content"),
        F.md5("content").alias("digest"),
    ).first()
    for k, v in row.asDict().items():
        print(f"{k} :\t{str(v)[:120]}")
    q = df.select(quality_score(text).alias("q")).first()["q"]
    print(f"quality :\t{q}")
    return 0


# SegmentReader parts (segment/SegmentReader.java:66-74) — ours are the
# parquet tables a cycle commits; crawl_generate exists when the CLI's
# generate/freegen wrote the segment (run_cycle keeps its fetchlist in
# memory) and content only when a caller staged it, and a missing part
# prints '?' exactly like the reference's per-part flags. crawl_redirect
# holds the redirect-target datums the reference keeps in crawl_fetch
_SEG_PARTS = (
    "crawl_generate", "crawl_fetch", "crawl_redirect", "content",
    "crawl_parse", "parse_data", "parse_text", "parse_meta",
)


def _seg_part(seg: str, part: str) -> str | None:
    """Resolve one segment part dir: ``<seg>/<part>`` (reference
    layout) or ``<seg>_<part>`` (catalog table naming)."""
    for cand in (os.path.join(seg, part), seg.rstrip("/") + "_" + part):
        if os.path.isdir(cand):
            return cand
    return None


def _fmt_ms(ms) -> str:
    import datetime as dt

    if ms is None:
        return "?"
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S"
    )


def cmd_readseg(args) -> int:
    """SegmentReader (``segment/SegmentReader.java:494-614``): -list
    prints the reference's NAME/GENERATED/FETCHER START/END/FETCHED/
    PARSED line per segment ('?' for absent parts); -dump writes a
    url-sorted text rendering of every part record (datum/parse rows as
    JSON — the operational equivalent of CrawlDatum.toString()); -get
    prints one URL's records across all parts. Fetcher start/end are
    UTC (the reference formats in local time)."""
    from pyspark.sql import functions as F

    if not (args.list or args.dump or args.get):
        print("readseg: one of -list/-dump/-get required", file=sys.stderr)
        return 2
    spark = _spark()
    if args.list:
        print("NAME\t\tGENERATED\tFETCHER START\t\tFETCHER END\t\tFETCHED\tPARSED")
        for seg in args.segments:
            gen = fetched = parsed = start = end = None
            part = _seg_part(seg, "crawl_generate")
            if part:
                gen = _read(spark, part).count()
            part = _seg_part(seg, "crawl_fetch")
            if part:
                fetched, start, end = _read(spark, part).agg(
                    F.count("*"), F.min("fetch_time"), F.max("fetch_time")
                ).collect()[0]
            part = _seg_part(seg, "parse_data") or _seg_part(seg, "parse_text")
            if part:
                parsed = _read(spark, part).count()
            name = os.path.basename(seg.rstrip("/"))
            print(
                f"{name}\t{gen if gen is not None else '?'}\t\t"
                f"{_fmt_ms(start)}\t{_fmt_ms(end)}\t"
                f"{fetched if fetched is not None else '?'}\t"
                f"{parsed if parsed is not None else '?'}"
            )
        return 0

    # -dump/-get read EVERY listed segment (the parser accepts many);
    # sections union across segments, so a url refetched in two
    # segments shows both records, like merging the reference's dumps
    sections = []
    for seg, part in ((s, p) for s in args.segments for p in _SEG_PARTS):
        path = _seg_part(seg, part)
        if not path:
            continue
        df = _read(spark, path)
        label = {
            "crawl_generate": "CrawlDatum::",
            "crawl_fetch": "CrawlDatum::",
            "crawl_redirect": "CrawlDatum::",
            "crawl_parse": "CrawlDatum::",
            "content": "Content::",
            "parse_data": "ParseData::",
            "parse_text": "ParseText::",
            "parse_meta": "ParseMeta::",
        }[part]
        body = (
            F.col("text")
            if part == "parse_text"
            else F.to_json(F.struct(*[c for c in df.columns if c != "url"]))
        )
        sections.append(
            df.select(
                "url",
                F.concat(F.lit(f"{part} {label}\n"), body).alias("section"),
            )
        )
    if not sections:
        print(
            f"readseg: no segment parts found under {' '.join(args.segments)}",
            file=sys.stderr,
        )
        return 2
    union = sections[0]
    for s_ in sections[1:]:
        union = union.unionByName(s_)

    if args.get:
        rows = union.filter(F.col("url") == args.get).collect()
        if not rows:
            print(f"readseg: no records for {args.get}")
            return 0
        print(f"URL:: {args.get}")
        for r in sorted(rows, key=lambda r: r["section"]):
            print(r["section"])
        return 0

    # -dump: per-url record groups in url order (the reference's
    # sorted-key dump), one text part per output split
    out = (
        union.groupBy("url")
        .agg(F.array_sort(F.collect_list("section")).alias("secs"))
        .select(
            F.concat(
                F.lit("URL:: "), F.col("url"), F.lit("\n"),
                F.array_join("secs", "\n"),
            ).alias("value")
        )
        .orderBy("value")
    )
    # exact record count: one output row per url group. persist so the
    # count and the write share one execution of the union+groupBy
    # (re-reading the text and counting 'URL:: ' lines over-counts when
    # a page's parse_text itself contains such a line)
    out.persist()
    try:
        n = out.count()
        out.write.mode("overwrite").text(args.dump)
    finally:
        out.unpersist()
    print(f"readseg: dumped {n} records to {args.dump}")
    return 0


def cmd_freegen(args) -> int:
    """FreeGenerator (``tools/FreeGenerator.java``): the next segment's
    fetchlist straight from seed text, skipping the CrawlDb."""
    from nutch_spark.operators.generate import free_generate

    cat = SnapshotCatalog(args.crawl)
    crawler = _crawler(cat)
    fl = free_generate(
        crawler.spark, args.seeds, crawler.cfg, args.now_ms, num_lists=args.num_lists
    )
    parent = cat.current_snapshot_id(CRAWLDB)
    print("freegen: " + _commit_fetchlist(crawler, fl, args.now_ms, parent))
    return 0


def _empty_robots(spark):
    return spark.createDataFrame(
        [],
        "host string, disallow array<string>, allow array<string>,"
        " crawl_delay double, defer_visits boolean, forbid_all boolean",
    )


def cmd_fetch(args) -> int:
    """Fetcher (``fetcher/Fetcher.java``) over the simulated web: the
    politeness/robots/redirect machinery is real; the network is a
    table. Fetches the segment's ``crawl_generate`` into its
    ``crawl_fetch`` and ``crawl_redirect``. ``--outcomes`` is the (url,
    outcome, redirect_to, latency_ms) protocol fixture — absent, every
    fetchlist url succeeds at 100 ms (an operator smoke run)."""
    from pyspark.sql import functions as F

    cat, cycle_id, table = _segment(args.segment, "crawl_generate")
    spark = _spark()
    fl = cat.read(spark, table)
    robots = _read(spark, args.robots) if args.robots else _empty_robots(spark)
    if args.outcomes:
        outcomes = _read(spark, args.outcomes)
    else:
        outcomes = fl.select(
            "url",
            F.lit("success").alias("outcome"),
            F.lit(None).cast("string").alias("redirect_to"),
            F.lit(100).cast("long").alias("latency_ms"),
        )
    dns = _read(spark, args.dns) if args.dns else None
    crawler = _crawler(cat, robots=robots, outcomes=outcomes)
    crawl_fetch, crawl_redirect = crawler.fetch(fl, args.now_ms, dns=dns)
    try:
        fetched, _ = crawler.commit_segment(cycle_id, args.now_ms, {
            "crawl_fetch": crawl_fetch, "crawl_redirect": crawl_redirect,
        }).values()
    finally:
        crawl_fetch.unpersist()
    print(f"fetch: {fetched.rows} urls fetched")
    return 0


def cmd_parse(args) -> int:
    """ParseSegment (``parse/ParseSegment.java``): parse the pages of
    the segment's ``crawl_fetch``, their content read from the
    ``--docs`` corpus table (doc_id, spans, is_canonical), into its
    ``crawl_parse``, ``parse_text``, ``parse_data`` and ``parse_meta``."""
    cat, cycle_id, table = _segment(args.segment, "crawl_fetch")
    spark = _spark()
    crawler = _crawler(cat, docs=_read(spark, args.docs))
    handles: list = []
    try:
        committed = crawler.commit_segment(
            cycle_id, args.now_ms, crawler.parse(cat.read(spark, table), handles)
        )
    finally:
        for h in handles:
            h.unpersist()
    n = committed[f"{segment_name(cycle_id)}_parse_text"].rows
    print(f"parse: {n} documents parsed")
    return 0


def cmd_mergesegs(args) -> int:
    """SegmentMerger (``segment/SegmentMerger.java``) over segment-rows
    tables; ``--slice`` caps rows per output slice like -slice."""
    from nutch_spark.operators.merger import merge_segments

    spark = _spark()
    out = merge_segments(
        [_read(spark, p) for p in args.segments], slice_size=args.slice
    )
    _write(out, args.out)
    print(f"mergesegs: {_read(spark, args.out).count()} rows")
    return 0


def cmd_mergelinkdb(args) -> int:
    """LinkDbMerger: left-fold of merge_linkdbs (inlink union with the
    db.max.inlinks cap at every step, like the reference's reducer)."""
    from nutch_spark.operators.linkdb import merge_linkdbs

    spark = _spark()
    cfg = NutchConfig()
    acc = _read(spark, args.dbs[0])
    for p in args.dbs[1:]:
        acc = merge_linkdbs(acc, _read(spark, p), cfg)
    cat, table = _table(args.out)
    snap = cat.commit(acc, table, now_ms=args.now_ms, lineage={"stage": "mergelinkdb"})
    print(f"mergelinkdb: {snap.rows} targets")
    return 0


def cmd_index(args) -> int:
    """IndexingJob (``indexer/IndexingJob.java``): build NutchDocuments
    from crawldb + parse_text and write them through the jsonl (the
    exchange sink) or csv writer."""
    from nutch_spark.operators.indexer import (
        index_documents, write_csv, write_jsonl,
    )

    spark = _spark()
    cfg = NutchConfig()
    docs = index_documents(_read(spark, args.crawldb), _read(spark, args.parse_text), cfg)
    if args.format == "csv":
        write_csv(docs, args.out, ["url", "title", "content"])
    else:
        write_jsonl(docs, args.out)
    n = spark.read.text(args.out).count()
    print(f"index: {n} documents written ({args.format})")
    return 0


def cmd_clean(args) -> int:
    """CleaningJob (``indexer/CleaningJob.java:44-72``): scan the
    crawldb for DB_GONE (404) and DB_DUPLICATE entries and emit delete
    requests for the index writers (jsonl delete actions here)."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.warc import _json_escape
    from nutch_spark.schema import STATUS_DB_DUPLICATE, STATUS_DB_GONE

    spark = _spark()
    dels = (
        _read(spark, args.crawldb)
        .filter(F.col("status").isin(STATUS_DB_GONE, STATUS_DB_DUPLICATE))
        .select(F.concat(F.lit('{"url":"'), _json_escape(F.col("url")),
                         F.lit('","action":"delete"}')).alias("value"))
    )
    dels.write.mode("overwrite").text(args.out)
    n = spark.read.text(args.out).count()
    print(f"CleaningJob: deleted a total of {n} documents")
    return 0


def cmd_dump(args) -> int:
    """FileDumper (``tools/FileDumper.java``): export each fetched
    document's text to ``<md5(url)>.txt`` — executors write their own
    partition's files (no driver collect)."""
    from pyspark.sql import functions as F

    spark = _spark()
    out_dir = os.path.abspath(args.out)
    os.makedirs(out_dir, exist_ok=True)
    df = _read(spark, args.parse_text).select(
        F.md5("url").alias("name"), F.coalesce("text", F.lit("")).alias("text")
    )

    if spark.sparkContext.master.startswith("local"):
        # executors share the driver's filesystem: write in parallel
        def _write_part(rows):
            for r in rows:
                with open(os.path.join(out_dir, r["name"] + ".txt"), "w") as f:
                    f.write(r["text"])

        df.foreachPartition(_write_part)
        n = len(os.listdir(out_dir))
    else:
        # non-local master: out_dir only exists on the driver, so stream
        # partitions through it (bounded memory) instead of having each
        # executor open() a path that lives on another machine
        n = 0
        for r in df.toLocalIterator():
            with open(os.path.join(out_dir, r["name"] + ".txt"), "w") as f:
                f.write(r["text"])
            n += 1
    print(f"dump: {n} files in {out_dir}")
    return 0


def cmd_commoncrawldump(args) -> int:
    """CommonCrawlDataDumper: one CommonCrawl JSON envelope per fetched
    page, written as text lines keyed by the reversed-host key."""
    from nutch_spark.operators.warc import commoncrawl_records

    spark = _spark()
    recs = commoncrawl_records(_read(spark, args.pages))
    recs.select("record").write.mode("overwrite").text(args.out)
    print(f"commoncrawldump: {spark.read.text(args.out).count()} records")
    return 0


def cmd_warc(args) -> int:
    """WARCExporter: WARC resource records (one warcinfo per file part)
    from fetched content (url, status, fetch_time, spans)."""
    from nutch_spark.operators.warc import warc_records, write_warc

    spark = _spark()
    recs = warc_records(_read(spark, args.content))
    write_warc(recs, args.out)
    n = len([f for f in os.listdir(args.out) if f.endswith(".warc")])
    print(f"warc: wrote {n} warc files to {args.out}")
    return 0


def cmd_filedump(args) -> int:
    """FileDumper (tools/FileDumper.java): stored content -> one local
    file per record (md5-fanout naming), or -mimeStats counts only."""
    from nutch_spark.operators.filedump import file_dumper

    spark = _spark()
    stats = file_dumper(
        _read(spark, args.content),
        None if args.mime_stats else args.out,
        mime_types=args.mime_type or None,
        flat=args.flat,
        mime_type_stats=args.mime_stats,
        reverse_url_dirs=args.reverse_url_dirs,
    )
    for mime, n in sorted(stats["typeCounts"].items()):
        kept = stats["filteredCounts"].get(mime, 0)
        print(f"{mime}\t{n}\t{kept}")
    print(f"filedump: wrote {stats['files']} files")
    return 0


def cmd_resolveurls(args) -> int:
    """ResolveUrls (tools/ResolveUrls.java): host resolution check over
    a urls file; --hosts supplies a (host, ip) table (no network here)."""
    from nutch_spark.operators.filedump import resolve_urls, resolve_urls_summary

    spark = _spark()
    urls = spark.read.text(args.urls).withColumnRenamed("value", "url")
    resolver = _read(spark, args.hosts) if args.hosts else None
    out = resolve_urls(urls, resolver=resolver)
    s = resolve_urls_summary(out)
    print(f"total: {s['total']}, resolved: {s['resolved']}, errored: {s['errored']}")
    return 0


def cmd_linkdumper(args) -> int:
    """LinkDumper (scoring/webgraph/LinkDumper.java): build the
    url -> inlink-node-detail db; --url prints one url's detail like
    LinkDumper$Reader."""
    from nutch_spark.operators.webgraph import link_dump_lines, link_dumper

    spark = _spark()
    links = _read(spark, args.webgraph)
    scores = _read(spark, args.scores) if args.scores else None
    dump = link_dumper(links, scores=scores, max_inlinks=args.max_inlinks)
    if args.out:
        _write(dump, args.out)
        print(f"linkdumper: {_read(spark, args.out).count()} urls")
    if args.url:
        for line in link_dump_lines(dump, args.url):
            print(line)
    return 0


def cmd_arc(args) -> int:
    """ArcSegmentCreator: ARC archives -> a segment (crawl_fetch datums
    + content rows), tools/arc/ArcSegmentCreator.java:368-409."""
    import time

    from nutch_spark.operators.arc import arc_segment, read_arc

    spark = _spark()
    seg_name = args.segment_name or time.strftime("%Y%m%d%H%M%S")
    seg = arc_segment(
        read_arc(spark, args.arc_files),
        now_ms=int(time.time() * 1000),
        segment_name=seg_name,
    )
    out = os.path.join(args.segments_out, seg_name)
    _write(seg["crawl_fetch"], os.path.join(out, "crawl_fetch"))
    _write(seg["content"], os.path.join(out, "content"))
    n = seg["crawl_fetch"].count()
    print(f"arc: wrote segment {seg_name} ({n} records) to {out}")
    return 0


def cmd_domainstats(args) -> int:
    from nutch_spark.operators.stats import domain_stats

    spark = _spark()
    df = domain_stats(_read(spark, args.crawldb), mode=args.mode)
    if args.out:
        _write(df, args.out)
    for r in df.orderBy("n_urls", ascending=False).limit(args.limit).collect():
        print(f"{r[0]}\t{r['n_urls']}")
    return 0


def cmd_protocolstats(args) -> int:
    from nutch_spark.operators.stats import protocol_status_stats

    spark = _spark()
    for r in protocol_status_stats(_read(spark, args.crawldb)).collect():
        print(f"{r[0]}\t{r[1]}")
    return 0


def cmd_crawlcomplete(args) -> int:
    from nutch_spark.operators.stats import crawl_summary

    spark = _spark()
    for r in crawl_summary(_read(spark, args.crawldb), mode=args.mode).collect():
        print("\t".join(str(v) for v in r))
    return 0


def cmd_webgraph(args) -> int:
    from nutch_spark.operators.webgraph import build_webgraph

    spark = _spark()
    links = build_webgraph(_read(spark, args.outlinks))
    _write(links, args.out)
    print(f"webgraph: {_read(spark, args.out).count()} edges")
    return 0


def cmd_linkrank(args) -> int:
    from nutch_spark.operators.webgraph import linkrank

    spark = _spark()
    scores = linkrank(_read(spark, args.webgraph), iterations=args.iterations)
    _write(scores, args.out)
    print(f"linkrank: {_read(spark, args.out).count()} nodes scored")
    return 0


def cmd_scoreupdater(args) -> int:
    from nutch_spark.operators.webgraph import score_updater

    scores = _read(_spark(), args.scores)
    _update_crawldb(args, "scoreupdater", lambda db: score_updater(db, scores))
    print("scoreupdater: crawldb scores updated")
    return 0


def cmd_nodedumper(args) -> int:
    """NodeDumper (``scoring/webgraph/NodeDumper.java:55-200``): top
    urls by inlink count, outlink count, or link-analysis score."""
    from pyspark.sql import functions as F

    if args.group == "scores" and not args.scores:
        print("nodedumper: --scores required with --group scores", file=sys.stderr)
        return 2
    if args.group != "scores" and not args.webgraph:
        print("nodedumper: --webgraph required with --group in/out", file=sys.stderr)
        return 2
    spark = _spark()
    if args.group == "scores":
        df = _read(spark, args.scores).select("url", F.col("score").alias("value"))
    else:
        links = _read(spark, args.webgraph)
        key = "dst" if args.group == "in" else "src"
        df = links.groupBy(F.col(key).alias("url")).agg(F.count("*").alias("value"))
    top = df.orderBy(F.desc("value"), "url").limit(args.topn)
    if args.out:
        _write(top, args.out)
    for r in top.collect():
        print(f"{r['url']}\t{r['value']}")
    return 0


def cmd_readhostdb(args) -> int:
    """ReadHostDb (``hostdb/ReadHostDb.java``): -dump the host table or
    -get one host's record."""
    from pyspark.sql import functions as F

    spark = _spark()
    db = _read(spark, args.hostdb)
    if args.dump:
        from nutch_spark.operators.stats import read_hostdb

        _write(read_hostdb(db, jexl=args.expr), args.dump)
        print(f"readhostdb: dumped {_read(spark, args.dump).count()} hosts")
    elif args.get:
        rows = db.filter(F.col(db.columns[0]) == args.get).collect()
        if not rows:
            print(f"no host information for {args.get}")
        for r in rows:
            print(r.asDict())
    else:
        print("readhostdb: one of -dump/-get required", file=sys.stderr)
        return 2
    return 0


def cmd_sitemap(args) -> int:
    """SitemapProcessor (``util/SitemapProcessor.java``): parse fetched
    sitemap XML (sitemap_url, content) and merge entries into the
    crawldb (new urls become db_unfetched)."""
    from nutch_spark.operators.sitemap import parse_sitemaps, sitemap_merge

    spark = _spark()
    cfg = NutchConfig()
    entries, index_refs = parse_sitemaps(_read(spark, args.sitemaps), cfg)
    snap = _update_crawldb(args, "sitemap", lambda db: sitemap_merge(
        db, entries, cfg, args.now_ms, overwrite=args.overwrite,
    ))
    n_idx = index_refs.count()
    print(f"sitemap: crawldb now {snap.rows} urls"
          f" ({n_idx} child sitemaps not followed)")
    return 0


def cmd_snapshots(args) -> int:
    """Snapshot history of a catalog table (Iceberg `history`-style):
    one line per snapshot with stage/cycle lineage and metrics, plus —
    with -manifest — the per-file row/byte/url-range manifest the
    commit recorded from the parquet footers (per-partition lineage)."""
    cat = SnapshotCatalog(args.warehouse)
    snaps = cat.snapshots(args.table)
    if not snaps:
        print(f"snapshots: no history for {args.table}", file=sys.stderr)
        return 2
    cur = cat.current_snapshot_id(args.table)
    for s in snaps:
        mark = "*" if s.snapshot_id == cur else " "
        lin = " ".join(f"{k}={v}" for k, v in sorted(s.lineage.items()))
        met = " ".join(
            f"{k}={v}" for k, v in sorted(s.metrics.items()) if not isinstance(v, dict)
        )
        print(f"{mark} {s.snapshot_id}\tparent={s.parent_id}\t{lin}\t{met}")
        if args.manifest:
            for f in s.manifest:
                rng = (
                    f"\t[{f['url_min']} .. {f['url_max']}]"
                    if "url_min" in f
                    else ""
                )
                print(f"    {f['file']}\trows={f['rows']}\tbytes={f['bytes']}{rng}")
    return 0


def cmd_showproperties(args) -> int:
    """ShowProperties: dump the effective configuration."""
    import dataclasses

    for f in sorted(dataclasses.fields(NutchConfig), key=lambda f: f.name):
        print(f"{f.name}={getattr(NutchConfig(), f.name)}")
    return 0


def cmd_normalizerchecker(args) -> int:
    from nutch_spark.urls.normalizer import normalize

    out = normalize(args.url)
    print(out if out is not None else "<rejected>")
    return 0


def cmd_filterchecker(args) -> int:
    """URLFilterChecker: the default rule chain, evaluated by the same
    JVM column the crawl filters with."""
    from pyspark.sql import functions as F

    from nutch_spark.urls.filters import DEFAULT_RULES, url_filter_cond

    spark = _spark()
    ok = spark.range(1).select(url_filter_cond(F.lit(args.url), DEFAULT_RULES)).first()[0]
    print(f"{'+' if ok else '-'}{args.url}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="nutch", description=__doc__)
    p.add_argument("--now-ms", type=int, default=1_704_000_000_000,
                   help="injected clock (determinism)")
    sub = p.add_subparsers(dest="cmd", required=True)

    def cmd(name, *positional, aliases=()):
        """Subcommand ``name``, run by ``cmd_<name>``, and its
        positional arguments."""
        s = sub.add_parser(name, aliases=list(aliases))
        for a in positional:
            s.add_argument(a)
        s.set_defaults(fn=globals()[f"cmd_{name}"])
        return s

    cmd("inject", "crawldb", "seeds")
    s = cmd("generate", "crawldb")
    s.add_argument("--top-n", type=int, default=50_000)
    s.add_argument("--num-lists", type=int, default=None,
                   help="fetch partitions (default: fetch_partitions)")
    s.add_argument("-expr", "--expr", default=None, dest="expr",
                   help="JEXL eligibility filter (generate.expr)")
    s = cmd("freegen", "seeds", "crawl")
    s.add_argument("--num-lists", type=int, default=None)
    s = cmd("fetch", "segment")
    s.add_argument("--robots", default=None)
    s.add_argument("--outcomes", default=None)
    s.add_argument("--dns", default=None)
    s = cmd("parse", "segment")
    s.add_argument("--docs", required=True,
                   help="corpus table the fetched pages are read from")
    cmd("updatedb", "crawldb", "segment")

    s = cmd("readdb", "crawldb")
    s.add_argument("-stats", action="store_true", dest="stats")
    s.add_argument("-topN", type=int, default=None, dest="topN")
    s.add_argument("-dump", default=None, dest="dump")
    s.add_argument("-url", default=None, dest="url")
    s.add_argument("--out", default=None)
    s.add_argument("--status", type=int, default=None)
    s.add_argument("--regex", default=None)
    s.add_argument("-expr", "--expr", default=None, dest="expr",
                   help="JEXL filter over the CrawlDatum context")
    cmd("mergedb", "out").add_argument("dbs", nargs="+")
    cmd("invertlinks", "linkdb", "outlinks")
    s = cmd("readlinkdb", "linkdb")
    s.add_argument("-dump", dest="dump")
    s.add_argument("-regex", dest="regex")
    s.add_argument("-url", dest="url")
    cmd("dedup", "crawldb")
    cmd("hostdb", "crawldb", "hostdb", aliases=["updatehostdb"])
    cmd("parsechecker", "file").add_argument("--url", default="http://example.com/")
    cmd("indexchecker", "file").add_argument("--url", default="http://example.com/")
    s = cmd("readseg")
    s.add_argument("segments", nargs="+",
                   help="segment dir(s) or catalog table prefix(es)")
    s.add_argument("-list", action="store_true", dest="list")
    s.add_argument("-dump", default=None, dest="dump")
    s.add_argument("-get", default=None, dest="get")
    s = cmd("mergesegs", "out")
    s.add_argument("segments", nargs="+")
    s.add_argument("--slice", type=int, default=None)
    cmd("mergelinkdb", "out").add_argument("dbs", nargs="+")
    s = cmd("index", "crawldb", "parse_text", "out")
    s.add_argument("--format", choices=["jsonl", "csv"], default="jsonl")
    cmd("clean", "crawldb", "out")
    cmd("dump", "parse_text", "out")
    cmd("commoncrawldump", "pages", "out")
    cmd("warc", "content", "out")
    s = cmd("filedump", "content")
    s.add_argument("out", nargs="?", default=None)
    s.add_argument("--mime-type", action="append", default=None)
    s.add_argument("--flat", action="store_true")
    s.add_argument("--mime-stats", action="store_true")
    s.add_argument("--reverse-url-dirs", action="store_true")
    cmd("resolveurls", "urls").add_argument("--hosts", default=None)
    s = cmd("linkdumper", "webgraph")
    s.add_argument("--scores", default=None)
    s.add_argument("--out", default=None)
    s.add_argument("--url", default=None)
    s.add_argument("--max-inlinks", type=int, default=50000)
    cmd("arc", "arc_files", "segments_out").add_argument("--segment-name", default=None)
    s = cmd("domainstats", "crawldb")
    s.add_argument("--mode", choices=["domain", "host", "suffix", "tld"],
                   default="domain")
    s.add_argument("--out", default=None)
    s.add_argument("--limit", type=int, default=50)
    cmd("protocolstats", "crawldb")
    cmd("crawlcomplete", "crawldb").add_argument(
        "--mode", choices=["host", "domain"], default="host")
    cmd("webgraph", "outlinks", "out")
    cmd("linkrank", "webgraph", "out").add_argument("--iterations", type=int, default=10)
    cmd("scoreupdater", "crawldb", "scores")
    s = cmd("nodedumper")
    s.add_argument("--group", choices=["in", "out", "scores"], default="in")
    s.add_argument("--webgraph", default=None)
    s.add_argument("--scores", default=None)
    s.add_argument("--topn", type=int, default=10)
    s.add_argument("--out", default=None)
    s = cmd("readhostdb", "hostdb")
    s.add_argument("-dump", default=None, dest="dump")
    s.add_argument("-get", default=None, dest="get")
    s.add_argument("-expr", "--expr", default=None, dest="expr",
                   help="JEXL filter (hostdb.filter.expression)")
    cmd("sitemap", "crawldb", "sitemaps").add_argument("--overwrite", action="store_true")
    cmd("snapshots", "warehouse", "table").add_argument("-manifest", action="store_true")
    cmd("showproperties")
    cmd("normalizerchecker", "url")
    cmd("filterchecker", "url")

    args = p.parse_args(argv)
    try:
        return args.fn(args)
    except (UsageError, FileNotFoundError) as exc:
        print(f"{args.cmd}: {exc}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    raise SystemExit(main())
