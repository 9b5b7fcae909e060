"""bin/nutch-style command dispatcher over parquet table directories.

The reference exposes each crawl stage as a CLI subcommand
(``src/bin/nutch``); this is the same operational surface on Spark so
a reference user can run their existing playbook verbatim:

    python tools/nutch.py inject   crawldb/ seeds.txt
    python tools/nutch.py generate crawldb/ fetchlist/ --top-n 50000 --num-lists 8
    python tools/nutch.py updatedb crawldb/ segment_rows/
    python tools/nutch.py readdb   crawldb/ -stats
    python tools/nutch.py readdb   crawldb/ -topN 10
    python tools/nutch.py readdb   crawldb/ -dump out/ [--status N] [--regex R]
    python tools/nutch.py mergedb  out/ db1/ db2/ ...
    python tools/nutch.py invertlinks linkdb/ outlinks/
    python tools/nutch.py readseg  -list wh/segment_0001 [...]
    python tools/nutch.py readseg  wh/segment_0001 -dump out/ | -get URL
    python tools/nutch.py dedup    crawldb/
    python tools/nutch.py hostdb   crawldb/ hostdb/   (alias: updatehostdb)
    python tools/nutch.py readhostdb hostdb/ -get host.example.com
    python tools/nutch.py freegen  seeds.txt fetchlist/
    python tools/nutch.py fetch    fetchlist/ seg [--robots R --outcomes O]
    python tools/nutch.py parse    seg_content/ seg
    python tools/nutch.py mergesegs out/ seg1_rows/ seg2_rows/ [--slice N]
    python tools/nutch.py mergelinkdb out/ ldb1/ ldb2/
    python tools/nutch.py index    crawldb/ seg_parse_text/ out/ [--format csv]
    python tools/nutch.py clean    crawldb/ deletes/
    python tools/nutch.py dump     seg_parse_text/ files/
    python tools/nutch.py commoncrawldump pages/ out/
    python tools/nutch.py arc     arcs/ segments/
    python tools/nutch.py warc     seg_content/ out/
    python tools/nutch.py domainstats crawldb/ [--mode host|domain|suffix|tld]
    python tools/nutch.py protocolstats crawldb/
    python tools/nutch.py crawlcomplete crawldb/ [--mode host|domain]
    python tools/nutch.py webgraph outlinks/ graph/
    python tools/nutch.py linkrank graph/ scores/ [--iterations 10]
    python tools/nutch.py scoreupdater crawldb/ scores/
    python tools/nutch.py nodedumper --group in --webgraph graph/ --topn 10
    python tools/nutch.py sitemap  crawldb/ sitemaps/ [--overwrite]
    python tools/nutch.py snapshots wh/ crawldb [-manifest]
    python tools/nutch.py showproperties
    python tools/nutch.py normalizerchecker 'http://WWW.Ex.COM:80/a/../b'
    python tools/nutch.py filterchecker 'https://example.com/x'

Tables are parquet directories (the SnapshotCatalog wraps the same
operators for versioned/resumable production use — crawl_loop.py);
every subcommand is a thin shell over the operator modules, so command
semantics and scale behavior are exactly the library's.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from nutch_spark.config import NutchConfig  # noqa: E402


def _install(tmp: str, target: str) -> None:
    """CrawlDb.install semantics: the previous table is renamed aside
    BEFORE the new one moves in, so a crash between steps leaves either
    the old db or both — never neither. (A bare rmtree-then-replace has
    a window where the live frontier is simply gone.)"""
    import shutil

    old = target.rstrip("/") + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    had_old = os.path.exists(target)
    if had_old:
        os.replace(target, old)
    os.replace(tmp, target)
    if had_old:
        shutil.rmtree(old)


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


def _now(args) -> int:
    return args.now_ms


def _read(spark, path):
    """Read a table dir: plain parquet, or — when the dir carries a
    SnapshotCatalog ``metadata.json`` (crawl_loop's committed tables,
    ``wh/<table>/snap-*/``) — the table's current snapshot. This is what
    lets ``readseg -list wh/segment_0001`` & co. work against the crawl
    loop's warehouse, not just bench-style plain-parquet prefixes."""
    p = path.rstrip("/")
    if os.path.exists(os.path.join(p, "metadata.json")):
        from nutch_spark.catalog import SnapshotCatalog

        cat = SnapshotCatalog(os.path.dirname(p) or ".")
        return cat.read(spark, os.path.basename(p))
    return spark.read.parquet(path)


def _write(df, path):
    df.write.mode("overwrite").parquet(path)


def cmd_inject(args) -> int:
    from nutch_spark.operators.inject import inject_full

    spark = _spark()
    cfg = NutchConfig()
    db = _read(spark, args.crawldb) if os.path.exists(args.crawldb) else None
    out = inject_full(spark, db, args.seeds, cfg, _now(args))
    # write-then-swap semantics belong to the catalog; plain CLI mode
    # writes to a temp dir then replaces, mirroring CrawlDb.install
    tmp = args.crawldb.rstrip("/") + ".tmp"
    _write(out, tmp)
    _install(tmp, args.crawldb)
    print(f"inject: crawldb now {_read(spark, args.crawldb).count()} urls")
    return 0


def cmd_generate(args) -> int:
    from nutch_spark.operators.generate import generate

    spark = _spark()
    cfg = NutchConfig()
    fl = generate(
        _read(spark, args.crawldb), cfg, _now(args),
        top_n=args.top_n, num_lists=args.num_lists, jexl=args.expr,
    )
    _write(fl, args.out)
    print(f"generate: {_read(spark, args.out).count()} urls in fetchlist")
    return 0


def cmd_updatedb(args) -> int:
    from nutch_spark.operators.updatedb import updatedb

    spark = _spark()
    cfg = NutchConfig()
    db = _read(spark, args.crawldb) if os.path.exists(args.crawldb) else None
    out = updatedb(db, _read(spark, args.segment), cfg, _now(args))
    tmp = args.crawldb.rstrip("/") + ".tmp"
    _write(out, tmp)
    _install(tmp, args.crawldb)
    print(f"updatedb: crawldb now {_read(spark, args.crawldb).count()} urls")
    return 0


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
    _write(out, args.out)
    print(f"mergedb: {_read(spark, args.out).count()} urls")
    return 0


def cmd_invertlinks(args) -> int:
    from nutch_spark.operators.linkdb import invert_links, merge_linkdbs

    spark = _spark()
    cfg = NutchConfig()
    new = invert_links(_read(spark, args.outlinks), cfg)
    existing = (
        _read(spark, args.linkdb) if os.path.exists(args.linkdb) else None
    )
    out = merge_linkdbs(existing, new, cfg)
    tmp = args.linkdb.rstrip("/") + ".tmp"
    _write(out, tmp)
    _install(tmp, args.linkdb)
    print(f"invertlinks: linkdb now {_read(spark, args.linkdb).count()} targets")
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

    spark = _spark()
    cfg = NutchConfig()
    out = dedup(_read(spark, args.crawldb), cfg)
    tmp = args.crawldb.rstrip("/") + ".tmp"
    _write(out, tmp)
    _install(tmp, args.crawldb)
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
# parquet tables crawl_loop commits per cycle; crawl_generate/content
# only exist when a caller staged them (bench does), and a missing part
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
    """FreeGenerator (``tools/FreeGenerator.java``): fetchlist straight
    from seed text, skipping the CrawlDb."""
    from nutch_spark.operators.generate import free_generate

    spark = _spark()
    cfg = NutchConfig()
    fl = free_generate(spark, args.seeds, cfg, _now(args), num_lists=args.num_lists)
    _write(fl, args.out)
    print(f"freegen: {_read(spark, args.out).count()} urls in fetchlist")
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
    table. ``--outcomes`` is the (url, outcome, redirect_to,
    latency_ms) protocol fixture — absent, every fetchlist url succeeds
    at 100 ms (an operator smoke run). Writes ``<out>_crawl_fetch`` and
    ``<out>_redirects``."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.fetchsim import fetch

    spark = _spark()
    cfg = NutchConfig()
    fl = _read(spark, args.fetchlist)
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
    crawl_fetch, redirects = fetch(fl, robots, outcomes, cfg, _now(args), dns=dns)
    _write(crawl_fetch, args.out.rstrip("/") + "_crawl_fetch")
    _write(redirects, args.out.rstrip("/") + "_redirects")
    n = _read(spark, args.out.rstrip("/") + "_crawl_fetch").count()
    print(f"fetch: {n} urls fetched")
    return 0


def cmd_parse(args) -> int:
    """ParseSegment (``parse/ParseSegment.java``): parse fetched
    content (url, score, fetch_time, gen_time, spans, is_canonical)
    into the segment part tables ``<out>_{parse_text,parse_data,
    parse_meta,crawl_parse}`` and ``<out>_outlinks``."""
    from nutch_spark.operators.parse import parse

    spark = _spark()
    cfg = NutchConfig()
    parsed = parse(_read(spark, args.content), cfg)
    base = args.out.rstrip("/")
    for part in ("parse_text", "parse_data", "parse_meta", "crawl_parse", "outlinks"):
        _write(parsed[part], f"{base}_{part}")
    n = _read(spark, base + "_parse_text").count()
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
    _write(acc, args.out)
    print(f"mergelinkdb: {_read(spark, args.out).count()} targets")
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

    spark = _spark()
    out = score_updater(_read(spark, args.crawldb), _read(spark, args.scores))
    tmp = args.crawldb.rstrip("/") + ".tmp"
    _write(out, tmp)
    _install(tmp, args.crawldb)
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
    out = sitemap_merge(
        _read(spark, args.crawldb), entries, cfg, _now(args),
        overwrite=args.overwrite,
    )
    tmp = args.crawldb.rstrip("/") + ".tmp"
    _write(out, tmp)
    _install(tmp, args.crawldb)
    n_idx = index_refs.count()
    print(f"sitemap: crawldb now {_read(spark, args.crawldb).count()} urls"
          f" ({n_idx} child sitemaps not followed)")
    return 0


def cmd_snapshots(args) -> int:
    """Snapshot history of a catalog table (Iceberg `history`-style):
    one line per snapshot with stage/cycle lineage and metrics, plus —
    with -manifest — the per-file row/byte/url-range manifest the
    commit recorded from the parquet footers (per-partition lineage)."""
    from nutch_spark.catalog import SnapshotCatalog

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

    s = sub.add_parser("inject")
    s.add_argument("crawldb"); s.add_argument("seeds")
    s.set_defaults(fn=cmd_inject)

    s = sub.add_parser("generate")
    s.add_argument("crawldb"); s.add_argument("out")
    s.add_argument("--top-n", type=int, default=50_000)
    s.add_argument("--num-lists", type=int, default=1)
    s.add_argument("-expr", "--expr", default=None, dest="expr",
                   help="JEXL eligibility filter (generate.expr)")
    s.set_defaults(fn=cmd_generate)

    s = sub.add_parser("updatedb")
    s.add_argument("crawldb"); s.add_argument("segment")
    s.set_defaults(fn=cmd_updatedb)

    s = sub.add_parser("readdb")
    s.add_argument("crawldb")
    s.add_argument("-stats", action="store_true", dest="stats")
    s.add_argument("-topN", type=int, default=None, dest="topN")
    s.add_argument("-dump", default=None, dest="dump")
    s.add_argument("-url", default=None, dest="url")
    s.add_argument("--out", default=None)
    s.add_argument("--status", type=int, default=None)
    s.add_argument("--regex", default=None)
    s.add_argument("-expr", "--expr", default=None, dest="expr",
                   help="JEXL filter over the CrawlDatum context")
    s.set_defaults(fn=cmd_readdb)

    s = sub.add_parser("mergedb")
    s.add_argument("out"); s.add_argument("dbs", nargs="+")
    s.set_defaults(fn=cmd_mergedb)

    s = sub.add_parser("invertlinks")
    s.add_argument("linkdb"); s.add_argument("outlinks")
    s.set_defaults(fn=cmd_invertlinks)

    s = sub.add_parser("readlinkdb")
    s.add_argument("linkdb")
    s.add_argument("-dump", dest="dump")
    s.add_argument("-regex", dest="regex")
    s.add_argument("-url", dest="url")
    s.set_defaults(fn=cmd_readlinkdb)

    s = sub.add_parser("dedup")
    s.add_argument("crawldb")
    s.set_defaults(fn=cmd_dedup)

    s = sub.add_parser("hostdb")
    s.add_argument("crawldb"); s.add_argument("hostdb")
    s.set_defaults(fn=cmd_hostdb)

    s = sub.add_parser("parsechecker")
    s.add_argument("file"); s.add_argument("--url", default="http://example.com/")
    s.set_defaults(fn=cmd_parsechecker)

    s = sub.add_parser("indexchecker")
    s.add_argument("file"); s.add_argument("--url", default="http://example.com/")
    s.set_defaults(fn=cmd_indexchecker)

    s = sub.add_parser("readseg")
    s.add_argument("segments", nargs="+",
                   help="segment dir(s) or catalog table prefix(es)")
    s.add_argument("-list", action="store_true", dest="list")
    s.add_argument("-dump", default=None, dest="dump")
    s.add_argument("-get", default=None, dest="get")
    s.set_defaults(fn=cmd_readseg)

    s = sub.add_parser("freegen")
    s.add_argument("seeds"); s.add_argument("out")
    s.add_argument("--num-lists", type=int, default=None)
    s.set_defaults(fn=cmd_freegen)

    s = sub.add_parser("fetch")
    s.add_argument("fetchlist"); s.add_argument("out")
    s.add_argument("--robots", default=None)
    s.add_argument("--outcomes", default=None)
    s.add_argument("--dns", default=None)
    s.set_defaults(fn=cmd_fetch)

    s = sub.add_parser("parse")
    s.add_argument("content"); s.add_argument("out")
    s.set_defaults(fn=cmd_parse)

    s = sub.add_parser("mergesegs")
    s.add_argument("out"); s.add_argument("segments", nargs="+")
    s.add_argument("--slice", type=int, default=None)
    s.set_defaults(fn=cmd_mergesegs)

    s = sub.add_parser("mergelinkdb")
    s.add_argument("out"); s.add_argument("dbs", nargs="+")
    s.set_defaults(fn=cmd_mergelinkdb)

    s = sub.add_parser("index")
    s.add_argument("crawldb"); s.add_argument("parse_text"); s.add_argument("out")
    s.add_argument("--format", choices=["jsonl", "csv"], default="jsonl")
    s.set_defaults(fn=cmd_index)

    s = sub.add_parser("clean")
    s.add_argument("crawldb"); s.add_argument("out")
    s.set_defaults(fn=cmd_clean)

    s = sub.add_parser("dump")
    s.add_argument("parse_text"); s.add_argument("out")
    s.set_defaults(fn=cmd_dump)

    s = sub.add_parser("commoncrawldump")
    s.add_argument("pages"); s.add_argument("out")
    s.set_defaults(fn=cmd_commoncrawldump)

    s = sub.add_parser("warc")
    s.add_argument("content"); s.add_argument("out")
    s.set_defaults(fn=cmd_warc)

    s = sub.add_parser("filedump")
    s.add_argument("content"); s.add_argument("out", nargs="?", default=None)
    s.add_argument("--mime-type", action="append", default=None)
    s.add_argument("--flat", action="store_true")
    s.add_argument("--mime-stats", action="store_true")
    s.add_argument("--reverse-url-dirs", action="store_true")
    s.set_defaults(fn=cmd_filedump)

    s = sub.add_parser("resolveurls")
    s.add_argument("urls")
    s.add_argument("--hosts", default=None)
    s.set_defaults(fn=cmd_resolveurls)

    s = sub.add_parser("linkdumper")
    s.add_argument("webgraph")
    s.add_argument("--scores", default=None)
    s.add_argument("--out", default=None)
    s.add_argument("--url", default=None)
    s.add_argument("--max-inlinks", type=int, default=50000)
    s.set_defaults(fn=cmd_linkdumper)

    s = sub.add_parser("arc")
    s.add_argument("arc_files"); s.add_argument("segments_out")
    s.add_argument("--segment-name", default=None)
    s.set_defaults(fn=cmd_arc)

    s = sub.add_parser("domainstats")
    s.add_argument("crawldb")
    s.add_argument("--mode", choices=["domain", "host", "suffix", "tld"],
                   default="domain")
    s.add_argument("--out", default=None)
    s.add_argument("--limit", type=int, default=50)
    s.set_defaults(fn=cmd_domainstats)

    s = sub.add_parser("protocolstats")
    s.add_argument("crawldb")
    s.set_defaults(fn=cmd_protocolstats)

    s = sub.add_parser("crawlcomplete")
    s.add_argument("crawldb")
    s.add_argument("--mode", choices=["host", "domain"], default="host")
    s.set_defaults(fn=cmd_crawlcomplete)

    s = sub.add_parser("webgraph")
    s.add_argument("outlinks"); s.add_argument("out")
    s.set_defaults(fn=cmd_webgraph)

    s = sub.add_parser("linkrank")
    s.add_argument("webgraph"); s.add_argument("out")
    s.add_argument("--iterations", type=int, default=10)
    s.set_defaults(fn=cmd_linkrank)

    s = sub.add_parser("scoreupdater")
    s.add_argument("crawldb"); s.add_argument("scores")
    s.set_defaults(fn=cmd_scoreupdater)

    s = sub.add_parser("nodedumper")
    s.add_argument("--group", choices=["in", "out", "scores"], default="in")
    s.add_argument("--webgraph", default=None)
    s.add_argument("--scores", default=None)
    s.add_argument("--topn", type=int, default=10)
    s.add_argument("--out", default=None)
    s.set_defaults(fn=cmd_nodedumper)

    s = sub.add_parser("updatehostdb")
    s.add_argument("crawldb"); s.add_argument("hostdb")
    s.set_defaults(fn=cmd_hostdb)

    s = sub.add_parser("readhostdb")
    s.add_argument("hostdb")
    s.add_argument("-dump", default=None, dest="dump")
    s.add_argument("-get", default=None, dest="get")
    s.add_argument("-expr", "--expr", default=None, dest="expr",
                   help="JEXL filter (hostdb.filter.expression)")
    s.set_defaults(fn=cmd_readhostdb)

    s = sub.add_parser("sitemap")
    s.add_argument("crawldb"); s.add_argument("sitemaps")
    s.add_argument("--overwrite", action="store_true")
    s.set_defaults(fn=cmd_sitemap)

    s = sub.add_parser("snapshots")
    s.add_argument("warehouse")
    s.add_argument("table")
    s.add_argument("-manifest", action="store_true")
    s.set_defaults(fn=cmd_snapshots)

    s = sub.add_parser("showproperties")
    s.set_defaults(fn=cmd_showproperties)

    s = sub.add_parser("normalizerchecker")
    s.add_argument("url")
    s.set_defaults(fn=cmd_normalizerchecker)

    s = sub.add_parser("filterchecker")
    s.add_argument("url")
    s.set_defaults(fn=cmd_filterchecker)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
