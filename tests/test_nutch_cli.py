"""bin/nutch-style CLI dispatcher: a reference user's playbook —
inject, generate, fetch, parse, updatedb, readdb, mergedb, checkers —
runs end-to-end over a crawl directory's catalog tables and plain
parquet dirs (tools/nutch.py)."""

import os
import sys

import pytest

sys.path.insert(0, "tools")

import nutch as nutch_cli  # noqa: E402


def test_inject_generate_readdb_roundtrip(spark, tmp_path, capsys):
    seeds = tmp_path / "seeds.txt"
    seeds.write_text(
        "http://a.example.com/\n"
        "# a comment\n"
        "http://b.example.com/\tnutch.score=2.0\n"
    )
    db = str(tmp_path / "crawldb")
    assert nutch_cli.main(["inject", db, str(seeds)]) == 0
    assert "2 urls" in capsys.readouterr().out

    assert nutch_cli.main(["generate", db, "--top-n", "10"]) == 0
    assert f"2 urls in {tmp_path / 'segment_0001'}" in capsys.readouterr().out

    assert nutch_cli.main(["readdb", db, "-stats"]) == 0
    out = capsys.readouterr().out
    assert "db_unfetched" in out

    assert nutch_cli.main(["readdb", db, "-topN", "1"]) == 0
    # nutch.score=2.0 makes b the top-scored url
    assert "http://b.example.com/" in capsys.readouterr().out


def test_mergedb_and_checkers(spark, tmp_path, capsys):
    s1, s2 = tmp_path / "s1.txt", tmp_path / "s2.txt"
    s1.write_text("http://a.example.com/\n")
    s2.write_text("http://c.example.com/\n")
    d1, d2 = str(tmp_path / "c1" / "crawldb"), str(tmp_path / "c2" / "crawldb")
    nutch_cli.main(["inject", d1, str(s1)])
    nutch_cli.main(["inject", d2, str(s2)])
    capsys.readouterr()
    out_db = str(tmp_path / "merged" / "crawldb")
    assert nutch_cli.main(["mergedb", out_db, d1, d2]) == 0
    assert "2 urls" in capsys.readouterr().out
    assert nutch_cli._read(spark, out_db).count() == 2

    assert nutch_cli.main(
        ["normalizerchecker", "HTTP://WWW.Example.COM:80/a/../b.html"]
    ) == 0
    assert capsys.readouterr().out.strip() == "http://www.example.com/b.html"

    assert nutch_cli.main(["filterchecker", "https://ok.example.com/x"]) == 0
    assert capsys.readouterr().out.strip() == "+https://ok.example.com/x"
    assert nutch_cli.main(["filterchecker", "ftp://no.example.com/x"]) == 0
    assert capsys.readouterr().out.strip() == "-ftp://no.example.com/x"


def test_parsechecker_and_indexchecker(spark, tmp_path, capsys):
    page = tmp_path / "page.html"
    page.write_text(
        "<html><head><title>My <b>Page</b></title></head>"
        '<body><a href="/next.html">next</a>Hello world</body></html>'
    )
    assert nutch_cli.main(
        ["parsechecker", str(page), "--url", "http://h.example.com/a/page.html"]
    ) == 0
    out = capsys.readouterr().out
    assert "Title: My Page" in out
    assert "outlink: http://h.example.com/next.html" in out

    txt = tmp_path / "plain.txt"
    txt.write_text("Read http://link.example.org/x and more")
    assert nutch_cli.main(["parsechecker", str(txt)]) == 0
    assert "outlink: http://link.example.org/x" in capsys.readouterr().out

    assert nutch_cli.main(
        ["indexchecker", str(page), "--url", "http://h.example.com/a/page.html"]
    ) == 0
    out = capsys.readouterr().out
    assert "host :\th.example.com" in out
    assert "type :\ttext/html" in out
    assert "digest :" in out and "quality :" in out


def test_readlinkdb_dump_and_url(spark, tmp_path, capsys):
    outlinks = spark.createDataFrame(
        [
            ("http://a.example.com/", "http://t.example.com/1", "one"),
            ("http://b.example.com/", "http://t.example.com/1", "uno"),
            ("http://a.example.com/", "http://t.example.com/2", "two"),
        ],
        "url string, to_url string, anchor string",
    )
    ol = str(tmp_path / "outlinks")
    outlinks.write.parquet(ol)
    ldb = str(tmp_path / "linkdb")
    assert nutch_cli.main(["invertlinks", ldb, ol]) == 0
    capsys.readouterr()

    assert nutch_cli.main(["readlinkdb", ldb, "-url", "http://t.example.com/1"]) == 0
    out = capsys.readouterr().out
    assert "fromUrl: http://a.example.com/ anchor: one" in out
    assert "fromUrl: http://b.example.com/ anchor: uno" in out

    dump = str(tmp_path / "ldump")
    assert nutch_cli.main(["readlinkdb", ldb, "-dump", dump, "-regex", "/1$"]) == 0
    assert "dumped 1 targets" in capsys.readouterr().out

    assert nutch_cli.main(["readlinkdb", ldb, "-url", "http://nosuch.example.com/"]) == 0
    assert "no link information" in capsys.readouterr().out


def test_readseg_list_dump_get(spark, tmp_path, capsys):
    """SegmentReader parity (-list columns with '?' for missing parts;
    -dump writes url-sorted record groups; -get prints one URL)."""
    seg = str(tmp_path / "segment_0001")
    spark.createDataFrame(
        [
            ("http://a.example.com/", 33, 2_000, b"ab".hex()),
            ("http://b.example.com/", 33, 5_000, None),
        ],
        "url string, status int, fetch_time long, signature string",
    ).write.parquet(seg + "_crawl_fetch")
    spark.createDataFrame(
        [("http://a.example.com/", "hello text")], "url string, text string"
    ).write.parquet(seg + "_parse_text")
    spark.createDataFrame(
        [("http://a.example.com/", 67, 2_000)],
        "url string, status int, fetch_time long",
    ).write.parquet(seg + "_crawl_parse")

    assert nutch_cli.main(["readseg", "-list", seg]) == 0
    out = capsys.readouterr().out
    header, row = out.strip().splitlines()
    assert header.startswith("NAME\t\tGENERATED")
    # generated '?' (no crawl_generate), fetched 2, parsed 1, epoch times
    assert row.split("\t") == [
        "segment_0001", "?", "", "1970-01-01T00:00:02", "1970-01-01T00:00:05", "2", "1",
    ]

    assert nutch_cli.main(["readseg", seg, "-get", "http://a.example.com/"]) == 0
    out = capsys.readouterr().out
    assert "URL:: http://a.example.com/" in out
    assert "parse_text ParseText::\nhello text" in out
    assert '"status":33' in out and '"status":67' in out

    dump = str(tmp_path / "segdump")
    assert nutch_cli.main(["readseg", seg, "-dump", dump]) == 0
    assert "dumped 2 records" in capsys.readouterr().out
    text = spark.read.text(dump)
    urls = [r["value"][6:] for r in text.collect() if r["value"].startswith("URL:: ")]
    assert urls == sorted(urls) and len(urls) == 2

    assert nutch_cli.main(["readseg", seg]) == 2
    assert "one of -list/-dump/-get" in capsys.readouterr().err


def test_readseg_catalog_warehouse_and_multiseg(spark, tmp_path, capsys):
    """readseg must read SnapshotCatalog-committed segment tables (the
    crawl loop's warehouse layout: wh/<table>/snap-*/ + metadata.json),
    and -dump must cover EVERY listed segment, not just the first."""
    from nutch_spark.catalog import SnapshotCatalog

    wh = str(tmp_path / "wh")
    cat = SnapshotCatalog(wh)
    cat.commit(
        spark.createDataFrame(
            [("http://a.example.com/", 33, 2_000)],
            "url string, status int, fetch_time long",
        ),
        "segment_0001_crawl_fetch", now_ms=1,
    )
    cat.commit(
        spark.createDataFrame(
            [("http://b.example.com/", 33, 9_000)],
            "url string, status int, fetch_time long",
        ),
        "segment_0002_crawl_fetch", now_ms=2,
    )

    seg1, seg2 = os.path.join(wh, "segment_0001"), os.path.join(wh, "segment_0002")
    assert nutch_cli.main(["readseg", "-list", seg1, seg2]) == 0
    rows = capsys.readouterr().out.strip().splitlines()[1:]
    assert rows[0].split("\t")[0] == "segment_0001"
    assert rows[1].split("\t")[0] == "segment_0002"
    assert rows[0].split("\t")[-2] == "1"  # fetched count from snapshot

    dump = str(tmp_path / "whdump")
    assert nutch_cli.main(["readseg", seg1, seg2, "-dump", dump]) == 0
    assert "dumped 2 records" in capsys.readouterr().out
    text = "\n".join(r["value"] for r in spark.read.text(dump).collect())
    assert "URL:: http://a.example.com/" in text
    assert "URL:: http://b.example.com/" in text

    # snapshot history + per-file manifest (Iceberg history-style)
    assert nutch_cli.main(
        ["snapshots", wh, "segment_0001_crawl_fetch", "-manifest"]
    ) == 0
    out = capsys.readouterr().out
    assert out.startswith("* 1\tparent=None")
    assert "rows=1" in out and "http://a.example.com/" in out
    assert nutch_cli.main(["snapshots", wh, "nosuch"]) == 2


def test_readseg_dumps_redirect_datums(spark, tmp_path, capsys):
    """The crawl loop commits redirect-target datums as the segment's
    crawl_redirect table; readseg shows them as CrawlDatum records, as
    the reference's dump shows them under crawl_fetch."""
    from nutch_spark.catalog import SnapshotCatalog

    wh = str(tmp_path / "wh")
    cat = SnapshotCatalog(wh)
    schema = "url string, status int, fetch_time long"
    cat.commit(spark.createDataFrame([("http://a.example.com/", 35, 2_000)], schema),
               "segment_0001_crawl_fetch", now_ms=1)
    cat.commit(spark.createDataFrame([("http://b.example.com/", 67, 2_000)], schema),
               "segment_0001_crawl_redirect", now_ms=1)
    seg = os.path.join(wh, "segment_0001")

    assert nutch_cli.main(["readseg", seg, "-get", "http://b.example.com/"]) == 0
    out = capsys.readouterr().out
    assert "crawl_redirect CrawlDatum::" in out and '"status":67' in out

    dump = str(tmp_path / "redump")
    assert nutch_cli.main(["readseg", seg, "-dump", dump]) == 0
    assert "dumped 2 records" in capsys.readouterr().out
    text = "\n".join(r["value"] for r in spark.read.text(dump).collect())
    assert "URL:: http://b.example.com/\ncrawl_redirect CrawlDatum::" in text


def _stage_crawldb(spark, path, rows):
    """rows: (url, status, score) triples -> a full-datum-schema CrawlDb
    committed as table ``crawldb`` of the warehouse ``path``'s parent."""
    from nutch_spark.catalog import SnapshotCatalog

    df = spark.createDataFrame(
        [
            (u, s, 1_000, 0, 2592000, sc, f"sig_{u}", 0, {}, 900, None)
            for (u, s, sc) in rows
        ],
        "url string, status int, fetch_time long, retries int,"
        " fetch_interval int, score float, signature string,"
        " modified_time long, metadata map<string,string>, gen_time long,"
        " repr_url string",
    )
    SnapshotCatalog(os.path.dirname(path)).commit(df, "crawldb")
    return df


def test_freegen_fetch_parse_pipeline(spark, web, tmp_path, capsys):
    """The reference playbook freegen -> fetch -> parse over the CLI: a
    fetchlist built straight from seeds as the segment's crawl_generate,
    fetched with the default all-success outcomes, its pages parsed from
    the docs corpus into the segment's parse tables."""
    from nutch_spark.catalog import SnapshotCatalog

    urls = [r["value"] for r in web["seeds"].orderBy("value").limit(2).collect()]
    seeds = tmp_path / "seeds.txt"
    seeds.write_text("".join(u + "\n" for u in urls))
    docs = str(tmp_path / "docs")
    web["docs"].write.parquet(docs)
    crawl = str(tmp_path / "crawl")
    assert nutch_cli.main(["freegen", str(seeds), crawl]) == 0
    assert "2 urls in " + os.path.join(crawl, "segment_0001") in capsys.readouterr().out

    seg = os.path.join(crawl, "segment_0001")
    assert nutch_cli.main(["fetch", seg]) == 0
    assert "2 urls fetched" in capsys.readouterr().out
    cat = SnapshotCatalog(crawl)
    cf = cat.read(spark, "segment_0001_crawl_fetch")
    assert cf.filter("status = 33").count() == 2  # fetch_success

    assert nutch_cli.main(["parse", seg, "--docs", docs]) == 0
    assert "2 documents parsed" in capsys.readouterr().out
    links = cat.read(spark, "segment_0001_crawl_parse").filter("status = 67")
    assert links.count() > 0  # linked: the outlinks the pages carry
    # updatedb needs a CrawlDb to merge into
    assert nutch_cli.main(["updatedb", os.path.join(crawl, "crawldb"), seg]) == 2
    assert "inject first" in capsys.readouterr().err


def test_index_clean_dump_exports(spark, tmp_path, capsys):
    db = str(tmp_path / "crawldb")
    _stage_crawldb(spark, db, [
        ("http://a.example.com/", 2, 1.0),   # db_fetched
        ("http://gone.example.com/", 3, 0.5),  # db_gone
        ("http://dup.example.com/", 7, 0.5),   # db_duplicate
    ])
    pt = str(tmp_path / "parse_text")
    spark.createDataFrame(
        [("http://a.example.com/", "Alpha page text")], "url string, text string"
    ).write.parquet(pt)

    idx = str(tmp_path / "index_out")
    assert nutch_cli.main(["index", db, pt, idx]) == 0
    assert "1 documents written (jsonl)" in capsys.readouterr().out

    deletes = str(tmp_path / "deletes")
    assert nutch_cli.main(["clean", db, deletes]) == 0
    assert "deleted a total of 2 documents" in capsys.readouterr().out
    vals = {r["value"] for r in spark.read.text(deletes).collect()}
    assert '{"url":"http://gone.example.com/","action":"delete"}' in vals

    files = str(tmp_path / "files")
    assert nutch_cli.main(["dump", pt, files]) == 0
    assert "1 files" in capsys.readouterr().out

    cc = str(tmp_path / "cc")
    pages = str(tmp_path / "pages")
    spark.createDataFrame(
        [("http://a.example.com/", 1_000, "Alpha page text")],
        "url string, fetch_time long, text string",
    ).write.parquet(pages)
    assert nutch_cli.main(["commoncrawldump", pages, cc]) == 0
    assert "1 records" in capsys.readouterr().out


def test_webgraph_linkrank_scoreupdater_nodedumper(spark, tmp_path, capsys):
    outlinks = str(tmp_path / "outlinks")
    spark.createDataFrame(
        [
            ("http://a.example.com/", "http://b.example.com/", "b", 0),
            ("http://b.example.com/", "http://a.example.com/", "a", 0),
            ("http://c.example.com/", "http://a.example.com/", "a2", 0),
        ],
        "url string, to_url string, anchor string, pos int",
    ).write.parquet(outlinks)
    graph = str(tmp_path / "graph")
    assert nutch_cli.main(["webgraph", outlinks, graph]) == 0
    assert "3 edges" in capsys.readouterr().out

    scores = str(tmp_path / "scores")
    assert nutch_cli.main(["linkrank", graph, scores, "--iterations", "2"]) == 0
    assert "3 nodes scored" in capsys.readouterr().out

    assert nutch_cli.main(
        ["nodedumper", "--group", "in", "--webgraph", graph, "--topn", "1"]
    ) == 0
    # a has 2 inlinks -> the top row
    assert capsys.readouterr().out.splitlines()[0] == "http://a.example.com/\t2"
    assert nutch_cli.main(["nodedumper", "--group", "scores"]) == 2
    capsys.readouterr()

    db = str(tmp_path / "crawldb")
    _stage_crawldb(spark, db, [("http://a.example.com/", 2, 1.0)])
    assert nutch_cli.main(["scoreupdater", db, scores]) == 0
    row = nutch_cli._read(spark, db).first()
    lr = spark.read.parquet(scores).where(
        "url = 'http://a.example.com/'").first()["score"]
    assert abs(row["score"] - lr) < 1e-6


def test_stats_hostdb_sitemap_properties(spark, tmp_path, capsys):
    db = str(tmp_path / "crawldb")
    _stage_crawldb(spark, db, [
        ("http://a.example.com/", 2, 1.0),
        ("http://a.example.com/2", 1, 0.5),
        ("http://b.other.org/", 3, 0.5),
    ])
    assert nutch_cli.main(["domainstats", db, "--mode", "host"]) == 0
    out = capsys.readouterr().out
    assert "a.example.com\t2" in out
    # suffix/tld modes (DomainStatistics MODE_SUFFIX/MODE_TLD): both
    # hosts share the public suffixes com/org — NOT per-domain rows
    assert nutch_cli.main(["domainstats", db, "--mode", "suffix"]) == 0
    out = capsys.readouterr().out
    assert "com\t2" in out and "org\t1" in out and "example.com" not in out
    assert nutch_cli.main(["domainstats", db, "--mode", "tld"]) == 0
    out = capsys.readouterr().out
    assert "com\t2" in out and "org\t1" in out
    assert nutch_cli.main(["protocolstats", db]) == 0
    capsys.readouterr()
    assert nutch_cli.main(["crawlcomplete", db]) == 0
    capsys.readouterr()

    hdb = str(tmp_path / "hostdb")
    assert nutch_cli.main(["updatehostdb", db, hdb]) == 0
    assert "2 hosts" in capsys.readouterr().out
    assert nutch_cli.main(["readhostdb", hdb, "-get", "a.example.com"]) == 0
    assert "a.example.com" in capsys.readouterr().out

    sm = str(tmp_path / "sitemaps")
    spark.createDataFrame(
        [("http://a.example.com/sitemap.xml",
          "<urlset><url><loc>http://a.example.com/new</loc>"
          "<priority>0.75</priority></url></urlset>")],
        "sitemap_url string, content string",
    ).write.parquet(sm)
    assert nutch_cli.main(["sitemap", db, sm]) == 0
    assert "4 urls" in capsys.readouterr().out

    assert nutch_cli.main(["showproperties"]) == 0
    props = capsys.readouterr().out
    assert "fetcher_server_delay=" in props


def test_mergesegs_and_mergelinkdb(spark, tmp_path, capsys):
    s1, s2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    for p, t in ((s1, 1_000), (s2, 2_000)):
        spark.createDataFrame(
            [("http://a.example.com/", 33, t, 0, 2592000, 1.0, None, 0,
              {}, 900, None)],
            "url string, status int, fetch_time long, retries int,"
            " fetch_interval int, score float, signature string,"
            " modified_time long, metadata map<string,string>,"
            " gen_time long, repr_url string",
        ).write.parquet(p)
    merged = str(tmp_path / "merged")
    assert nutch_cli.main(["mergesegs", merged, s1, s2]) == 0
    assert "1 rows" in capsys.readouterr().out
    assert spark.read.parquet(merged).first()["fetch_time"] == 2_000

    l1, l2 = str(tmp_path / "l1"), str(tmp_path / "l2")
    for p, frm in ((l1, "x"), (l2, "y")):
        spark.createDataFrame(
            [("http://t.example.com/", [(f"http://{frm}.example.com/", frm)])],
            "url string, inlinks array<struct<from_url:string,anchor:string>>",
        ).write.parquet(p)
    ml = str(tmp_path / "linkdb")
    assert nutch_cli.main(["mergelinkdb", ml, l1, l2]) == 0
    assert "1 targets" in capsys.readouterr().out
    assert len(nutch_cli._read(spark, ml).first()["inlinks"]) == 2


def test_arc_segment_creator_cli(spark, tmp_path, capsys):
    # ArcSegmentCreator: ARC archives -> segment dirs (crawl_fetch + content)
    from test_arc import _arc_file

    arc_dir = tmp_path / "arcs"
    arc_dir.mkdir()
    (arc_dir / "t.arc.gz").write_bytes(_arc_file())
    segs = str(tmp_path / "segments")
    assert nutch_cli.main(
        ["arc", str(arc_dir), segs, "--segment-name", "20260101000000"]
    ) == 0
    assert "2 records" in capsys.readouterr().out
    seg = os.path.join(segs, "20260101000000")
    fetched = spark.read.parquet(os.path.join(seg, "crawl_fetch"))
    assert fetched.count() == 2
    content = spark.read.parquet(os.path.join(seg, "content"))
    assert {r["url"] for r in content.collect()} == {
        "http://a.example.com/1", "http://b.example.com/2"
    }


def test_linkdumper_cli(spark, tmp_path, capsys):
    outlinks = str(tmp_path / "ol")
    spark.createDataFrame(
        [("http://a.example.com/", "http://t.example.com/"),
         ("http://b.example.com/", "http://t.example.com/")],
        "url string, to_url string",
    ).write.parquet(outlinks)
    graph = str(tmp_path / "graph")
    assert nutch_cli.main(["webgraph", outlinks, graph]) == 0
    capsys.readouterr()
    dumpdir = str(tmp_path / "linkdump")
    assert nutch_cli.main(
        ["linkdumper", graph, "--out", dumpdir, "--url", "http://t.example.com/"]
    ) == 0
    out = capsys.readouterr().out
    assert "http://t.example.com/:" in out
    assert "  http://a.example.com/ - num inlinks: 0, num outlinks: 1," in out
    assert spark.read.parquet(dumpdir).count() == 1


def test_filedump_and_resolveurls_cli(spark, tmp_path, capsys):
    content = str(tmp_path / "content")
    spark.createDataFrame(
        [("http://a.example.com/p.html", b"<html>x</html>", "text/html")],
        "url string, content binary, mime string",
    ).write.parquet(content)
    out = str(tmp_path / "files")
    assert nutch_cli.main(["filedump", content, out]) == 0
    assert "wrote 1 files" in capsys.readouterr().out
    assert nutch_cli.main(["filedump", content, "--mime-stats"]) == 0
    assert "text/html\t1" in capsys.readouterr().out

    urls = tmp_path / "urls.txt"
    urls.write_text("http://a.example.com/x\nhttp://dead.example.com/\n")
    hosts = str(tmp_path / "hosts")
    spark.createDataFrame([("a.example.com", "10.0.0.1")],
                          "host string, ip string").write.parquet(hosts)
    assert nutch_cli.main(["resolveurls", str(urls), "--hosts", hosts]) == 0
    assert "total: 2, resolved: 1, errored: 1" in capsys.readouterr().out


START = 1_700_000_000_000
HOUR = 3_600_000


def _stage_web(spark, web, tmp_path):
    """The web's seeds (ten per host, so some fetches redirect) as a
    seed file, and its docs/robots/outcomes as parquet tables."""
    from nutch_spark.data.frontier import synth_seeds

    seeds = tmp_path / "seeds.txt"
    lines = [r["value"] for r in synth_seeds(web["docs"], per_host=10).collect()]
    seeds.write_text("".join(u + "\n" for u in lines))
    paths = {"seeds": str(seeds)}
    for name in ("docs", "robots", "outcomes"):
        paths[name] = str(tmp_path / name)
        web[name].write.parquet(paths[name])
    return paths


def _cli_cycle(crawl, web_paths, top_n):
    """inject -> generate -> fetch -> parse -> updatedb over ``crawl``."""
    db, seg = os.path.join(crawl, "crawldb"), os.path.join(crawl, "segment_0001")
    now = ["--now-ms", str(START + HOUR)]
    steps = [
        ["--now-ms", str(START), "inject", db, web_paths["seeds"]],
        now + ["generate", db, "--top-n", str(top_n)],
        now + ["fetch", seg, "--robots", web_paths["robots"],
               "--outcomes", web_paths["outcomes"]],
        now + ["parse", seg, "--docs", web_paths["docs"]],
        now + ["updatedb", db, seg],
    ]
    for argv in steps:
        assert nutch_cli.main(argv) == 0, argv


def test_cli_steps_commit_what_run_cycle_commits(spark, web, tmp_path, capsys):
    """The five CLI step commands on one warehouse and Crawler.inject +
    run_cycle on another, over the same inputs, NutchConfig() and clock,
    commit equal CrawlDbs and six equal segment tables, and the CLI's
    CrawlDb lineage names the six segment snapshots."""
    from test_crawl_loop import SEGMENT_PRODUCTS, _value_hash

    from nutch_spark.catalog import SnapshotCatalog
    from nutch_spark.config import NutchConfig
    from nutch_spark.pipeline.crawl_loop import Crawler

    web_paths = _stage_web(spark, web, tmp_path)
    crawl = str(tmp_path / "crawl")
    _cli_cycle(crawl, web_paths, top_n=100)
    capsys.readouterr()

    ref = SnapshotCatalog(str(tmp_path / "ref"))
    crawler = Crawler(spark, ref, NutchConfig(), web["docs"], web["robots"], web["outcomes"])
    crawler.inject(web_paths["seeds"], START)
    res = crawler.run_cycle(1, START + HOUR, top_n=100)
    assert res.fetched > 0

    cli = SnapshotCatalog(crawl)
    tables = ["crawldb", *(f"segment_0001_{t}" for t in SEGMENT_PRODUCTS)]
    for t in tables:
        assert _value_hash(cli.read(spark, t)) == _value_hash(ref.read(spark, t)), t
    assert cli.read(spark, "segment_0001_crawl_redirect").count() > 0
    lineage = cli.snapshot("crawldb").lineage
    assert lineage["segment_snapshots"] == {
        t: cli.current_snapshot_id(t) for t in tables[1:]
    }
    assert lineage["crawldb_parent_snapshot"] == cli.snapshot("segment_0001_crawl_generate").lineage[
        "crawldb_parent_snapshot"
    ]
    # the fetcher counters: the same in both CrawlDb snapshots' metrics
    cli_m, ref_m = cli.snapshot("crawldb").metrics, ref.snapshot("crawldb").metrics
    assert cli_m == ref_m and cli_m["fetched"] == res.fetched
    # the next generate numbers its segment after the updated cycle
    assert nutch_cli.main(["generate", os.path.join(crawl, "crawldb")]) == 0
    assert "segment_0002" in capsys.readouterr().out


def test_updatedb_refuses_a_crawldb_that_moved(spark, tmp_path, capsys):
    """updatedb merges into the CrawlDb snapshot its segment was
    generated from; a CrawlDb committed in between fails the commit."""
    from nutch_spark.catalog import ConcurrentCommitError

    seeds = tmp_path / "seeds.txt"
    seeds.write_text("http://a.example.com/\nhttp://b.example.com/\n")
    db, seg = str(tmp_path / "crawldb"), str(tmp_path / "segment_0001")
    for argv in (["inject", db, str(seeds)], ["generate", db], ["fetch", seg]):
        assert nutch_cli.main(argv) == 0
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [("http://a.example.com/", [("text", "a page", None, 0)], True)],
        "doc_id string,"
        " spans array<struct<kind:string,text:string,media_ref:string,offset:int>>,"
        " is_canonical boolean",
    ).write.parquet(docs)
    assert nutch_cli.main(["parse", seg, "--docs", docs]) == 0
    assert nutch_cli.main(["dedup", db]) == 0
    with pytest.raises(ConcurrentCommitError):
        nutch_cli.main(["updatedb", db, seg])


def test_crawldb_writers_keep_the_snapshot_history(spark, tmp_path, capsys):
    """dedup and scoreupdater commit a new CrawlDb snapshot: every
    earlier one stays, and the table stays a catalog table."""
    from nutch_spark.catalog import SnapshotCatalog

    seeds = tmp_path / "seeds.txt"
    seeds.write_text("http://a.example.com/\nhttp://b.example.com/\n")
    db = str(tmp_path / "crawl" / "crawldb")
    assert nutch_cli.main(["inject", db, str(seeds)]) == 0
    assert nutch_cli.main(["inject", db, str(seeds)]) == 0
    scores = str(tmp_path / "scores")
    spark.createDataFrame(
        [("http://a.example.com/", 0.5)], "url string, score float"
    ).write.parquet(scores)
    cat = SnapshotCatalog(str(tmp_path / "crawl"))
    before = [s.snapshot_id for s in cat.snapshots("crawldb")]
    assert nutch_cli.main(["dedup", db]) == 0
    assert nutch_cli.main(["scoreupdater", db, scores]) == 0
    snaps = cat.snapshots("crawldb")
    assert [s.snapshot_id for s in snaps][:2] == before and len(snaps) == 4
    assert [s.lineage["stage"] for s in snaps[2:]] == ["dedup", "scoreupdater"]
    assert cat.exists("crawldb")
    for s in snaps:
        assert cat.read(spark, "crawldb", s.snapshot_id).count() == 2
    scored = cat.read(spark, "crawldb").filter("url = 'http://a.example.com/'")
    assert scored.first()["score"] == 0.5


def test_writers_refuse_a_plain_parquet_table(spark, tmp_path, capsys):
    """A CrawlDb or LinkDb writer whose target is plain parquet exits 2
    and leaves the directory as it was."""
    db = str(tmp_path / "crawldb")
    spark.createDataFrame([("http://a.example.com/",)], "url string").write.parquet(db)
    files = sorted(os.listdir(db))
    seeds = tmp_path / "seeds.txt"
    seeds.write_text("http://a.example.com/\n")
    for argv in (["inject", db, str(seeds)], ["dedup", db], ["generate", db]):
        assert nutch_cli.main(argv) == 2, argv
        assert "plain parquet" in capsys.readouterr().err
    assert sorted(os.listdir(db)) == files
    ol = str(tmp_path / "outlinks")
    spark.createDataFrame(
        [("http://a.example.com/", "http://t.example.com/", "t")],
        "url string, to_url string, anchor string",
    ).write.parquet(ol)
    assert nutch_cli.main(["invertlinks", db, ol]) == 2
    # a CrawlDb is the crawldb table of its crawl dir
    assert nutch_cli.main(["inject", str(tmp_path / "db"), str(seeds)]) == 2
    assert "<crawl>/crawldb" in capsys.readouterr().err
