"""Fetch simulator: politeness clock, robots gating, status mapping,
backoff, redirects. The politeness minimum-elapsed-time assertion is the
analogue of TestFetcher.java:119 (fetcher.server.delay honored)."""

import pytest
from pyspark.sql import functions as F

from nutch_spark import schema as S
from nutch_spark.config import NutchConfig
from nutch_spark.operators.fetchsim import fetch
from nutch_spark.urls.urlutil import nutch_url_hash32

NOW = 1_700_000_000_000
CFG = NutchConfig()

FL_SCHEMA = (
    "url string, status int, fetch_time long, retries int, fetch_interval int,"
    " score float, signature string, modified_time long, metadata map<string,string>,"
    " gen_time long, repr_url string, url_hash int"
)


def fl_row(url, score=1.0):
    return (url, S.STATUS_DB_UNFETCHED, NOW - 10_000, 0, 2592000, score, None, 0,
            {}, NOW, None, nutch_url_hash32(url))


def fetchlist(spark, urls):
    return spark.createDataFrame([fl_row(u) for u in urls], FL_SCHEMA)


def robots_df(spark, rows=()):
    return spark.createDataFrame(
        list(rows),
        "host string, disallow array<string>, crawl_delay double,"
        " defer_visits boolean, forbid_all boolean",
    )


def outcomes_df(spark, rows):
    return spark.createDataFrame(
        rows, "url string, outcome string, redirect_to string, latency_ms long"
    )


def test_politeness_spacing_single_host(spark):
    urls = [f"http://polite.example.com/doc/{i}" for i in range(5)]
    fl = fetchlist(spark, urls)
    out = outcomes_df(spark, [(u, "success", None, 100) for u in urls])
    cf, _ = fetch(fl, robots_df(spark), out, CFG, NOW)
    rows = sorted(cf.collect(), key=lambda r: r["fetch_time"])
    assert all(r["status"] == S.STATUS_FETCH_SUCCESS for r in rows)
    times = [r["fetch_time"] for r in rows]
    # spacing = latency(100) + server delay(5000)
    assert [t - times[0] for t in times] == [i * 5100 for i in range(5)]
    # issue order is the url-hash interleave order
    order = [r["url"] for r in rows]
    assert order == sorted(urls, key=lambda u: (nutch_url_hash32(u), u))
    # min makespan proves the politeness delay was honored (TestFetcher:119)
    assert times[-1] - times[0] >= 4 * CFG.fetcher_server_delay * 1000


# Host spellings both fetch tests run over: an underscore in a label is
# no valid java.net.URI host, yet it is the host normalize keeps, so it
# must key the same queue and robots rules as its plain twin.
HOST_PREFIXES = ["", "my_"]


def test_hosts_run_in_parallel(spark):
    for pre in HOST_PREFIXES:
        urls = [f"http://{pre}h{i}.example.com/doc/0" for i in range(4)]
        fl = fetchlist(spark, urls)
        out = outcomes_df(spark, [(u, "success", None, 100) for u in urls])
        cf, _ = fetch(fl, robots_df(spark), out, CFG, NOW)
        # independent hosts all start at cycle start: wall clock is per-host
        assert {r["fetch_time"] for r in cf.collect()} == {NOW}, pre


def test_robots_disallow_and_crawl_delay(spark):
    for pre in HOST_PREFIXES:
        r, slow, p8 = (f"{pre}{h}.example.com" for h in ("r", "slow", "polite8"))
        urls = [
            f"http://{r}/private/doc/1",
            f"http://{r}/doc/2",
            f"http://{slow}/doc/3",
            f"http://{p8}/doc/4",
            f"http://{p8}/doc/5",
        ]
        fl = fetchlist(spark, urls)
        rb = robots_df(spark, [
            (r, ["/private/"], None, False, False),
            (slow, [], 40.0, False, False),   # > 30s cap -> gone
            (p8, [], 8.0, False, False),
        ])
        out = outcomes_df(spark, [(u, "success", None, 100) for u in urls])
        cf, _ = fetch(fl, rb, out, CFG, NOW)
        rows = {row["url"]: row for row in cf.collect()}
        assert rows[urls[0]]["status"] == S.STATUS_FETCH_GONE, pre
        assert rows[urls[1]]["status"] == S.STATUS_FETCH_SUCCESS, pre
        assert rows[urls[2]]["status"] == S.STATUS_FETCH_GONE, pre
        # robots Crawl-Delay 8s adopted instead of the 5s default
        t8 = sorted(rows[u]["fetch_time"] for u in urls[3:])
        assert t8[1] - t8[0] == 100 + 8000, pre
        # robots-denied items consume no politeness budget
        assert rows[urls[1]]["fetch_time"] == NOW, pre
        # the robots join key is the row's host
        assert {row["host"] for row in rows.values()} == {r, slow, p8}, pre


def test_robots_table_without_allow_column_reads_as_empty_allow(spark):
    """A robots table with no ``allow`` column gates exactly like the
    same table with empty Allow lists: longest match with no Allow
    rules denies iff some Disallow prefix matches (``""`` matches
    every path; a NULL list matches none)."""
    rules = {
        "p.example.com": ["/private/"],
        "all.example.com": [""],
        "none.example.com": None,
        "empty.example.com": [],
    }
    urls = [f"http://{h}{path}" for h in [*rules, "absent.example.com"]
            for path in ("/private/x", "/x")]
    fl = fetchlist(spark, urls)
    out = outcomes_df(spark, [(u, "success", None, 100) for u in urls])
    rb = robots_df(spark, [(h, d, None, False, False) for h, d in rules.items()])

    def statuses(robots):
        cf, _ = fetch(fl, robots, out, CFG, NOW)
        return {r["url"]: r["status"] for r in cf.collect()}

    without = statuses(rb)
    assert without == statuses(rb.withColumn("allow", F.array().cast("array<string>")))
    gone = {u for u, st in without.items() if st == S.STATUS_FETCH_GONE}
    assert gone == {
        "http://p.example.com/private/x",
        "http://all.example.com/private/x",
        "http://all.example.com/x",
    }


def test_outcome_status_mapping(spark):
    cases = {
        "success": S.STATUS_FETCH_SUCCESS,
        "notmodified": S.STATUS_FETCH_NOTMODIFIED,
        "moved": S.STATUS_FETCH_REDIR_PERM,
        "temp_moved": S.STATUS_FETCH_REDIR_TEMP,
        "gone": S.STATUS_FETCH_GONE,
        "notfound": S.STATUS_FETCH_GONE,
        "retry": S.STATUS_FETCH_RETRY,
        "exception": S.STATUS_FETCH_RETRY,
    }
    urls = [f"http://m{i}.example.com/doc/0" for i in range(len(cases))]
    fl = fetchlist(spark, urls)
    out = outcomes_df(
        spark,
        [(u, oc, "http://m0.example.com/doc/9" if "moved" in oc else None, 10)
         for u, oc in zip(urls, cases)],
    )
    cf, _ = fetch(fl, robots_df(spark), out, CFG, NOW)
    got = {r["url"]: r["status"] for r in cf.collect()}
    for u, oc in zip(urls, cases):
        assert got[u] == cases[oc], oc
    # unknown URL (no outcome row) behaves as notfound -> gone
    fl2 = fetchlist(spark, ["http://unknown.example.com/doc/0"])
    cf2, _ = fetch(fl2, robots_df(spark), outcomes_df(spark, []), CFG, NOW)
    assert cf2.collect()[0]["status"] == S.STATUS_FETCH_GONE


def test_exception_backoff(spark):
    urls = [f"http://b.example.com/doc/{i}" for i in range(3)]
    order = sorted(urls, key=lambda u: (nutch_url_hash32(u), u))
    fl = fetchlist(spark, urls)
    # first (in hash order) item raises an exception
    out = outcomes_df(
        spark,
        [(u, "exception" if u == order[0] else "success", None, 100) for u in urls],
    )
    cf, _ = fetch(fl, robots_df(spark), out, CFG, NOW)
    rows = {r["url"]: r for r in cf.collect()}
    # second item delayed by cost(5100) + backoff base 10s * (2^1 - 1)
    assert rows[order[1]]["fetch_time"] == NOW + 5100 + 10_000


def test_exception_backoff_capped(spark):
    """The per-exception backoff doubles but is capped at base*2^32 from
    the 34th exception on (FetchItemQueues.java:295-301: exceptionDelay
    *= 2L << Math.min(excCount-2, 31)) — uncapped pow(2, n) would
    overflow the long fetch_time on a long-lived bad queue."""
    urls = [f"http://exc.example.com/doc/{i}" for i in range(37)]
    order = sorted(urls, key=lambda u: (nutch_url_hash32(u), u))
    fl = fetchlist(spark, urls)
    out = outcomes_df(spark, [(u, "exception", None, 100) for u in urls])
    cf, _ = fetch(fl, robots_df(spark), out, CFG, NOW)
    rows = {r["url"]: r for r in cf.collect()}
    base, cost = 10_000, 5_100
    # 36 prior exceptions: 33 doubling terms (2^33 - 1) + 3 capped 2^32
    cum36 = (2**33 - 1) + 3 * 2**32
    assert rows[order[36]]["fetch_time"] == NOW + 36 * cost + base * cum36


def test_redirect_links_and_repr(spark):
    fl = fetchlist(spark, ["http://rd.example.com/doc/1"])
    out = outcomes_df(
        spark, [("http://rd.example.com/doc/1", "moved", "http://rd.example.com/doc/2", 10)]
    )
    cf, links = fetch(fl, robots_df(spark), out, CFG, NOW)
    assert cf.collect()[0]["status"] == S.STATUS_FETCH_REDIR_PERM
    lrow = links.collect()[0]
    assert lrow["url"] == "http://rd.example.com/doc/2"
    assert lrow["status"] == S.STATUS_LINKED
    # permanent redirect, source not root -> repr is destination
    assert lrow["repr_url"] == "http://rd.example.com/doc/2"


def test_time_limit_drains_remaining(spark):
    cfg = CFG.with_(fetcher_timelimit_mins=1)  # 60s budget
    urls = [f"http://tl.example.com/doc/{i}" for i in range(30)]
    fl = fetchlist(spark, urls)
    out = outcomes_df(spark, [(u, "success", None, 1000) for u in urls])
    cf, _ = fetch(fl, robots_df(spark), out, cfg, NOW)
    # each item costs 6s; only ~11 fit into the 60s budget
    assert cf.count() == 11


def test_throughput_killer_drains(spark):
    """F10 (Fetcher.java:311-338): pages/sec below threshold for
    `retries` consecutive seconds -> queues emptied, later items dropped
    with no segment output."""
    cfg = CFG.with_(
        fetcher_throughput_threshold_pages=1,
        fetcher_throughput_threshold_retries=3,
        fetcher_throughput_check_after_mins=0,
    )
    urls = [f"http://slow.example.com/doc/{i}" for i in range(10)]
    fl = fetchlist(spark, urls)
    out = outcomes_df(spark, [(u, "success", None, 900) for u in urls])
    cf, _ = fetch(fl, robots_df(spark), out, cfg, NOW)
    # item cost = 900 + 5000 ms: first completes in sec 0 (good), secs
    # 1..3 are empty (bad run of 3) -> kill at wall +4000 ms; only the
    # first item (started at +0) survives
    rows = cf.collect()
    assert len(rows) == 1
    assert rows[0]["status"] == S.STATUS_FETCH_SUCCESS
    # disabled by default: same input fetches everything
    cf_all, _ = fetch(fl, robots_df(spark), out, CFG, NOW)
    assert cf_all.count() == 10


def test_throughput_killer_spares_fast_partitions(spark):
    """The killer is per fetcher task: a partition meeting the threshold
    is untouched while the slow one drains."""
    cfg = CFG.with_(
        fetcher_throughput_threshold_pages=1,
        fetcher_throughput_threshold_retries=2,
        fetcher_throughput_check_after_mins=0,
    )
    slow = [f"http://slow.example.com/doc/{i}" for i in range(4)]
    fast = [f"http://fast{i}.example.com/doc/0" for i in range(40)]
    fl = (
        fetchlist(spark, slow + fast)
        # explicit task assignment (generate's G3 partition id)
        .withColumn(
            "part_id", F.when(F.col("url").startswith("http://slow"), 0).otherwise(1)
        )
    )
    out = outcomes_df(
        spark,
        [(u, "success", None, 900) for u in slow]
        # 40 hosts in parallel, one page each second they're active
        + [(u, "success", None, 1000) for u in fast],
    )
    cf, _ = fetch(fl, robots_df(spark), out, cfg, NOW)
    got = [r["url"] for r in cf.collect()]
    assert all(u in got for u in fast)          # fast partition untouched
    assert len([u for u in got if u in slow]) == 1  # slow one drained


def test_variable_delay_vs_robots_delay(spark):
    """FetchItemQueue.java:103 + FetcherThread.java:369-376: the hostdb
    variable delay raises the queue minimum, robots Crawl-Delay is
    clamped to it -> effective delay is max(robots, variable)."""
    meta = {S.META_VARIABLE_FETCH_DELAY: "2000"}
    urls = [f"http://slowrobots.example.com/doc/{i}" for i in range(2)]
    rows = [
        (u, S.STATUS_DB_UNFETCHED, NOW - 10_000, 0, 2592000, 1.0, None, 0,
         meta, NOW, None, nutch_url_hash32(u))
        for u in urls
    ]
    fl = spark.createDataFrame(rows, FL_SCHEMA)
    out = outcomes_df(spark, [(u, "success", None, 100) for u in urls])
    robots = robots_df(
        spark, [("slowrobots.example.com", [], 8.0, False, False)]
    )
    cf, _ = fetch(fl, robots, out, CFG, NOW)
    times = sorted(r["fetch_time"] for r in cf.collect())
    assert times[1] - times[0] == 100 + 8000  # robots 8s wins over var 2s
    # and the variable delay wins when it is the larger one
    meta_big = {S.META_VARIABLE_FETCH_DELAY: "20000"}
    rows_big = [r[:8] + (meta_big,) + r[9:] for r in rows]
    fl2 = spark.createDataFrame(rows_big, FL_SCHEMA)
    cf2, _ = fetch(fl2, robots, out, CFG, NOW)
    t2 = sorted(r["fetch_time"] for r in cf2.collect())
    assert t2[1] - t2[0] == 100 + 20000


def dns_df(spark, rows):
    return spark.createDataFrame(rows, "host string, ip string")


def test_byip_queue_shares_politeness_clock(spark):
    """fetcher.queue.mode=byIP (FetchItem.java:97-104): hosts resolving
    to the same IP share ONE politeness queue (their fetches serialize);
    an unresolved host is skipped entirely, no host-name fallback."""
    cfg = CFG.with_(fetcher_queue_mode="byIP")
    urls = [
        "http://a.example.com/doc/1",
        "http://b.example.com/doc/1",   # same IP as a
        "http://c.example.com/doc/1",   # own IP
        "http://nx.example.com/doc/1",  # unresolved
    ]
    fl = fetchlist(spark, urls)
    out = outcomes_df(spark, [(u, "success", None, 100) for u in urls])
    dns = dns_df(spark, [
        ("a.example.com", "10.0.0.1"),
        ("b.example.com", "10.0.0.1"),
        ("c.example.com", "10.0.0.2"),
    ])
    cf, _ = fetch(fl, robots_df(spark), out, cfg, NOW, dns=dns)
    rows = {r["url"]: r["fetch_time"] for r in cf.collect()}
    assert "http://nx.example.com/doc/1" not in rows        # skipped
    a, b = rows["http://a.example.com/doc/1"], rows["http://b.example.com/doc/1"]
    assert abs(a - b) == 100 + 5000                         # serialized on one clock
    assert rows["http://c.example.com/doc/1"] == NOW        # parallel queue


def test_byip_partitioning(spark):
    """partition.url.mode=byIP (URLPartitioner.java:95-101): partition id
    from the resolved IP; unresolved keeps hashCode 0 (empty-string key)."""
    from nutch_spark.operators.generate import generate
    from nutch_spark.urls.urlutil import partition_index

    cfg = CFG.with_(partition_url_mode="byIP")
    urls = [
        "http://a.example.com/doc/1",
        "http://b.example.com/doc/1",   # same IP as a -> same partition
        "http://nx.example.com/doc/1",  # unresolved -> hashCode-0 partition
    ]
    db = (
        fetchlist(spark, urls)
        .drop("url_hash")
        .withColumn("gen_time", F.lit(None).cast("long"))  # not gen-delay blocked
    )
    dns = dns_df(spark, [
        ("a.example.com", "10.0.0.1"),
        ("b.example.com", "10.0.0.1"),
    ])
    fl = generate(db, cfg, NOW + 1, top_n=100, num_lists=7, dns=dns)
    parts = {r["url"]: r["part_id"] for r in fl.select("url", "part_id").collect()}
    assert parts["http://a.example.com/doc/1"] == parts["http://b.example.com/doc/1"]
    assert parts["http://a.example.com/doc/1"] == partition_index(
        "10.0.0.1", cfg.partition_url_seed, 7)
    assert parts["http://nx.example.com/doc/1"] == partition_index(
        "", cfg.partition_url_seed, 7)


def test_bydomain_queue_robots_stay_host_keyed(spark):
    """fetcher.queue.mode=byDomain (FetchItem.java:87-96): subdomain
    hosts of one domain share ONE politeness queue, but robots rules
    are still looked up by the REAL host (RobotRulesParser keys the
    cache by protocol+host, FetcherThread.java:349-366) — a disallow
    for www.example.com must gate even though the queue id is
    example.com."""
    cfg = CFG.with_(fetcher_queue_mode="byDomain")
    urls = [
        "http://a.example.com/doc/1",
        "http://b.example.com/doc/1",    # same domain as a -> same queue
        "http://www.example.com/private/x",  # robots-denied on its host
        "http://other.example.org/doc/1",    # different domain -> own queue
    ]
    fl = fetchlist(spark, urls)
    out = outcomes_df(spark, [(u, "success", None, 100) for u in urls])
    robots = robots_df(
        spark, [("www.example.com", ["/private"], None, False, False)]
    )
    cf, _ = fetch(fl, robots, out, cfg, NOW)
    rows = {r["url"]: r for r in cf.collect()}
    # host-keyed robots gate fired despite the domain-level queue id
    assert rows["http://www.example.com/private/x"]["status"] == S.STATUS_FETCH_GONE
    # the two fetched example.com subdomains serialized on one clock
    a = rows["http://a.example.com/doc/1"]["fetch_time"]
    b = rows["http://b.example.com/doc/1"]["fetch_time"]
    assert abs(a - b) == 100 + 5000
    # the other domain runs on its own (parallel) clock
    assert rows["http://other.example.org/doc/1"]["fetch_time"] == NOW
