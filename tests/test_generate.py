"""Port of TestGenerator.java (topN-by-score :79-107, generate.max.count
byHost :140-196 / byDomain :205-264, filter :273-302) plus the fork's
unfetched-only rule and the politeness-partitioning invariants.

Quota cases are also checked against :func:`reducer_replay`, a plain
Python replay of the reference's SelectorReducer loop over the same
``select_eligible`` rows."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nutch_spark import schema as S
from nutch_spark.config import NutchConfig
from nutch_spark.operators.generate import generate, mark_generated, select_eligible
from nutch_spark.schema import crawldb_schema
from nutch_spark.urls.urlutil import get_domain, get_host, nutch_url_hash32

NOW = 1_700_000_000_000
HOSTDB_SCHEMA = "host string, max_count int, fetch_delay_ms long"


def datum(url, score=1.0, status=S.STATUS_DB_UNFETCHED, fetch_time=NOW - 10_000,
          interval=1, gen_time=None):
    return (url, status, fetch_time, 0, interval, score, None, 0, {}, gen_time, None)


def db(spark, rows):
    return spark.createDataFrame(rows, crawldb_schema())


def reducer_replay(rows, cfg, top_n, max_num_segments=1, host_caps=None):
    """Reference oracle: the single-reducer SelectorReducer loop
    (Generator.java:427-561) over eligible rows carrying ``url`` and
    ``sort``. ``host_caps`` maps a host (or domain) key to its hostdb
    maxCount, which overrides ``generate.max.count`` for that key
    (Generator.java:445-457). Returns ``{url: segnum}``."""
    by_domain = cfg.generate_count_mode == "domain" and cfg.generate_max_count != -1
    host_caps = host_caps or {}
    seg_counts = [0] * max_num_segments
    host_state = {}  # key -> [segment, rows counted in it]
    count, current_seg = 0, 1
    out = {}
    for r in sorted(rows, key=lambda r: (-r["sort"], r["url"])):
        if count == top_n:
            if current_seg < max_num_segments:
                count, current_seg = 0, current_seg + 1
            else:
                break
        hk = get_domain(r["url"]) if by_domain else get_host(r["url"])
        if hk is None:
            continue
        mc = host_caps.get(hk, cfg.generate_max_count)
        if mc > 0:
            hs = host_state.setdefault(hk, [1, 0])
            hs[1] += 1
            while seg_counts[hs[0] - 1] >= top_n and hs[0] < max_num_segments:
                hs[0] += 1
                hs[1] = 0
            if hs[1] > mc:
                if hs[0] < max_num_segments:
                    hs[0] += 1
                    hs[1] = 1
                else:
                    continue  # per-host overflow
            segnum = hs[0]
        else:
            segnum = current_seg
        seg_counts[segnum - 1] += 1
        out[r["url"]] = segnum
        count += 1
    return out


def hostdb_caps(hostdb):
    if hostdb is None:
        return {}
    return {r["host"].lower(): r["max_count"] for r in hostdb.collect()
            if r["max_count"] is not None}


def generate_checked(crawldb, cfg, cur_time=NOW, *, top_n=50000, max_num_segments=1,
                     hostdb=None, num_lists=1):
    """``generate()`` rows, after asserting their ``{url: segnum}``
    equals the reducer oracle run on the same eligible rows."""
    out = generate(crawldb, cfg, cur_time, top_n=top_n, max_num_segments=max_num_segments,
                   num_lists=num_lists, hostdb=hostdb).collect()
    eligible = select_eligible(crawldb, cfg, cur_time).collect()
    want = reducer_replay(eligible, cfg, top_n, max_num_segments, hostdb_caps(hostdb))
    assert {r["url"]: r["segnum"] for r in out} == want
    return out


def unlisted_hostdb(spark, on):
    """A hostdb naming no crawled host: its join routes the quota
    through the per-row cap windows without changing any cap."""
    if not on:
        return None
    return spark.createDataFrame([("unlisted.example.org", 1, None)], HOSTDB_SCHEMA)


MODES = [False, True]  # join unlisted_hostdb


@pytest.mark.parametrize("hostdb", MODES)
def test_generate_highest(spark, hostdb):
    rows = [datum(f"http://aaa/{i:03d}", score=float(i)) for i in range(101)]
    out = generate_checked(db(spark, rows), NutchConfig(), top_n=2,
                           hostdb=unlisted_hostdb(spark, hostdb))
    urls = sorted((r["url"] for r in out))
    assert len(out) == 2
    assert urls == ["http://aaa/099", "http://aaa/100"]


@pytest.mark.parametrize("hostdb", MODES)
@pytest.mark.parametrize("max_per_host", [1, 2, 3])
def test_generate_host_limit(spark, hostdb, max_per_host):
    rows = [
        datum("http://www.example.com/index1.html"),
        datum("http://www.example.com/index2.html"),
        datum("http://www.example.com/index3.html"),
    ]
    cfg = NutchConfig(generate_max_count=max_per_host)
    out = generate_checked(db(spark, rows), cfg, top_n=1_000_000,
                           hostdb=unlisted_hostdb(spark, hostdb))
    assert len(out) == min(max_per_host, 3)


@pytest.mark.parametrize("hostdb", MODES)
@pytest.mark.parametrize("max_per_domain", [1, 2, 3])
def test_generate_domain_limit(spark, hostdb, max_per_domain):
    rows = [
        datum("http://a.example.com/index.html"),
        datum("http://b.example.com/index.html"),
        datum("http://c.example.com/index.html"),
    ]
    cfg = NutchConfig(generate_max_count=max_per_domain, generate_count_mode="domain")
    out = generate_checked(db(spark, rows), cfg, top_n=1_000_000,
                           hostdb=unlisted_hostdb(spark, hostdb))
    assert len(out) == min(max_per_domain, 3)


def test_generate_filter_on_off(spark):
    rows = [
        datum("http://www.example.com/index.html"),
        datum("http://www.example.net/index.html"),
        datum("http://www.example.org/index.html"),
    ]
    cfg = NutchConfig()
    # filter-all
    out = generate(db(spark, rows), cfg, NOW, url_filter_rules=["-."], num_lists=1)
    assert out.count() == 0
    # no filter
    out = generate(db(spark, rows), cfg, NOW, num_lists=1)
    assert out.count() == 3


def test_fork_rule_only_unfetched(spark):
    """The fork drops every non-unfetched status (Generator.java:234-237)."""
    rows = [
        datum("http://u.example.com/", status=S.STATUS_DB_UNFETCHED),
        datum("http://f.example.com/", status=S.STATUS_DB_FETCHED),
        datum("http://n.example.com/", status=S.STATUS_DB_NOTMODIFIED),
        datum("http://g.example.com/", status=S.STATUS_DB_GONE),
    ]
    out = generate(db(spark, rows), NutchConfig(), NOW, num_lists=1).collect()
    assert [r["url"] for r in out] == ["http://u.example.com/"]


def test_should_fetch_and_gen_delay(spark):
    rows = [
        datum("http://due.example.com/"),
        datum("http://future.example.com/", fetch_time=NOW + 1_000_000),
        # _ngt_ set recently: re-blocked for crawl.gen.delay (7 d)
        datum("http://blocked.example.com/", gen_time=NOW - 1000),
        # _ngt_ set long ago: eligible again
        datum("http://expired.example.com/", gen_time=NOW - 8 * 86400 * 1000),
    ]
    out = generate(db(spark, rows), NutchConfig(), NOW, num_lists=1).collect()
    assert sorted(r["url"] for r in out) == [
        "http://due.example.com/",
        "http://expired.example.com/",
    ]


@pytest.mark.parametrize("hostdb", MODES)
def test_segment_spill(spark, hostdb):
    """maxCount overflow spills into the next segment up to maxNumSegments,
    then drops (Generator.java:509-552)."""
    rows = [datum(f"http://spill.example.com/{i}", score=float(10 - i)) for i in range(10)]
    cfg = NutchConfig(generate_max_count=2)
    out = generate_checked(db(spark, rows), cfg, top_n=1_000_000, max_num_segments=3,
                           hostdb=unlisted_hostdb(spark, hostdb))
    assert len(out) == 6  # 2 per segment x 3 segments, 4 dropped
    by_seg = {}
    for r in out:
        by_seg.setdefault(r["segnum"], []).append(r["url"])
    assert {k: len(v) for k, v in by_seg.items()} == {1: 2, 2: 2, 3: 2}
    # highest scores land in segment 1
    assert sorted(by_seg[1]) == ["http://spill.example.com/0", "http://spill.example.com/1"]


def test_politeness_partitioning_and_interleave(spark):
    """G3 invariants: a host never spans two fetch partitions, and rows
    within a partition are ordered by the HashComparator url-hash."""
    rows = [
        datum(f"http://host{h}.example.com/p{i}", score=float(i))
        for h in range(8)
        for i in range(5)
    ]
    out = generate(db(spark, rows), NutchConfig(), NOW, num_lists=4)
    pdf = out.select("url", "part_id", "url_hash", F.spark_partition_id().alias("pid")).toPandas()
    # host -> single partition
    pdf["host"] = pdf["url"].map(get_host)
    assert (pdf.groupby("host")["pid"].nunique() == 1).all()
    assert (pdf.groupby("host")["part_id"].nunique() == 1).all()
    # url_hash column matches the reference hash; ascending within partition
    for u, h in zip(pdf["url"], pdf["url_hash"]):
        assert h == nutch_url_hash32(u)
    for _, grp in pdf.groupby("pid"):
        hashes = list(grp["url_hash"])
        assert hashes == sorted(hashes)


def test_mark_generated_roundtrip(spark):
    rows = [datum("http://m1.example.com/"), datum("http://m2.example.com/")]
    crawldb = db(spark, rows)
    cfg = NutchConfig()
    fl = generate(crawldb, cfg, NOW, top_n=1, num_lists=1)
    marked = mark_generated(crawldb, fl).collect()
    gen_times = {r["url"]: r["gen_time"] for r in marked}
    assert sum(1 for v in gen_times.values() if v == NOW) == 1
    assert sum(1 for v in gen_times.values() if v is None) == 1
    # a second generate within the gen delay yields nothing new
    marked_df = db(spark, [tuple(r) for r in marked])
    fl2 = generate(marked_df, cfg, NOW + 1000, num_lists=1)
    assert fl2.count() == 1  # only the unmarked URL


def test_hostdb_variable_budgets(spark):
    """Hostdb-driven per-host maxCount override + _variableFetchDelay_
    stamping (Generator.java:431-475) and its politeness effect
    (FetchItemQueue.java:94-111)."""
    from pyspark.sql import functions as F

    from nutch_spark.config import NutchConfig
    from nutch_spark.operators.fetchsim import fetch
    from nutch_spark.operators.generate import generate

    cfg = NutchConfig(generate_max_count=3, fetch_partitions=2)
    rows = [
        (f"http://h{h}.example.com/doc/{i}", 1, 0, 0, 3600, 1.0 + i / 4.0,
         None, 0, {}, None, None)
        for h in (1, 2) for i in range(6)
    ]
    db = spark.createDataFrame(
        rows,
        "url string, status int, fetch_time long, retries int, fetch_interval int,"
        " score float, signature string, modified_time long,"
        " metadata map<string,string>, gen_time long, repr_url string",
    )
    hostdb = spark.createDataFrame(
        [("h1.example.com", 5, 100)],  # h1: cap 5 and a 100ms fetch delay
        "host string, max_count int, fetch_delay_ms long",
    )
    fl = generate(db, cfg, 1_000, top_n=100, num_lists=2, hostdb=hostdb)
    per_host = {r["h"]: r["count"] for r in
                fl.select(F.col("host_key").alias("h")).groupBy("h").count().collect()}
    assert per_host == {"h1.example.com": 5, "h2.example.com": 3}  # override vs default
    meta = {r["url"]: r["metadata"] for r in fl.collect()}
    h1 = [u for u in meta if "h1" in u]
    assert all(meta[u].get("_variableFetchDelay_") == "100" for u in h1)
    assert all("_variableFetchDelay_" not in meta[u] for u in meta if "h2" in u)

    # the delay flows into the politeness clock: h1 gaps 100ms, h2 gaps 5s
    robots = spark.createDataFrame(
        [], "host string, disallow array<string>, crawl_delay double,"
            " defer_visits boolean, forbid_all boolean")
    outcomes = fl.select(
        "url", F.lit("success").alias("outcome"),
        F.lit(None).cast("string").alias("redirect_to"),
        F.lit(0).cast("long").alias("latency_ms"))
    cf, _ = fetch(fl, robots, outcomes, cfg, 0)
    times = {}
    for r in cf.collect():
        times.setdefault(r["url"].split(".")[0], []).append(r["fetch_time"])
    gaps = {h: sorted(set(t2 - t1 for t1, t2 in zip(sorted(ts), sorted(ts)[1:])))
            for h, ts in times.items()}
    assert gaps["http://h1"] == [100]
    assert gaps["http://h2"] == [5000]


def test_hostdb_budgets_parity_mode(spark):
    """hostdb per-host maxCount overrides match the reducer oracle
    (Generator.java:445-457)."""
    cfg = NutchConfig(generate_max_count=3, fetch_partitions=2)
    rows = [
        (f"http://h{h}.example.com/doc/{i}", 1, 0, 0, 3600, 1.0 + i / 4.0,
         None, 0, {}, None, None)
        for h in (1, 2) for i in range(6)
    ]
    hostdb = spark.createDataFrame([("h1.example.com", 5, None)], HOSTDB_SCHEMA)
    fl = generate_checked(db(spark, rows), cfg, 1_000, top_n=100, num_lists=2,
                          hostdb=hostdb)
    per_host = {}
    for r in fl:
        per_host[r["host_key"]] = per_host.get(r["host_key"], 0) + 1
    assert per_host == {"h1.example.com": 5, "h2.example.com": 3}


def test_windowed_uncapped_hosts_spill_segments_like_parity(spark):
    """Hosts WITHOUT a hostdb cap (and config maxCount=-1) must spill
    across segments by rank exactly like the reference reducer loop —
    not be pinned to segment 1 where the per-segment budget silently
    drops everything past the limit (Generator.java:427-443)."""
    rows = [
        (f"http://h{h}.example.com/doc/{i}", 1, 0, 0, 3600, 1.0 + i / 4.0,
         None, 0, {}, None, None)
        for h in range(5) for i in range(5)
    ]  # 25 eligible rows, all from hosts absent in hostdb
    hostdb = spark.createDataFrame(
        [("h9.example.com", 2, None)],  # no crawldb row matches
        HOSTDB_SCHEMA,
    )
    cfg = NutchConfig(generate_max_count=-1, fetch_partitions=1)
    fl = generate_checked(db(spark, rows), cfg, 1_000, top_n=10, max_num_segments=3,
                          hostdb=hostdb)
    per_seg = {}
    for r in fl:
        per_seg[r["segnum"]] = per_seg.get(r["segnum"], 0) + 1
    assert per_seg == {1: 10, 2: 10, 3: 5}  # all 25 emitted, none dropped


def test_capped_multi_segment_divergence_from_reducer_loop(spark):
    """The documented limit of the windowed quota: with a per-host cap
    and several segments, the reducer loop spills a capped host into the
    next segment once the current one is full; the windowed path ranks
    it into segment ceil(rank/maxCount) and drops it there."""
    rows = [datum("http://h1.example.com/", score=3.0),
            datum("http://h2.example.com/", score=1.0)]
    cfg = NutchConfig(generate_max_count=2)
    out = generate(db(spark, rows), cfg, NOW, top_n=1, max_num_segments=2,
                   num_lists=1).collect()
    eligible = select_eligible(db(spark, rows), cfg, NOW).collect()
    assert reducer_replay(eligible, cfg, 1, 2) == {
        "http://h1.example.com/": 1, "http://h2.example.com/": 2}
    assert {r["url"]: r["segnum"] for r in out} == {"http://h1.example.com/": 1}


@settings(max_examples=30, deadline=None)
@given(
    picks=st.lists(st.tuples(st.integers(0, 4), st.integers(0, 12)),
                   min_size=1, max_size=30),
    max_count=st.sampled_from([-1, 1, 2, 3]),
    caps=st.none() | st.dictionaries(st.integers(0, 4), st.integers(1, 3), max_size=5),
    top_n=st.integers(1, 12),
    max_num_segments=st.integers(1, 3),
)
def test_windowed_quota_matches_reducer_oracle(spark, picks, max_count, caps, top_n,
                                               max_num_segments):
    """Random frontiers (<=30 rows, <=5 hosts, dyadic scores): the
    windowed quota equals the reducer loop whenever there is one segment
    or no row is capped; otherwise it still keeps every segment within
    topN and every host within its cap."""
    rows = [datum(f"http://h{h}.example.com/p{i}", score=q / 4.0)
            for i, (h, q) in enumerate(picks)]
    cfg = NutchConfig(generate_max_count=max_count)
    hostdb = None
    host_caps = {}
    if caps is not None:
        host_caps = {f"h{h}.example.com": c for h, c in caps.items()}
        hostdb = spark.createDataFrame(
            [(h, c, None) for h, c in host_caps.items()], HOSTDB_SCHEMA)
    out = generate(db(spark, rows), cfg, NOW, top_n=top_n,
                   max_num_segments=max_num_segments, num_lists=1,
                   hostdb=hostdb).collect()
    got = {r["url"]: r["segnum"] for r in out}
    eligible = [{"url": r[0], "sort": r[5]} for r in rows]
    cap_of = {get_host(r["url"]): host_caps.get(get_host(r["url"]), max_count)
              for r in eligible}
    if max_num_segments == 1 or all(c <= 0 for c in cap_of.values()):
        assert got == reducer_replay(eligible, cfg, top_n, max_num_segments, host_caps)
        return
    per_seg, per_host_seg = {}, {}
    for url, seg in got.items():
        assert 1 <= seg <= max_num_segments
        per_seg[seg] = per_seg.get(seg, 0) + 1
        key = (get_host(url), seg)
        per_host_seg[key] = per_host_seg.get(key, 0) + 1
    assert all(n <= top_n for n in per_seg.values())
    assert all(n <= cap_of[h] for (h, _), n in per_host_seg.items() if cap_of[h] > 0)
