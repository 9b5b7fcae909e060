"""Port of the reference's exhaustive state-transition matrix
(TestCrawlDbStates.testCrawlDbStateTransitionMatrix, :101-199):

{absent + 8 db statuses} x {absent + 5 fetch statuses + fetch_retry}
x {0,1,2 inlinks} x {Default, Adaptive} schedules, with input rows
shuffled (CrawlDbUpdateTestDriver.java:73 shuffles — our aggregation
must be input-order independent).

All cases are batched into one updatedb() call per schedule (distinct
URL per case) — the state machine is per-URL, so this is equivalent
and keeps the test fast.
"""

import random

import pytest

from nutch_spark import schema as S
from nutch_spark.config import NutchConfig
from nutch_spark.operators.updatedb import updatedb
from nutch_spark.schema import crawldb_schema

NOW = 1_700_000_000_000  # injected clock
DEFAULT_INTERVAL = 2592000

DB_STATUSES = [
    None,
    S.STATUS_DB_UNFETCHED,
    S.STATUS_DB_FETCHED,
    S.STATUS_DB_GONE,
    S.STATUS_DB_REDIR_TEMP,
    S.STATUS_DB_REDIR_PERM,
    S.STATUS_DB_NOTMODIFIED,
    S.STATUS_DB_DUPLICATE,
    S.STATUS_DB_ORPHAN,
]

FETCH_TO_DB = {
    S.STATUS_FETCH_SUCCESS: S.STATUS_DB_FETCHED,
    S.STATUS_FETCH_GONE: S.STATUS_DB_GONE,
    S.STATUS_FETCH_REDIR_TEMP: S.STATUS_DB_REDIR_TEMP,
    S.STATUS_FETCH_REDIR_PERM: S.STATUS_DB_REDIR_PERM,
    S.STATUS_FETCH_NOTMODIFIED: S.STATUS_DB_NOTMODIFIED,
}
FETCH_STATUSES = [None] + list(FETCH_TO_DB) + [S.STATUS_FETCH_RETRY]

RETRY_MAX = 3


def datum(url, status, fetch_time=NOW - 10_000, retries=0, interval=DEFAULT_INTERVAL,
          score=1.0, signature=None, modified_time=0, metadata=None, gen_time=None,
          repr_url=None):
    return (url, status, fetch_time, retries, interval, score, signature,
            modified_time, metadata or {}, gen_time, repr_url)


def build_matrix_cases():
    """Yields (url, db_rows, seg_rows, expected_status)."""
    rng = random.Random(42)
    for db_status in DB_STATUSES:
        for fetch_status in FETCH_STATUSES:
            for n_links in (0, 1, 2):
                if fetch_status is None and n_links == 0:
                    continue  # nothing fetched: need at least one in-link
                url = f"http://u{db_status or 0:02x}-{fetch_status or 0:02x}-{n_links}.example.com/"
                db_rows, seg_rows = [], []
                if db_status is not None:
                    db_rows.append(datum(url, db_status, fetch_time=NOW - 100_000))
                if fetch_status is not None:
                    seg_rows.append(datum(url, fetch_status, fetch_time=NOW))
                for _ in range(n_links):
                    seg_rows.append(
                        datum(url, S.STATUS_LINKED, fetch_time=0, score=0.1,
                              interval=DEFAULT_INTERVAL)
                    )
                rng.shuffle(seg_rows)
                # expected status per the reference matrix (:134-150)
                if fetch_status is None:
                    expected = S.STATUS_DB_UNFETCHED if db_status is None else db_status
                elif fetch_status == S.STATUS_FETCH_RETRY:
                    expected = S.STATUS_DB_UNFETCHED  # retries (0) < retryMax
                else:
                    expected = FETCH_TO_DB[fetch_status]
                yield url, db_rows, seg_rows, expected


@pytest.mark.parametrize("schedule", ["default", "adaptive"])
def test_state_transition_matrix(spark, schedule):
    cfg = NutchConfig(db_fetch_schedule=schedule)
    cases = list(build_matrix_cases())
    db_rows = [r for _, dbr, _, _ in cases for r in dbr]
    seg_rows = [r for _, _, sgr, _ in cases for r in sgr]
    expected = {url: exp for url, _, _, exp in cases}

    sch = crawldb_schema()
    db_df = spark.createDataFrame(db_rows, sch) if db_rows else None
    seg_df = spark.createDataFrame(seg_rows, sch)
    result = {r["url"]: r for r in updatedb(db_df, seg_df, cfg, NOW).collect()}

    assert set(result) == set(expected), "one output row per URL"
    mismatches = {
        u: (S.STATUS_NAMES.get(result[u]["status"]), S.STATUS_NAMES.get(e))
        for u, e in expected.items()
        if result[u]["status"] != e
    }
    assert not mismatches, f"{len(mismatches)} wrong transitions: {mismatches}"


def test_retry_counter_exhaustion(spark):
    """fetch_retry with retries at the max flips to db_gone + gone schedule."""
    cfg = NutchConfig()
    sch = crawldb_schema()
    url = "http://retry.example.com/"
    db = spark.createDataFrame(
        [datum(url, S.STATUS_DB_UNFETCHED, retries=RETRY_MAX - 1)], sch
    )
    seg = spark.createDataFrame(
        [datum(url, S.STATUS_FETCH_RETRY, fetch_time=NOW, retries=RETRY_MAX - 1)], sch
    )
    row = updatedb(db, seg, cfg, NOW).collect()[0]
    assert row["status"] == S.STATUS_DB_GONE
    assert row["retries"] == RETRY_MAX
    # gone schedule: interval grew 1.5x and fetch_time advanced from NOW
    assert row["fetch_interval"] == round(DEFAULT_INTERVAL * 1.5)
    assert row["fetch_time"] == NOW + row["fetch_interval"] * 1000

    # below the max: stays unfetched, +1 day
    seg2 = spark.createDataFrame([datum(url, S.STATUS_FETCH_RETRY, fetch_time=NOW)], sch)
    row2 = updatedb(db, seg2, cfg, NOW).collect()[0]
    assert row2["status"] == S.STATUS_DB_UNFETCHED
    assert row2["retries"] == 1
    assert row2["fetch_time"] == NOW + 86400 * 1000


def test_notmodified_by_signature_vs_304(spark):
    """fetch_success with unchanged signature => db_notmodified with old
    signature + modifiedTime restored (NUTCH-1422 / NUTCH-1341, :226-253);
    changed signature => db_fetched with the new signature."""
    cfg = NutchConfig()
    sch = crawldb_schema()
    url = "http://sig.example.com/"
    old_mod = NOW - 500_000
    db = spark.createDataFrame(
        [datum(url, S.STATUS_DB_FETCHED, signature="aa11", modified_time=old_mod)], sch
    )
    # same signature -> notmodified
    seg_same = spark.createDataFrame(
        [datum(url, S.STATUS_FETCH_SUCCESS, fetch_time=NOW, signature="aa11")], sch
    )
    row = updatedb(db, seg_same, cfg, NOW).collect()[0]
    assert row["status"] == S.STATUS_DB_NOTMODIFIED
    assert row["signature"] == "aa11"
    assert row["modified_time"] == old_mod

    # different signature -> fetched, new signature
    seg_diff = spark.createDataFrame(
        [datum(url, S.STATUS_FETCH_SUCCESS, fetch_time=NOW, signature="bb22")], sch
    )
    row = updatedb(db, seg_diff, cfg, NOW).collect()[0]
    assert row["status"] == S.STATUS_DB_FETCHED
    assert row["signature"] == "bb22"

    # redirect with same signature is NOT detected as notmodified (NUTCH-1422)
    seg_redir = spark.createDataFrame(
        [datum(url, S.STATUS_FETCH_REDIR_TEMP, fetch_time=NOW, signature="aa11")], sch
    )
    row = updatedb(db, seg_redir, cfg, NOW).collect()[0]
    assert row["status"] == S.STATUS_DB_REDIR_TEMP


def test_opic_score_update_and_discovery(spark):
    """OPIC: newly discovered URL starts at 0.0 + sum(inlink scores);
    existing URL gets old score + sum (OPICScoringFilter.java:84-109)."""
    cfg = NutchConfig()
    sch = crawldb_schema()
    url = "http://new.example.com/"
    seg = spark.createDataFrame(
        [
            datum(url, S.STATUS_LINKED, fetch_time=0, score=0.25),
            datum(url, S.STATUS_LINKED, fetch_time=0, score=0.5),
        ],
        sch,
    )
    row = updatedb(None, seg, cfg, NOW).collect()[0]
    assert row["status"] == S.STATUS_DB_UNFETCHED
    assert row["score"] == pytest.approx(0.75)
    assert row["fetch_time"] == NOW  # initializeSchedule with injected clock
    assert row["fetch_interval"] == DEFAULT_INTERVAL
    assert row["signature"] is None

    # existing URL with new inlinks only: status unchanged, score += sum
    db = spark.createDataFrame(
        [datum(url, S.STATUS_DB_FETCHED, score=2.0, fetch_time=NOW - 100_000)], sch
    )
    row = updatedb(db, seg, cfg, NOW).collect()[0]
    assert row["status"] == S.STATUS_DB_FETCHED
    assert row["score"] == pytest.approx(2.75)
    # old datum fields kept verbatim (:199-201)
    assert row["fetch_time"] == NOW - 100_000


def test_additions_not_allowed_drops_new(spark):
    cfg = NutchConfig().with_(db_update_additions_allowed=False)
    sch = crawldb_schema()
    seg = spark.createDataFrame(
        [datum("http://x.example.com/", S.STATUS_LINKED, score=0.1)], sch
    )
    assert updatedb(None, seg, cfg, NOW).count() == 0


def test_metadata_merge_fetch_wins_and_ngt_stripped(spark):
    cfg = NutchConfig()
    sch = crawldb_schema()
    url = "http://meta.example.com/"
    db = spark.createDataFrame(
        [datum(url, S.STATUS_DB_UNFETCHED, metadata={"a": "old", "b": "keep", S.META_GENERATE_TIME: "123"}, gen_time=123)],
        sch,
    )
    seg = spark.createDataFrame(
        [
            datum(url, S.STATUS_FETCH_SUCCESS, fetch_time=NOW, metadata={"a": "new"}),
            datum(url, S.STATUS_PARSE_META, fetch_time=NOW, metadata={"p": "parse"}),
        ],
        sch,
    )
    row = updatedb(db, seg, cfg, NOW).collect()[0]
    assert row["metadata"] == {"a": "new", "b": "keep", "p": "parse"}
    assert row["gen_time"] is None  # _ngt_ stripped (:319-320)


def test_gone_schedule_growth(spark):
    """Page-gone schedule: interval x1.5 capped at 0.9*max (:485-531 analogue)."""
    cfg = NutchConfig()
    sch = crawldb_schema()
    url = "http://gone.example.com/"
    db = spark.createDataFrame([datum(url, S.STATUS_DB_UNFETCHED)], sch)
    seg = spark.createDataFrame([datum(url, S.STATUS_FETCH_GONE, fetch_time=NOW)], sch)
    row = updatedb(db, seg, cfg, NOW).collect()[0]
    assert row["status"] == S.STATUS_DB_GONE
    assert row["fetch_interval"] == round(DEFAULT_INTERVAL * 1.5)

    # near the cap: clamps to 0.9 * max
    big = int(cfg.db_fetch_interval_max / 1.4)
    db2 = spark.createDataFrame([datum(url, S.STATUS_DB_GONE, interval=big)], sch)
    seg2 = spark.createDataFrame(
        [datum(url, S.STATUS_FETCH_GONE, fetch_time=NOW, interval=big)], sch
    )
    row2 = updatedb(db2, seg2, cfg, NOW).collect()[0]
    assert row2["fetch_interval"] == round(cfg.db_fetch_interval_max * 0.9)


def test_linked_top_k_caps_at_max_inlinks(spark):
    """The linked priority queue keeps only the ``max_inlinks`` highest
    inlink scores (CrawlDbReducer.java:60-61,:328-342): a hot URL's
    OPIC sum counts its top-K inlinks, past the cutoff."""
    cfg = NutchConfig()
    cols = (
        "url string, status int, fetch_time long, retries int, fetch_interval int,"
        " score float, signature string, modified_time long,"
        " metadata map<string,string>, gen_time long, repr_url string"
    )
    # hot url with 40 inlink rows (scores 0..39 quarters), cap at 5
    links = [
        ("hot", 0x43, 1000 + i, 0, 3600, i / 4.0, None, 0, {}, None, None)
        for i in range(40)
    ] + [("cold", 0x43, 1000, 0, 3600, 0.25, None, 0, {}, None, None)]
    seg = spark.createDataFrame(links, cols)
    scores = {r["url"]: r["score"] for r in
              updatedb(None, seg, cfg, 5000, max_inlinks=5).collect()}
    # top-5 scores 39..35 quarters = (39+38+37+36+35)/4
    assert scores["hot"] == (39 + 38 + 37 + 36 + 35) / 4.0
    assert scores["cold"] == 0.25
