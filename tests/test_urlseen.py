"""URL-seen fingerprint split and the updatedb paths built on it:
``updatedb_split`` and ``updatedb_incremental``'s count-ratio dispatch."""

from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.operators.updatedb import updatedb, updatedb_incremental, updatedb_split
from nutch_spark.urls.urlseen import fingerprint_split


def _urls(spark, n, prefix="http://h.example.com/"):
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("url")
    )


def test_fingerprint_split_partitions_exactly(spark):
    big = _urls(spark, 1000)
    small = _urls(spark, 100).filter(F.col("url").endswith("7"))
    maybe, not_in = fingerprint_split(big, small)
    m = {r["url"] for r in maybe.collect()}
    n = {r["url"] for r in not_in.collect()}
    assert m | n == {r["url"] for r in big.collect()}
    assert not (m & n)
    assert {r["url"] for r in small.collect()} <= m


def test_updatedb_incremental_equals_exact(spark):
    """The split path is row-identical to the plain merge. This 3-row
    CrawlDb sits above the dispatch ratio, so call the split directly."""
    cfg = NutchConfig()
    cols = (
        "url string, status int, fetch_time long, retries int, fetch_interval int,"
        " score float, signature string, modified_time long,"
        " metadata map<string,string>, gen_time long, repr_url string"
    )
    old = spark.createDataFrame(
        [
            ("u1", 1, 1000, 0, 3600, 1.0, None, 0, {}, None, None),
            ("u2", 2, 1000, 0, 3600, 2.0, "sig2", 0, {}, None, None),
            ("u3", 1, 1000, 1, 3600, 0.5, None, 0, {}, None, None),
        ],
        cols,
    )
    seg = spark.createDataFrame(
        [
            ("u1", 0x21, 5000, 0, 3600, 1.0, "new", 0, {}, None, None),
            ("u9", 0x43, 5000, 0, 3600, 0.25, None, 0, {}, None, None),
        ],
        cols,
    )
    def snap(df):
        return sorted(
            (r["url"], r["status"], r["fetch_time"], r["score"]) for r in df.collect()
        )
    exact = snap(updatedb(old, seg, cfg, 9000))
    assert snap(updatedb_split(old, seg, cfg, 9000)) == exact


def test_updatedb_auto_dispatch(spark, monkeypatch):
    """updatedb_incremental takes updatedb_split only below the
    touched-ratio threshold (BENCH/MEASUREMENT_LOG.md round-3f
    crossover), and is result-identical to the exact merge on both
    sides of it."""
    import nutch_spark.operators.updatedb as U

    built = []

    def spy_split(*a, **kw):
        built.append(1)
        return updatedb_split(*a, **kw)

    monkeypatch.setattr(U, "updatedb_split", spy_split)
    cfg = NutchConfig()
    cols = (
        "url string, status int, fetch_time long, retries int, fetch_interval int,"
        " score float, signature string, modified_time long,"
        " metadata map<string,string>, gen_time long, repr_url string"
    )
    old = spark.createDataFrame(
        [(f"u{i}", 1, 1000, 0, 3600, 1.0, None, 0, {}, None, None) for i in range(200)],
        cols,
    )
    seg_small = spark.createDataFrame(
        [("u1", 0x21, 5000, 0, 3600, 1.0, "new", 0, {}, None, None)], cols
    )
    seg_big = old.withColumn("status", F.lit(0x21)).withColumn(
        "fetch_time", F.lit(5000).cast("long")
    )

    def snap(df):
        return sorted((r["url"], r["status"], r["fetch_time"]) for r in df.collect())

    # ratio 1/200 < 0.15 -> split path
    assert snap(updatedb_incremental(old, seg_small, cfg, 9000)) == snap(
        updatedb(old, seg_small, cfg, 9000)
    )
    assert built == [1]
    # ratio 200/200 >= 0.15 -> full merge, no split
    assert snap(updatedb_incremental(old, seg_big, cfg, 9000)) == snap(
        updatedb(old, seg_big, cfg, 9000)
    )
    assert built == [1]
