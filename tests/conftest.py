import pytest

from nutch_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="nutch_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
            "spark.driver.memory": "4g",
        },
    )
    yield s


@pytest.fixture(scope="session")
def web(spark):
    """The small synthetic web (300 docs on 10 hosts) the crawl-cycle
    tests run over."""
    from nutch_spark.data.frontier import synth_web

    return synth_web(spark, n_docs=300, n_hosts=10)
