import pytest


@pytest.fixture(scope="session")
def spark():
    from spark_geo.session import get_spark
    s = get_spark(cores=4, shuffle_partitions=8, app="spark_geo_tests",
                  extra={"spark.sql.execution.arrow.maxRecordsPerBatch": "4096"})
    yield s


@pytest.fixture
def cache_entries(spark):
    """Callable giving the number of entries in the session's
    CacheManager (what ``DataFrame.persist``/``cache`` register)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    return lambda: cm.numCachedEntries()
