from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("schematic-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


class SessionState:
    """What a session keeps between queries: persistent RDDs and the
    CacheManager's cached plans."""

    def __init__(self, spark):
        self.spark = spark

    def clear(self):
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def held(self) -> tuple[list[int], bool]:
        """(persistent RDD ids, whether the CacheManager holds a plan)."""
        rdds = sorted(self.spark.sparkContext._jsc.getPersistentRDDs().keys())
        cache_manager = self.spark._jsparkSession.sharedState().cacheManager()
        return rdds, not cache_manager.isEmpty()


@pytest.fixture
def session_state(spark):
    """A :class:`SessionState` over a session cleared of both."""
    state = SessionState(spark)
    state.clear()
    return state
