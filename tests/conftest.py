from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CLOUDFLOE_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from cloudfloe_spark.session import get_spark

    spark = get_spark(
        app_name="cloudfloe-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture()
def spark_jobs(spark):
    """``count(fn)`` → ``(fn(), number of Spark jobs fn started)``,
    counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"cf-test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture()
def plan_cache(monkeypatch):
    """An empty Iceberg plan cache for one test, so hits and misses count
    only that test's resolves and no earlier test's plan answers a read."""
    from cloudfloe_spark.service import iceberg_local as il
    from cloudfloe_spark.sources import fsio

    cache = fsio.LRUCache(il._PLAN_CACHE_MAX)
    monkeypatch.setattr(il, "_PLAN_CACHE", cache)
    return cache
