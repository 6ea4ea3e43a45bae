"""Shared fixtures: one local SparkSession for the whole test run."""

from __future__ import annotations

import pytest

from mysql_data_quality_spark.core.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def run_executions(spark, action):
    """``action()``'s result and the SQL executions it ran, read from the
    session's status store.  Selected by execution id: the store keeps
    only the newest executions, so its size alone can stop growing."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    n = execs.size()
    last = execs.apply(n - 1).executionId() if n else -1
    result = action()
    execs = store.executionsList()
    added = [execs.apply(i) for i in range(execs.size())]
    return result, [e for e in added if e.executionId() > last]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mdqs-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(
            f"create view {t} as select * from '{SF_CORRECT}/{t}.parquet'"
        )
    return con
