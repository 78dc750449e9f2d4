from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from error_analysis_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture
def no_jobs(spark):
    """`with no_jobs():` runs the block under a job group of its own and
    asserts that the group holds no Spark job. (Differences of
    `getJobIdsForGroup(None)` lengths go vacuous once the session has
    run `spark.ui.retainedJobs` jobs: that list is capped.)"""
    sc = spark.sparkContext

    @contextmanager
    def check():
        group = f"no-jobs-{uuid.uuid4().hex}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        assert not jobs, f"construction ran Spark jobs {jobs}"
    return check
