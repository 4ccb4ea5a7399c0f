from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_lunar_spark.session import TABLE_NAMES, get_spark

SF_DIR = os.environ.get("PL_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pl-tests", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.fixture
def no_job_submitted(spark):
    """``with no_job_submitted(group):`` fails if the body submits a Spark
    job. A control job in a second group runs after the body; the
    listener bus is ordered, so once the control job is visible, any job
    the body submitted is too."""

    @contextmanager
    def check(group: str):
        sc = spark.sparkContext
        try:
            sc.setJobGroup(group, "must submit no job")
            yield
            sc.setJobGroup(f"{group}-control", "control action")
            assert spark.range(3).count() == 3
            tracker = sc.statusTracker()
            assert tracker.getJobIdsForGroup(f"{group}-control")
            assert tracker.getJobIdsForGroup(group) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return check
