from __future__ import annotations

import contextlib
import os
import sys
import tempfile
import uuid

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def spark_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it launched, counted through a
    job group once the listener bus has delivered every job-start event."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def kept_scratch(prefix):
    """``core.scratch`` without the removal: a test that inspects a query's
    scratch files puts this in place of the query module's ``scratch`` and
    removes the dir itself."""
    yield tempfile.mkdtemp(prefix=prefix)


@pytest.fixture(scope="session")
def spark():
    from etl_suite_spark.session import get_spark

    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from etl_suite_spark.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
