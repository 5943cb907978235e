from __future__ import annotations

import uuid

import duckdb
import pytest

from batch_processing_iac_aws_spark.catalog import TABLES
from batch_processing_iac_aws_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(fn)`` -> (fn's result, Spark jobs started while it
    ran), counted by job group through the status tracker."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count jobs")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_CORRECT}/{t}.parquet'"
        )
    yield con
    con.close()
