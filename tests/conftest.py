from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from serverless_etl_reporting_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(shuffle_partitions=4, driver_memory="4g")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(f)`` runs ``f`` and returns ``(jobs, f())``: the
    number of Spark jobs the DAG scheduler started meanwhile."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def run(f):
        before = dag.numTotalJobs()
        out = f()
        return dag.numTotalJobs() - before, out

    return run
