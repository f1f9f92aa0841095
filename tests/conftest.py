from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import os

# sf0.001 keeps the suite fast; set SPARK_GRAFT_TEST_SF=0.01 to rehearse
# at the driver's t2 scale (different data exposes different FP
# boundaries — run both before round end).
SF_SMALL = f"/root/testdata/sf{os.environ.get('SPARK_GRAFT_TEST_SF', '0.001')}"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from mapr_db_cdc_sample_spark.session import get_spark

    spark = get_spark("tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    from mapr_db_cdc_sample_spark.oracle import duck_connect

    return duck_connect(SF_SMALL)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def count_jobs():
    """`count_jobs(spark, group, build)`: the Spark jobs `build()` starts,
    counted with the status tracker under the job group `group`."""

    def count(spark, group: str, build) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
