from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ralf_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="ralf_spark_tests",
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.sql.shuffle.partitions": "8",
        },
    )
    yield spark


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of every RDD the session currently holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
