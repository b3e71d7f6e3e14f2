from __future__ import annotations

import os
import sys

import pytest

# the checkout this conftest belongs to, ahead of any installed copy
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from projet_big_data_boutin_danre_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _jobs_launched(spark, fn):
    """(fn's result, Spark jobs submitted while it ran)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    out = fn()
    return out, dag.nextJobId() - before


SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf0001():
    return SF0001


@pytest.fixture(scope="session")
def sf001():
    return SF001
