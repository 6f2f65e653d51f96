from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from radmapper_spark.session import get_spark, load_tables, scope

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def persisted_rdd_ids(spark) -> set:
    """Ids of the RDDs the JVM holds persisted (persist and local
    checkpoints alike). The map holds them by weak reference, so
    compare id sets, not sizes: a GC may drop an older entry."""
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(i) for i in ids}


@pytest.fixture(autouse=True)
def _owned_frames():
    """Each test owns what the operators it calls persist, like an
    entry build: its scope is released when the test ends."""
    with scope():
        yield


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("radmapper-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def tables(spark):
    return load_tables(spark, SF_SMOKE)


@pytest.fixture(scope="session")
def tables_sf001(spark):
    return load_tables(spark, SF_CORRECT)
