from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sifts_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # Small local session for tests: few threads, few shuffle partitions
    # (local[32]/32 is for bench; tests favor low latency per query).
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("sifts-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def store_root(tmp_path):
    return str(tmp_path / "store")


@pytest.fixture()
def jobs_of(spark):
    """``jobs_of(fn)`` → the Spark jobs one call of ``fn`` runs,
    counted through a job group."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


SF_DIR = os.environ.get("SPARK_GRAFT_SF_TEST_DIR", "/root/testdata/sf0.001")
