from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_beam_challange_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
#: The test corpus root; every scale factor is a sibling of SF_DIR.
TESTDATA_ROOT = os.path.dirname(SF_DIR)


def jobs_fired(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, counted under a fresh job group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    group = f"jobs-fired-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        jsc.clearJobGroup()
    jsc.listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def plans(spark, sf_dir):
    """Shared executed-plan dump for plan-shape assertions (hoisted from
    five per-module copies — one definition of how plans are rendered)."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()

    def plan_of(name: str) -> str:
        return (
            qs[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    return plan_of
