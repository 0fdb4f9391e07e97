"""The driver <-> Spark row boundary (``sources/driver.py``): driver rows
enter a plan as a typed local relation, multi-row results come back
through one capped Arrow collect, and no other package module builds a
frame from driver rows or collects into pandas."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from apache_beam_challange_spark.sources import driver
from apache_beam_challange_spark.sources.driver import (
    CollectCapExceeded,
    collect_bounded,
    local_frame,
)
from conftest import jobs_fired

PACKAGE = os.path.dirname(os.path.dirname(os.path.abspath(driver.__file__)))

#: one row per column type the call sites use, NULLs included
_DDL = "a long, b double, c string, d int, e array<double>"
_ROWS = [
    (1, 0.5, "x", 7, [1.0, -2.5]),
    (None, -1e9, None, None, None),
    (2**62, 0.0, "", -3, []),
]


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "empty"])
def test_local_frame_equals_list_built_frame(spark, rows):
    got = local_frame(spark, rows, _DDL)
    want = spark.createDataFrame(rows, _DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_is_a_local_scan(spark):
    plan = (
        local_frame(spark, _ROWS, _DDL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan


def test_collect_bounded_returns_tuples_with_none(spark):
    rows = collect_bounded(local_frame(spark, _ROWS, _DDL), cap=3)
    assert rows == _ROWS
    assert rows[1][0] is None  # a NULL long, not NaN


def test_collect_bounded_raises_past_cap(spark):
    df = spark.range(10)
    assert len(collect_bounded(df, cap=10)) == 10
    with pytest.raises(CollectCapExceeded):
        collect_bounded(df, cap=9)


def test_collect_bounded_fires_one_job(spark):
    """A 16-partition scan keeping one row per partition: a bounded
    ``collect()`` would escalate through several partial jobs."""
    df = spark.range(0, 1600, 1, numPartitions=16).filter(F.col("id") % 100 == 0)
    rows: list[tuple] = []
    jobs = jobs_fired(spark, lambda: rows.extend(collect_bounded(df, cap=100)))
    assert sorted(rows) == [(i * 100,) for i in range(16)]
    assert jobs == 1


def test_no_frame_crosses_the_driver_outside_the_boundary():
    pattern = re.compile(r"createDataFrame\(|\.toPandas\(")
    hits = []
    for dirpath, _dirs, files in os.walk(PACKAGE):
        for fname in files:
            path = os.path.join(dirpath, fname)
            if not fname.endswith(".py") or path == driver.__file__:
                continue
            with open(path) as f:
                for lineno, line in enumerate(f, 1):
                    if pattern.search(line):
                        hits.append(f"{os.path.relpath(path, PACKAGE)}:{lineno}")
    assert not hits, (
        "build frames with sources.driver.local_frame and read rows with "
        f"sources.driver.collect_bounded: {hits}"
    )
