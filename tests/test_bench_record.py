"""The driver captures only the last ~2000 chars of bench stdout; a final
compact line that outgrows it comes back `parsed: null` and the record is
lost. These tests build detail records through the same pure functions
bench.py prints through, so they need no prior bench run, and execute the
scaling canary for real under ANSI."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

#: hard budget, below the driver's 2000-char tail capture with slack for
#: a trailing newline and a few extra stdout bytes
MAX_LINE = 1600

_RUN = dict(parallelism=32, shuffle_partitions=32, repeats=3, sf=0.1)


def _ok(wall: float) -> dict:
    return {"median": wall, "min": wall, "max": wall, "steal_pct": 0.0}


def _detail(wall: float = 0.5, failed: tuple[str, ...] = ()) -> dict:
    results = {n: _ok(wall) for n in bench.HEADLINE + [bench.CANARY]}
    for n in failed:
        results[n] = "AnalysisException: boom"
    return bench.build_detail(results, 0.3, 0.31, **_RUN)


def test_final_line_fits_driver_tail_capture():
    # worst case: every wall as wide as a rounded float gets in practice
    line = bench.compact_line(_detail(wall=99999.999))
    assert len(line) <= MAX_LINE, (
        f"final bench line is {len(line)} chars (> {MAX_LINE}); the driver's "
        "2000-char tail capture will truncate it and BENCH parsing goes dark"
    )
    json.loads(line)  # stays one well-formed JSON object


def test_final_line_carries_driver_contract_fields():
    rec = json.loads(bench.compact_line(_detail()))
    assert rec["metric"] == "headline_queries_total_wall"
    assert rec["unit"] == "sec"
    # the frozen 15-query headline roster never shrinks or renames
    assert len(bench.HEADLINE) == 15
    for name in bench.HEADLINE:
        assert name in rec["queries"], f"headline query {name} missing"
    # the scaling canary rides in queries but NOT in value (continuity)
    assert rec["queries"][bench.CANARY] == 0.5
    assert rec["value"] == round(15 * 0.5, 3)
    for key in ("noise_ref", "parallelism", "shuffle_partitions", "repeats",
                "aggregation", "sf"):
        assert key in rec, key


def test_value_is_null_when_a_headline_query_failed():
    d = _detail(failed=("q4_total_distance",))
    rec = json.loads(bench.compact_line(d))
    assert rec["value"] is None
    assert rec["queries"]["q4_total_distance"] is None
    assert d["errors"] == {"q4_total_distance": "AnalysisException: boom"}
    # a canary failure alone leaves value intact
    rec = json.loads(bench.compact_line(_detail(failed=(bench.CANARY,))))
    assert rec["value"] == 7.5 and rec["queries"][bench.CANARY] is None


def test_measure_records_errors_instead_of_raising():
    def boom():
        raise ValueError("bad\nplan")

    assert bench._measure(boom, 3) == "ValueError: bad plan"


def test_scaling_canary_runs_under_ansi(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = bench._scaling_canary(spark, rows=200_000).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert sum(r["c"] for r in rows) == 200_000
    assert len(rows) <= 4096 and all(0 <= r["s"] for r in rows)
