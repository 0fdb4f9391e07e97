"""Self-test of the benchmark at tiny size; needs no Spark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

TINY = {**gen.sizes_for_sf(0.001), "documents": 50, "embeddings": 50}


def _files(d) -> dict[str, bytes]:
    return {f: (d / f).read_bytes() for f in sorted(os.listdir(d))}


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows = gen.generate(str(a), 3, TINY)
    gen.generate(str(b), 3, TINY)
    gen.generate(str(c), 4, TINY)
    assert set(rows) == set(gen.TABLES)
    assert _files(a) == _files(b)
    fa, fc = _files(a), _files(c)
    # fixed dimensions are seed-free; every drawn table must change
    changed = {t for t in gen.TABLES if fa[f"{t}.parquet"] != fc[f"{t}.parquet"]}
    assert changed == set(gen.TABLES) - {"region", "nation"}


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER

    e2e = run.end_to_end([0.7, 0.7], [0.2, 0.3, 0.4, 0.5], {"a": 0.25, "b": 0.45},
                         setup_s=9.0, rss_mb=900.0)
    line = json.loads(run.result_line(True, 4, 0, e2e, run.END_TO_END))
    assert list(line) == ["correct", "attempted", "failed", "metrics"]
    assert list(line["metrics"]) == [m["name"] for m in spec["end_to_end"]]

    rec = {"wall_s": 0.5, "hooked_s": 0.55, "build_s": 0.2, "action_s": 0.3, "stages": 2}
    metrics, _ = run.per_layer([[rec]], [[{"hooked_s": 0.4}]], {
        "session.start_s": 5.0, "session.registry_load_s": 0.3}, cores=4)
    line = json.loads(run.result_line(True, 1, 0, metrics, run.PER_LAYER))
    assert list(line["metrics"]) == [m["name"] for m in spec["per_layer"]]


class _Rows:
    columns = ["x"]

    def collect(self):
        return [(1,)]


class _Oracles:
    def check_rows(self, name, columns, rows):
        return None


def test_raising_query_is_counted_not_fatal(tmp_path, capsys):
    def boom(spark, data_dir):
        raise RuntimeError("query fault")

    wl = Workload(why="", sizes={}, roster={"boom": None, "fine": None})
    r = run.Run(None, wl, str(tmp_path), str(tmp_path), {
        "boom": boom, "fine": lambda spark, data_dir: _Rows(),
    }, _Oracles(), sinks=None)
    recs = r.run_pass("p0", layers.NullTracer()) + r.run_pass("p1", layers.NullTracer())
    assert [x["query"] for x in recs] == ["boom", "fine", "boom", "fine"]
    assert "query fault" in recs[0]["error"] and recs[1]["error"] is None
    assert run.tally(r.records) == {"attempted": 4, "failed": 2, "error_rate": 0.5}
    assert "boom failed" in capsys.readouterr().err


@pytest.mark.parametrize("sink, text", [
    ("write_text", "7,x y,\n8,,2.5\n"),
    ("write_csv", 'b,a,c\n"x y",7,\n"",8,2.5\n'),
])
def test_sink_output_is_read_back_and_value_checked(tmp_path, sink, text):
    gen.generate(str(tmp_path / "data"), 1, TINY)
    oracle = ("SELECT * FROM (VALUES (7::BIGINT, 'x y', NULL::DOUBLE), "
              "(8, {}, 2.5)) t(a, b, c)")
    oracles = run.Oracles(str(tmp_path / "data"), {
        "q": oracle.format("NULL" if sink == "write_text" else "''"),
    })
    out = tmp_path / "out"
    out.mkdir()
    (out / "part-00000").write_text(text)
    (out / "_SUCCESS").write_text("")
    columns = ["a", "b", "c"] if sink == "write_text" else ["b", "a", "c"]
    rows = oracles.read_sink("q", str(out), sink, columns)
    assert oracles.check_rows("q", columns, rows) is None
    assert oracles.check_sink_count("q", str(out), sink, columns) == (2, None)
    (out / "part-00000").write_text(text.replace("2.5", "2.6"))
    rows = oracles.read_sink("q", str(out), sink, columns)
    assert "oracle mismatch" in oracles.check_rows("q", columns, rows)


@pytest.mark.parametrize("n", [1, 5, 11, 30])
def test_tail_keeps_ten_samples_beyond(n):
    t = run.tail([float(i) for i in range(n)])
    assert t["beyond"] == min(n - 1, run.TAIL_BEYOND)
    assert t["value"] == n - 1 - t["beyond"]
