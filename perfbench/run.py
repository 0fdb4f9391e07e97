"""Seeded, oracle-checked benchmark of the engine's registry queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One client runs the workload's roster as a
closed loop (one query at a time, each waiting for its result) until
``--seconds`` have passed; the last pass always completes. Every
result is checked against the query's DuckDB oracle outside the timed
region; a query that raises or mismatches is counted in ``error_rate``
and the run goes on. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics plus the tracing overhead. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: name -> unit; the order is the order printed
END_TO_END = {
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.registry_load_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "sources.input_rows": "rows",
    "sources.input_bytes": "bytes",
    "sources.rows_per_result_row": "ratio",
    "operators.action_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.s_per_stage": "s",
    "operators.run_s": "s",
    "operators.cpu_s": "s",
    "operators.cpu_per_run": "ratio",
    "operators.core_util": "ratio",
    "operators.gc_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.result_bytes": "bytes",
    "operators.failed_tasks": "count",
    "functions.pyworker_cpu_s": "s",
    "functions.pyworker_share": "ratio",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.log_commit_ms": "ms",
    "streaming.state_rows": "rows",
    "sinks.write_s": "s",
    "sinks.bytes": "bytes",
    "sinks.files": "count",
    "trace.overhead_s": "s",
}
#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10
#: driver heap cap; small inputs need little and the host is shared
DRIVER_MEM = "1g"
#: the heap starts small and, with GC allowed up to half the time, G1
#: grows it only when live data needs the room, not to shorten pauses;
#: so the peak RSS follows what the engine keeps, not G1's timing
DRIVER_HEAP_OPTS = "-Xms256m -XX:GCTimeRatio=1"


# ------------------------------------------------------------------ metrics


def quartiles(values: list[float]) -> dict:
    if len(values) == 1:
        return {"q1": values[0], "median": values[0], "q3": values[0], "n": 1}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"q1": q1, "median": med, "q3": q3, "n": len(values)}


def tail(values: list[float]) -> dict:
    """The highest percentile of ``values`` with ``TAIL_BEYOND`` samples
    above it (with fewer samples, the minimum). Reported beside the
    metrics only: a run holds 15-35 samples, which puts this percentile
    between p30 and p70."""
    xs = sorted(values)
    i = max(0, len(xs) - TAIL_BEYOND - 1)
    return {
        "value": xs[i],
        "percentile": 100.0 * (i + 1) / len(xs),
        "beyond": len(xs) - i - 1,
        "n": len(xs),
    }


def end_to_end(pass_s: list[float], query_s: list[float],
               query_median_s: dict[str, float], setup_s: float,
               rss_mb: float) -> dict[str, float]:
    """``query_s`` pools every timed query sample; ``query_median_s`` holds
    each roster member's median wall, and the tail is the slowest member."""
    return {
        "pass_s": statistics.median(pass_s),
        "query_p50_s": statistics.median(query_s),
        "query_tail_s": max(query_median_s.values()),
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
    }


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_totals(records: list[dict], cores: int) -> dict[str, float]:
    """Per-pass totals of the traced counters of one pass's records."""
    s = {k: sum(r.get(k, 0) for r in records) for k in (
        "build_s", "action_s", "sink_s", "wall_s", "build_jobs", "jobs",
        "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "result_bytes", "failed_tasks",
        "input_rows", "input_bytes", "result_rows", "analysis_ms",
        "optimization_ms", "planning_ms", "pyworker_cpu_s", "stream_batches",
        "stream_trigger_ms", "stream_add_batch_ms", "stream_planning_ms",
        "stream_log_commit_ms", "stream_state_rows", "sink_bytes", "sink_files",
    )}
    return {
        "plans.build_s": s["build_s"],
        "plans.build_jobs": s["build_jobs"],
        "plans.build_share": _ratio(s["build_s"], s["wall_s"]),
        "catalyst.analysis_ms": s["analysis_ms"],
        "catalyst.optimization_ms": s["optimization_ms"],
        "catalyst.planning_ms": s["planning_ms"],
        "sources.input_rows": s["input_rows"],
        "sources.input_bytes": s["input_bytes"],
        "sources.rows_per_result_row": _ratio(s["input_rows"], s["result_rows"]),
        "operators.action_s": s["action_s"],
        "operators.jobs": s["jobs"],
        "operators.stages": s["stages"],
        "operators.tasks": s["tasks"],
        "operators.s_per_stage": _ratio(s["wall_s"], s["stages"]),
        "operators.run_s": s["run_s"],
        "operators.cpu_s": s["cpu_s"],
        "operators.cpu_per_run": _ratio(s["cpu_s"], s["run_s"]),
        # run_s includes the jobs a callable fires while building, so the
        # busy share is taken over the whole query wall, not the action
        "operators.core_util": _ratio(s["run_s"], s["wall_s"] * cores),
        "operators.gc_s": s["gc_s"],
        "operators.shuffle_write_bytes": s["shuffle_write_bytes"],
        "operators.shuffle_read_bytes": s["shuffle_read_bytes"],
        "operators.spill_bytes": s["spill_bytes"],
        "operators.result_bytes": s["result_bytes"],
        "operators.failed_tasks": s["failed_tasks"],
        "functions.pyworker_cpu_s": s["pyworker_cpu_s"],
        "functions.pyworker_share": _ratio(
            s["pyworker_cpu_s"], s["pyworker_cpu_s"] + s["cpu_s"]
        ),
        "streaming.batches": s["stream_batches"],
        "streaming.trigger_ms": s["stream_trigger_ms"],
        "streaming.add_batch_ms": s["stream_add_batch_ms"],
        "streaming.planning_ms": s["stream_planning_ms"],
        "streaming.log_commit_ms": s["stream_log_commit_ms"],
        "streaming.state_rows": s["stream_state_rows"],
        "sinks.write_s": s["sink_s"],
        "sinks.bytes": s["sink_bytes"],
        "sinks.files": s["sink_files"],
    }


#: why a per-layer metric reads 0 on a workload that never reaches the layer
ZERO_REASONS = {
    "streaming.": "no streaming query in this roster",
    "functions.": "no Python UDF or Python worker in this roster",
    "sinks.": "this roster collects its results; no sink write",
}


def hooked_pass_s(passes: list[list[dict]]) -> list[float]:
    """Each pass's time with the tracer's hooks and without the checks."""
    return [sum(r["hooked_s"] for r in recs) for recs in passes if recs]


def per_layer(traced: list[list[dict]], untraced: list[list[dict]],
              session: dict[str, float], cores: int) -> tuple[dict, dict]:
    """Median over traced passes of each per-pass total, plus the session
    times and the tracing overhead: the traced minus the untraced median
    of ``hooked_pass_s``. Returns (metrics, zero reasons)."""
    per_pass = [layer_totals(recs, cores) for recs in traced]
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out.update(session)
    out["trace.overhead_s"] = (
        statistics.median(hooked_pass_s(traced))
        - statistics.median(hooked_pass_s(untraced))
    )
    notes = {
        k: why
        for k, v in out.items()
        for prefix, why in ZERO_REASONS.items()
        if k.startswith(prefix) and v == 0
    }
    return {k: out[k] for k in PER_LAYER}, notes


def tally(records: list[dict]) -> dict:
    """Attempted and failed query runs; a failure is an exception or an
    oracle mismatch, whichever pass it happened in."""
    failed = sum(1 for r in records if r["error"])
    return {
        "attempted": len(records),
        "failed": failed,
        "error_rate": failed / len(records) if records else 0.0,
    }


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    })


# ------------------------------------------------------------- verification


#: how each sink's part files are read back: ``write_text`` joins the
#: columns with "," and writes NULL as an empty field, unquoted; the CSV
#: sinks use Spark's CSV writer defaults (a header, "-quoting, \-escapes,
#: NULL as an empty unquoted field and "" as the empty string)
SINK_FORMAT = {
    "write_text": "header=false, delim=',', quote='', escape=''",
    "write_csv": "header=true, delim=',', quote='\"', escape='\\', "
                 "allow_quoted_nulls=false",
}
SINK_FORMAT["write_csv_single"] = SINK_FORMAT["write_csv"]


def _rows(tbl, cols: list[str]) -> list[tuple]:
    return [tuple(r[c] for c in cols) for r in tbl.to_pylist()]


def dir_size(path: str) -> tuple[int, int]:
    files = [os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-")]
    return sum(os.path.getsize(f) for f in files), len(files)


class Oracles:
    """DuckDB twins of the roster, run on the same generated files, each
    reduced once to (sorted columns, row count, value hash, column types)."""

    def __init__(self, data_dir: str, texts: dict[str, str]) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in gen.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        self.texts = texts
        self._cache: dict[str, tuple] = {}

    def expected(self, name: str) -> tuple:
        from tools.check_correctness import value_hash

        if name not in self._cache:
            rel = self.con.sql(self.texts[name])
            types = dict(zip(rel.columns, map(str, rel.types)))
            tbl = rel.arrow()
            cols = tbl.schema.names
            rows = _rows(tbl, cols)
            self._cache[name] = (sorted(cols), len(rows), value_hash(rows, cols), types)
        return self._cache[name]

    def check_rows(self, name: str, columns: list[str], rows) -> str | None:
        from tools.check_correctness import value_hash

        cols, n, h, _ = self.expected(name)
        got = (sorted(columns), len(rows), value_hash([tuple(r) for r in rows], columns))
        if got == (cols, n, h):
            return None
        return f"oracle mismatch: got {got[:2]} expected {(cols, n)}"

    def _sink_scan(self, name: str, path: str, sink: str, columns: list[str]) -> str:
        """A DuckDB scan of the part files a sink wrote under ``path``, its
        fields in the order of ``columns``, each typed as the oracle's."""
        types = self.expected(name)[3]
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-")
        )
        spec = ", ".join(f"'{c}': '{types[c]}'" for c in columns)
        return f"read_csv({files!r}, columns={{{spec}}}, {SINK_FORMAT[sink]})"

    def read_sink(self, name: str, path: str, sink: str, columns: list[str]) -> list[tuple]:
        scan = self._sink_scan(name, path, sink, columns)
        return _rows(self.con.sql(f"SELECT * FROM {scan}").arrow(), columns)

    def check_sink_count(self, name: str, path: str, sink: str,
                         columns: list[str]) -> tuple[int, str | None]:
        scan = self._sink_scan(name, path, sink, columns)
        n = self.con.sql(f"SELECT count(*) FROM {scan}").fetchone()[0]
        want = self.expected(name)[1]
        return n, None if n == want else f"sink row count {n} != oracle {want}"


# ------------------------------------------------------------------ the run


class Run:
    """One workload in one process: session, roster, oracles, samples."""

    def __init__(self, spark, workload, data_dir: str, out_dir: str,
                 queries: dict, oracles: Oracles, sinks) -> None:
        self.spark = spark
        self.wl = workload
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.queries = queries
        self.oracles = oracles
        self.sinks = sinks
        self.records: list[dict] = []

    def run_query(self, name: str, qid: str, tracer, full_check: bool) -> dict:
        """Build, act (collect or sink write), then verify outside the
        timed region. Never raises: a failure is recorded on the sample.
        A collected result is always value-checked; what a sink wrote is
        read back and value-checked with ``full_check``, and otherwise
        only row-counted.
        ``wall_s`` is build plus action; ``hooked_s`` adds the tracer's
        hooks around them, and is what the tracing overhead compares."""
        sink = self.wl.roster[name]
        rec = {"qid": qid, "query": name, "error": None}
        self.records.append(rec)
        try:
            t_hooked = time.perf_counter()
            tracer.query_started(qid)
            with tracer.span("query", qid):
                with tracer.span("plans.build", qid):
                    t0 = time.perf_counter()
                    df = self.queries[name](self.spark, self.data_dir)
                    t1 = time.perf_counter()
                tracer.query_built(qid)
                out = os.path.join(self.out_dir, name)
                with tracer.span("sinks.write" if sink else "operators.action", qid):
                    t2 = time.perf_counter()
                    if sink:
                        getattr(self.sinks, sink)(df, out)
                    else:
                        rows = df.collect()
                    t3 = time.perf_counter()
            rec.update(build_s=t1 - t0, action_s=t3 - t2, wall_s=(t1 - t0) + (t3 - t2))
            rec["sink_s"] = rec["action_s"] if sink else 0.0
            rec.update(tracer.query_done(qid, df))
            rec["hooked_s"] = time.perf_counter() - t_hooked
            t_check = time.perf_counter()
            if sink:
                rec["sink_bytes"], rec["sink_files"] = dir_size(out)
            if sink and not full_check:
                rec["result_rows"], rec["error"] = self.oracles.check_sink_count(
                    name, out, sink, df.columns)
            else:
                if sink:
                    rows = self.oracles.read_sink(name, out, sink, df.columns)
                rec["result_rows"] = len(rows)
                rec["error"] = self.oracles.check_rows(name, df.columns, rows)
            rec["check_s"] = time.perf_counter() - t_check
        except Exception as e:  # the record must survive any query fault
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
            traceback.print_exc(file=sys.stderr)
        if rec["error"]:
            print(f"perfbench: {qid} failed: {rec['error']}", file=sys.stderr)
        return rec

    def run_pass(self, label: str, tracer, full_check: bool = False) -> list[dict]:
        return [
            self.run_query(name, f"{label}-{name}", tracer, full_check)
            for name in self.wl.roster
        ]


def pin_env(workdir: str) -> None:
    """Environment for the engine and the JVM it starts: every core,
    the checkout on the workers' path, and every scratch file under
    ``workdir``."""
    env = os.environ
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, env.get("PYTHONPATH"))))
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(workdir, "warehouse")
    env["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM, the spark-submit launcher included, keeps its temp files here
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = " ".join((
        "--driver-java-options", shlex.quote(DRIVER_HEAP_OPTS),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={workdir}/sql-warehouse"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for both to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    # the JVM and the Python workers it forked; the workers exit once
    # their pipe to the JVM closes
    started = layers.descendants(os.getpid())
    gw.shutdown()
    proc = gw.proc
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args, wl, workdir: str) -> tuple[dict, dict]:
    data_dir = os.path.join(workdir, "data")
    t_gen = time.perf_counter()
    rows = gen.generate(data_dir, args.seed, wl.sizes)
    gen_s = time.perf_counter() - t_gen

    tracer = layers.Tracer() if args.trace else layers.NullTracer()
    with tracer.span("session.get_spark"):
        t0 = time.perf_counter()
        from apache_beam_challange_spark.session import get_spark

        spark = get_spark("perfbench")
        t1 = time.perf_counter()
    try:
        with tracer.span("registry.load_all"):
            from apache_beam_challange_spark.plans import registry
            from apache_beam_challange_spark.sources import sinks

            registry.load_all()
            t2 = time.perf_counter()
        session = {"session.start_s": t1 - t0, "session.registry_load_s": t2 - t1}
        queries = {n: registry.QUERIES[n] for n in wl.roster}
        oracles = Oracles(data_dir, {n: registry.ORACLES[n] for n in wl.roster})
        run = Run(spark, wl, data_dir, os.path.join(workdir, "out"), queries,
                  oracles, sinks)

        warm = run.run_pass("warm", layers.NullTracer(), full_check=True)
        check_s = sum(r.get("check_s", 0.0) for r in warm)
        setup_s = time.perf_counter() - T_PROCESS - gen_s - check_s
        if args.trace:
            tracer.attach(spark)

        untraced: list[list[dict]] = []
        traced: list[list[dict]] = []
        t_window = time.perf_counter()
        p = 0
        while True:
            if args.trace and p % 2:
                traced.append(run.run_pass(f"p{p}", tracer))
            else:
                untraced.append(run.run_pass(f"p{p}", layers.NullTracer()))
            p += 1
            done = time.perf_counter() - t_window >= args.seconds
            if done and (traced or not args.trace):
                break
        jvm = layers.jvm_pid()
        rss_parts = {"python_mb": layers.peak_rss_mb([os.getpid()]),
                     "jvm_mb": layers.peak_rss_mb([jvm])}
        rss = sum(rss_parts.values())
        cores = spark.sparkContext.defaultParallelism
    finally:
        stop_spark(spark)

    # a failed sample adds nothing to its pass; ``correct`` is then false
    ok = [[r for r in recs if not r["error"]] for recs in untraced]
    pass_s = [sum(r["wall_s"] for r in recs) for recs in ok if recs]
    walls = {n: [r["wall_s"] for recs in ok for r in recs if r["query"] == n]
             for n in wl.roster}
    query_s = [w for ws in walls.values() for w in ws]
    query_median_s = {n: statistics.median(ws) for n, ws in walls.items() if ws}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": cores,
        "input_rows": rows,
        "peak_rss": rss_parts,
        "gen_s": gen_s,
        **tally(run.records),
        "errors": {r["qid"]: r["error"] for r in run.records if r["error"]},
        "pass_s": quartiles(pass_s) if pass_s else None,
        "query_s": quartiles(query_s) if query_s else None,
        "query_tail": tail(query_s) if query_s else None,
        "query_median_s": query_median_s,
        "records": run.records,
    }
    if not pass_s:
        return detail, {}
    if not args.trace:
        return detail, end_to_end(pass_s, query_s, query_median_s, setup_s, rss)
    traced = [[r for r in recs if not r["error"]] for recs in traced]
    metrics, notes = per_layer(traced, ok, session, cores)
    detail.update(spans=tracer.spans, zero_reasons=notes,
                  traced_pass_s=[sum(r["wall_s"] for r in recs) for recs in traced])
    return detail, metrics


def report(detail: dict, metrics: dict, units: dict) -> None:
    w = detail["workload"]
    print(f"workload {w}  seed {detail['seed']}  cores {detail['cores']}  "
          f"inputs {json.dumps(detail['input_rows'])}")
    for name, unit in units.items():
        print(f"  {name:34s} {metrics[name]:14.4f} {unit}")
    if detail["pass_s"]:
        q = detail["pass_s"]
        print(f"  pass_s quartiles {q['q1']:.4f} / {q['median']:.4f} / "
              f"{q['q3']:.4f} s over {q['n']} passes")
    if detail["query_tail"]:
        t = detail["query_tail"]
        print(f"  query p{t['percentile']:.1f} (the highest with {t['beyond']} "
              f"of {t['n']} samples beyond it) {t['value']:.4f} s")
    print(f"  error_rate {detail['error_rate']:.4f} ratio "
          f"({detail['failed']}/{detail['attempted']})  oracle "
          f"{'all match' if not detail['failed'] else 'FAILURES'}")
    for k, why in detail.get("zero_reasons", {}).items():
        print(f"  {k} = 0: {why}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("apache_beam_challange_spark/__init__.py", "tools/check_correctness.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    try:
        pin_env(workdir)
        detail, metrics = measure(args, WORKLOADS[args.workload], workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    detail_path = os.path.join(
        runs, f"detail-{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(f"perfbench: detail written to {detail_path}", file=sys.stderr)
    if not metrics:
        print("perfbench: no successful query sample to report", file=sys.stderr)
        return 1
    units = PER_LAYER if args.trace else END_TO_END
    report(detail, metrics, units)
    print(result_line(detail["failed"] == 0, detail["attempted"], detail["failed"],
                      metrics, units), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
