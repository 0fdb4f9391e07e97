"""Per-layer tracing, taken from outside the engine package.

Spans are recorded around the benchmark's own calls into each layer
(session start, registry load, the query callable, the final action,
the sink write); counters come from public Spark interfaces read right
after each query:

- a job group per query (``statusTracker().getJobIdsForGroup``), plus the
  job group every streaming query runs its micro-batches under (its
  ``runId``, learnt from a ``StreamingQueryListener``);
- stage metrics from the driver's status store;
- Catalyst phase times from ``queryExecution().tracker().phases()``;
- streaming progress from the same listener;
- ``/proc`` CPU time of the Python worker processes the JVM forks.

The untraced run uses :class:`NullTracer`, which records nothing.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------- /proc


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, cpu ticks incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[1] = ppid; [11..14] = utime stime cutime cstime
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), comm, ticks)
    return out


def _descendants(table: dict[int, tuple[int, str, int]], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    return _descendants(_proc_table(), pid)


def jvm_pid() -> int | None:
    """The driver JVM: the ``java`` child of this process."""
    table = _proc_table()
    for pid in _descendants(table, os.getpid()):
        if table[pid][1] == "java":
            return pid
    return None


def pyworker_cpu_s(jvm: int | None) -> float:
    """CPU seconds of every process below the JVM (``pyspark.daemon`` and
    the workers it forks), including workers already reaped."""
    if jvm is None:
        return 0.0
    table = _proc_table()
    return sum(table[p][2] for p in _descendants(table, jvm)) / _CLK_TCK


def peak_rss_mb(pids) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# --------------------------------------------------------------- the tracer


class NullTracer:
    """Untraced run: every hook is a no-op."""

    @contextmanager
    def span(self, name: str, qid: str | None = None):
        yield

    def query_started(self, qid: str) -> None:
        pass

    def query_built(self, qid: str) -> None:
        pass

    def query_done(self, qid: str, df) -> dict:
        return {}


class Tracer(NullTracer):
    """Traced run: spans in memory plus per-query Spark counters."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._seen_stages: set[int] = set()

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, qid: str | None = None):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "qid": qid,
            "name": name,
            "start_s": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self._t0

    # -- Spark attachment ----------------------------------------------------

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        class _Progress(StreamingQueryListener):
            def __init__(self) -> None:
                self.run_ids: list[str] = []
                self.progress: list = []

            def onQueryStarted(self, event) -> None:
                self.run_ids.append(str(event.runId))

            def onQueryProgress(self, event) -> None:
                self.progress.append(event.progress)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.jvm = jvm_pid()
        self.listener = _Progress()
        spark.streams.addListener(self.listener)
        self._q: dict = {}

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event so far,
        so the status store and the streaming listener are current."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _jobs(self, qid: str) -> list[int]:
        groups = [qid, *self.listener.run_ids[self._q["runs0"]:]]
        st = self.sc.statusTracker()
        return sorted({j for g in groups for j in st.getJobIdsForGroup(g)})

    # -- per-query hooks -----------------------------------------------------

    def query_started(self, qid: str) -> None:
        self._q = {
            "runs0": len(self.listener.run_ids),
            "progress0": len(self.listener.progress),
            "py0": pyworker_cpu_s(self.jvm),
        }
        self.sc.setJobGroup(qid, qid)

    def query_built(self, qid: str) -> None:
        self._drain()
        self._q["build_jobs"] = len(self._jobs(qid))

    def query_done(self, qid: str, df) -> dict:
        self._drain()
        self._jsc.clearJobGroup()
        jobs = self._jobs(qid)
        out = {
            "build_jobs": self._q["build_jobs"],
            "jobs": len(jobs),
            "pyworker_cpu_s": pyworker_cpu_s(self.jvm) - self._q["py0"],
            **self._stage_totals(jobs),
            **self._catalyst(df),
            **self._streaming(self.listener.progress[self._q["progress0"]:]),
        }
        return out

    # -- counter readers -----------------------------------------------------

    def _stage_totals(self, jobs: list[int]) -> dict:
        st = self.sc.statusTracker()
        store = self._jsc.statusStore()
        gw = self.sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        tot = dict.fromkeys((
            "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "result_bytes", "failed_tasks",
            "input_rows", "input_bytes",
        ), 0)
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                # a stage reused by a later job shows up again as skipped
                if sid in self._seen_stages:
                    continue
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
                ran = False
                for i in range(attempts.size()):
                    a = attempts.apply(i)
                    if a.status().toString() == "SKIPPED":
                        continue
                    ran = True
                    tot["tasks"] += a.numTasks()
                    tot["failed_tasks"] += a.numFailedTasks()
                    tot["run_s"] += a.executorRunTime() / 1e3
                    tot["cpu_s"] += a.executorCpuTime() / 1e9
                    tot["gc_s"] += a.jvmGcTime() / 1e3
                    tot["shuffle_write_bytes"] += a.shuffleWriteBytes()
                    tot["shuffle_read_bytes"] += a.shuffleReadBytes()
                    tot["spill_bytes"] += a.diskBytesSpilled()
                    tot["result_bytes"] += a.resultSize()
                    tot["input_rows"] += a.inputRecords()
                    tot["input_bytes"] += a.inputBytes()
                if ran:
                    self._seen_stages.add(sid)
                    tot["stages"] += 1
        return tot

    @staticmethod
    def _catalyst(df) -> dict:
        """Planner phase times of the query's final plan. A phase the final
        action never ran (a sink write plans its own command) reads 0."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            ms = phases.apply(phase).durationMs() if phases.contains(phase) else 0
            out[f"{phase}_ms"] = float(ms)
        return out

    @staticmethod
    def _streaming(progress: list) -> dict:
        out = dict.fromkeys(
            ("batches", "trigger_ms", "add_batch_ms", "planning_ms",
             "log_commit_ms", "state_rows"), 0
        )
        last_state: dict[str, int] = {}
        for p in progress:
            d = p.durationMs
            out["batches"] += 1
            out["trigger_ms"] += d.get("triggerExecution", 0)
            out["add_batch_ms"] += d.get("addBatch", 0)
            out["planning_ms"] += d.get("queryPlanning", 0)
            out["log_commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            last_state[str(p.runId)] = sum(s.numRowsTotal for s in p.stateOperators)
        out["state_rows"] = sum(last_state.values())
        return {f"stream_{k}": v for k, v in out.items()}
