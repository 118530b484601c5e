"""Measurement plumbing: spans, Spark plan and event-log metrics, process
memory and host drift probes.

Spans are recorded only from the benchmark's own files, around calls into
the engine's public functions; nothing inside the package is instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: layer of each span name; spans not listed belong to the benchmark itself
LAYERS = ("session", "registry", "queries", "plans", "exec", "deltalog", "flight")


class Tracer:
    """In-memory span recorder.  Each span has a name, layer, start, end
    (``time.time()`` seconds, comparable with Spark's event-log clock),
    the id of its parent span and the id of the operation it belongs to.
    ``enabled`` is flipped per pass, so one run holds traced and untraced
    passes."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Seconds per layer spent in spans of ``ops`` minus the part of
        each span its child spans cover."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["op"] in ops:
                child_s[s["parent"]] += s["end"] - s["start"]
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            if s["op"] in ops and s["layer"] in out:
                out[s["layer"]] += s["end"] - s["start"] - child_s[s["id"]]
        return out


# -- Catalyst and executed-plan metrics (py4j walks) -------------------

#: (SQL metric key, node class suffix or "" for any) -> benchmark counter
_PLAN_METRICS = {
    ("filesSize", "ScanExec"): "scan_bytes",
    ("numOutputRows", "ScanExec"): "scan_rows",
    ("numFiles", "ScanExec"): "files_read",
    ("shuffleBytesWritten", ""): "shuffle_write_bytes",
    ("shuffleRecordsWritten", ""): "shuffle_records",
    ("spillSize", ""): "spill_bytes",
    ("peakMemory", ""): "peak_mem_bytes",
    ("pythonTotalTime", ""): "python_udf_ms",
    ("pythonDataSent", ""): "python_data_bytes",
    ("pythonDataReceived", ""): "python_data_bytes",
}
PLAN_COUNTERS = sorted(set(_PLAN_METRICS.values()))


def catalyst_phases(df) -> dict[str, float]:
    """``QueryPlanningTracker`` phase durations (ms) of ``df``'s execution."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def force_executed_plan(df) -> None:
    """Run Catalyst to the physical plan without executing it; the later
    action reuses the same ``QueryExecution``."""
    df._jdf.queryExecution().executedPlan()


def plan_metrics(df) -> dict[str, float]:
    """Sum the SQL metrics of ``df``'s final executed plan, walking through
    ``AdaptiveSparkPlanExec`` and every query stage's plan."""
    out = dict.fromkeys(PLAN_COUNTERS, 0.0)
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = kv._1()
            for (metric, suffix), counter in _PLAN_METRICS.items():
                if metric == key and cls.endswith(suffix):
                    out[counter] += kv._2().value()
        for seq in (node.children(), node.subqueries()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
    return out


# -- Spark event log ---------------------------------------------------

TASK_COUNTERS = ("executor_run_ms", "executor_cpu_ms", "gc_ms",
                 "scheduler_delay_ms", "shuffle_fetch_wait_ms", "tasks")


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs (submission time in seconds, stage ids) and per-stage task
    totals from the application's event log, which Spark finishes writing
    on ``SparkContext.stop()``."""
    jobs: list[dict] = []
    stages: dict[int, dict] = defaultdict(lambda: dict.fromkeys(TASK_COUNTERS, 0.0))
    # rolling logs (the Spark 4 default) are a directory of events_* files
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths) or glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"submitted": ev["Submission Time"] / 1000.0,
                                 "stages": ev["Stage IDs"]})
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    info, m = ev["Task Info"], ev["Task Metrics"]
                    st = stages[ev["Stage ID"]]
                    run_ms = m["Executor Run Time"]
                    duration = info["Finish Time"] - info["Launch Time"]
                    st["tasks"] += 1
                    st["executor_run_ms"] += run_ms
                    st["executor_cpu_ms"] += m["Executor CPU Time"] / 1e6
                    st["gc_ms"] += m["JVM GC Time"]
                    st["shuffle_fetch_wait_ms"] += m["Shuffle Read Metrics"]["Fetch Wait Time"]
                    # the Spark UI's definition of scheduler delay
                    st["scheduler_delay_ms"] += max(0, duration - run_ms
                                                    - m["Executor Deserialize Time"]
                                                    - m["Result Serialization Time"]
                                                    - info.get("Getting Result Time", 0))
    return jobs, stages


# -- process memory and host drift -------------------------------------

def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task, encoding="ascii") as fh:
                out += [int(k) for k in fh.read().split()]
        except OSError:
            continue
    return out


#: seconds between two RSS samples
RSS_INTERVAL_S = 0.2


class RssSampler:
    """Peak resident memory of this process plus its direct children (the
    Spark JVM), sampled from ``/proc``.  The JVM's short-lived Python
    workers are left out: how many are alive at a sample is timing."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *_children(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def cpu_probe_s() -> float:
    """Seconds for a fixed single-threaded integer loop; its ratio between
    runs shows how fast this host was at the time."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def cpu_steal_s() -> float:
    """Seconds the hypervisor ran other guests on this machine's CPUs (all
    CPUs summed, since boot), from ``/proc/stat``; 0 where not reported."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0
