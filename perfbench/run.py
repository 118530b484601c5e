"""Benchmark entry point.  Run from the root of a source checkout:

    python3 perfbench/run.py --workload tpch_flight_sf0.1 --seed 1 --seconds 8 --trace 0

One process starts Spark at ``local[N]`` (N = CPUs this process may use,
also exported as ``SPARK_GRAFT_CPUS``), generates the workload's inputs
from ``--seed``, and runs one closed-loop client: the next operation
starts when the previous one returns.  Set-up (session start, input
generation, the engine's set-up repeated ``SETUP_REPS`` times with the
median kept, and the workload's warm-up passes that fill codegen, the JIT and
the engine's caches) is timed as ``setup_s``; then whole passes run until
``--seconds`` have elapsed, and at least ``MIN_PASSES`` of them.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs untraced
and traced passes in groups of four (untraced, traced, traced, untraced),
enables the Spark event log, and prints the
per-layer metrics (see README.md).  The last stdout line is one JSON
object; a self-describing artifact with every sample and span is written
under ``.perfbench_out/``.  Everything the run writes stays inside the
checkout and is removed on exit, except that artifact.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

import measure
from measure import Tracer

SETUP_REPS = 3
#: measured passes a run holds at least, so that one slow pass on a slow
#: host does not stand alone as the run's sweep_s
MIN_PASSES = 2
#: samples beyond the reported tail percentile (a run holds 18 to 30
#: operations, so more would put the "tail" at or below the median)
TAIL_BEYOND = 5
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above
    it: (value, percentile, samples beyond).  With too few samples, the
    maximum and how many lie beyond it (zero)."""
    v = sorted(values)
    k = len(v) - TAIL_BEYOND
    if k < 1:
        return v[-1], 100.0, 0
    return v[k - 1], 100.0 * k / len(v), TAIL_BEYOND


def median_pass_s(passes: list[dict]) -> float:
    """Median over ``passes`` of one pass's summed operation latencies."""
    return statistics.median(p["seconds"] for p in passes)


def source_digest() -> str:
    """md5 over the engine's sources, identifying the code measured even
    where the checkout carries no git metadata."""
    h = hashlib.md5()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, "ballista_spark")):
        paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool) -> None:
        self.workload_name, self.seed, self.seconds, self.trace = workload, seed, seconds, traced
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.tracer = Tracer()
        self.records: list[dict] = []
        self.setup_times: dict[str, list[float]] = defaultdict(list)
        self.load_table_calls: dict[int | None, int] = defaultdict(int)
        self._record: dict | None = None
        self.e2e_units, self.layer_units = metric_units()

    # -- hooks the workloads call ------------------------------------
    @contextmanager
    def setup_timer(self, name: str):
        """Time one set-up step (set-up runs untraced)."""
        t0 = time.perf_counter()
        yield
        self.setup_times[name].append(time.perf_counter() - t0)

    def record_plan(self, df) -> None:
        """Catalyst phases and executed-plan SQL metrics of the current op."""
        self._record["phases"] = measure.catalyst_phases(df)
        self._record["plan"] = measure.plan_metrics(df)

    def _stop_spark(self) -> None:
        """Stop Spark and wait for its JVM, which exits when its stdin closes."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    # -- environment ---------------------------------------------------
    def _environment(self) -> dict:
        """Keep every file Spark, the JVM and Python write inside the checkout."""
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=local, TZ="UTC",
                          SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
                          JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        time.tzset()
        tempfile.tempdir = tmp
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            # a pre-touched fixed-size heap: peak RSS then moves with native,
            # off-heap and Python memory, not with when GC grew the heap
            "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_dir,
                         "spark.eventLog.compress": "false"})
        return conf

    def _count_load_table_calls(self) -> None:
        """Wrap the registry's public table loader before the query modules
        bind it, so traced passes count and span every table load."""
        from ballista_spark.sources import registry

        load = registry.load_table

        def load_table(*a, **kw):
            if self.tracer.enabled:
                self.load_table_calls[self.tracer.op_id] += 1
            with self.tracer.span("registry.load_table", "registry"):
                return load(*a, **kw)

        registry.load_table = load_table

    # -- the closed loop -------------------------------------------------
    def run_pass(self, wl, index: int, traced: bool) -> dict:
        rng = np.random.default_rng([self.seed, index])
        self.tracer.enabled = traced
        total = 0.0
        for op in wl.operations(rng):
            rec = {"op": len(self.records), "pass": index, "name": str(op.name),
                   "traced": traced, "error": None}
            self.records.append(rec)
            self._record = rec
            self.tracer.op_id = rec["op"]
            rec["start"] = time.time()
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"op.{op.name}", "bench"):
                    answer = op.run()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                rec["error"] = f"raised {type(exc).__name__}: {exc}"[:500]
                traceback.print_exc(file=sys.stderr)
            rec["latency_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            total += rec["latency_s"]
            if rec["error"] is None:
                try:
                    rec["error"] = op.check(answer)
                except Exception as exc:  # noqa: BLE001 - a failed check is a wrong answer
                    rec["error"] = f"check raised {type(exc).__name__}: {exc}"[:500]
            rec["counters"] = dict(op.counters)
            if rec["error"]:
                print(f"perfbench: {op.name} failed: {rec['error']}", file=sys.stderr)
        self.tracer.enabled = False
        self.tracer.op_id = None
        wl.end_pass(traced)
        return {"index": index, "traced": traced, "seconds": total}

    def run(self) -> dict:
        from workloads import WORKLOADS

        art: dict = {"workload": self.workload_name, "seed": self.seed,
                     "seconds": self.seconds, "trace": int(self.trace),
                     "git_commit": git_commit(), "source_md5": source_digest(),
                     "nproc": len(os.sched_getaffinity(0)),
                     "loadavg_before": list(os.getloadavg()),
                     "cpu_probe_before_s": measure.cpu_probe_s()}
        steal_before = measure.cpu_steal_s()
        conf = self._environment()
        with measure.RssSampler() as rss:
            t0 = time.perf_counter()
            from ballista_spark.session import default_parallelism, get_spark

            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
            get_spark_s = time.perf_counter() - t0
            try:
                if self.trace:
                    self._count_load_table_calls()
                sc = self.spark.sparkContext
                import duckdb
                import pyarrow
                import pyspark

                art.update(cpus=default_parallelism(), master=sc.master,
                           versions={"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                                     "duckdb": duckdb.__version__,
                                     "java": sc._jvm.System.getProperty("java.version")})
                wl = WORKLOADS[self.workload_name](self)
                try:
                    t0 = time.perf_counter()
                    wl.generate()
                    generate_s = time.perf_counter() - t0
                    reps = []
                    for rep in range(SETUP_REPS):
                        t0 = time.perf_counter()
                        wl.setup(rep)
                        reps.append(time.perf_counter() - t0)
                    wl.prepare()
                    self_test_error = None
                    try:
                        wl.self_test()
                    except AssertionError as exc:
                        self_test_error = str(exc)
                        print(f"perfbench: checker self-test failed: {exc}", file=sys.stderr)
                    # a traced run warms once more, so that its untraced and
                    # traced passes are equally warm for trace.overhead_s
                    warmup = wl.warmup_passes + self.trace
                    t0 = time.perf_counter()
                    for i in range(warmup):
                        self.run_pass(wl, i, False)
                    warm_s = time.perf_counter() - t0
                    passes, start = [], time.perf_counter()
                    while True:
                        # traced runs go untraced, traced, traced, untraced, so
                        # that passes still speeding up favour neither half
                        n = len(passes)
                        traced = self.trace and n % 4 in (1, 2)
                        passes.append(self.run_pass(wl, warmup + n, traced))
                        done = (time.perf_counter() - start >= self.seconds
                                and len(passes) >= MIN_PASSES)
                        if done and (not self.trace or len(passes) % 4 == 0):
                            break
                    counters = wl.layer_counters() if self.trace else {}
                finally:
                    wl.close()
            finally:
                self._stop_spark()
        art.update(loadavg_after=list(os.getloadavg()), cpu_probe_after_s=measure.cpu_probe_s(),
                   cpu_steal_s=measure.cpu_steal_s() - steal_before,
                   get_spark_s=get_spark_s, generate_s=generate_s, setup_reps_s=reps,
                   warmup_s=warm_s,
                   passes=passes, self_test_error=self_test_error)
        setup_s = get_spark_s + generate_s + statistics.median(reps) + warm_s
        measured = [r for r in self.records if r["pass"] >= warmup]
        attempted = len(self.records)
        failed = sum(bool(r["error"]) for r in self.records)
        art.update(attempted=attempted, failed=failed,
                   correct=failed == 0 and self_test_error is None, ops=self.records)
        if self.trace:
            metrics = self.layer_metrics(passes, counters, get_spark_s)
            art["spans"] = self.tracer.spans
        else:
            lat = [r["latency_s"] for r in measured]
            tail_s, tail_pct, beyond = tail(lat)
            art["latency_tail"] = {"percentile": tail_pct, "samples": len(lat),
                                   "samples_beyond": beyond}
            metrics = {
                "setup_s": setup_s,
                "sweep_s": median_pass_s(passes),
                "latency_p50_s": statistics.median(lat),
                "latency_tail_s": tail_s,
                "peak_rss_mb": rss.peak_kb / 1024.0,
            }
            art["error_rate"] = failed / attempted
        units = self.layer_units if self.trace else self.e2e_units
        art["metrics"] = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
        return art

    # -- per-layer metrics (traced runs) --------------------------------
    def layer_metrics(self, passes: list[dict], counters: dict, get_spark_s: float) -> dict:
        jobs, stages = measure.read_event_log(self.event_dir)
        traced = [p["index"] for p in passes if p["traced"]]
        by_pass: dict[int, dict[str, float]] = {i: defaultdict(float) for i in traced}
        spans = self.tracer.spans
        for rec in self.records:
            if not rec["traced"]:
                continue
            acc = by_pass[rec["pass"]]
            op = rec["op"]
            own = [s for s in spans if s["op"] == op]
            builds = [(s["start"], s["end"]) for s in own if s["name"] == "queries.build"]
            for s in own:
                acc[s["name"] + "_s"] += s["end"] - s["start"]
            for name in ("exec.collect", "queries.build"):
                acc[f"{name}_s.{rec['name']}"] += sum(
                    s["end"] - s["start"] for s in own if s["name"] == name)
            for k, v in rec.get("phases", {}).items():
                acc[f"plans.{k}_ms"] += v
            for k, v in rec.get("plan", {}).items():
                acc[f"exec.{k}"] += v
            for k, v in rec["counters"].items():
                acc[f"flight.{k}"] += v
            acc["registry.load_table_calls"] += self.load_table_calls.get(op, 0)
            op_jobs = [j for j in jobs if rec["start"] <= j["submitted"] <= rec["end"]]
            op_stages = {s for j in op_jobs for s in j["stages"] if s in stages}
            n_build = sum(any(a <= j["submitted"] <= b for a, b in builds) for j in op_jobs)
            acc["queries.build_jobs"] += n_build
            acc["exec.jobs"] += len(op_jobs) - n_build
            acc["exec.stages"] += len(op_stages)
            for sid in op_stages:
                for k, v in stages[sid].items():
                    acc[f"exec.{k}"] += v
            for layer, v in self.tracer.self_times({op}).items():
                acc[f"self_s.{layer}"] += v
        names = set().union(*(a.keys() for a in by_pass.values()))
        med = {n: statistics.median(by_pass[i].get(n, 0.0) for i in traced) for n in names}
        m = {
            "session.get_spark_s": get_spark_s,
            "registry.register_s": statistics.median(self.setup_times["registry.register"] or [0.0]),
            "trace.overhead_s": median_pass_s([p for p in passes if p["traced"]])
            - median_pass_s([p for p in passes if not p["traced"]]),
        }
        if med.get("flight.do_get_s"):
            m["flight.transfer_mb_s"] = med["flight.bytes"] / 1e6 / med["flight.do_get_s"]
        for name in self.layer_units:
            if name not in m:
                m[name] = counters.get(name, med.get(name, 0.0))
        return m


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "ballista_spark", "__init__.py")):
        print(f"perfbench: no engine sources (ballista_spark/) under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its files (finally blocks)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        with contextlib.redirect_stdout(sys.stderr):
            art = bench.run()
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(bench.work))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"),
              "w", encoding="utf-8") as fh:
        json.dump(art, fh, default=str)
    print(json.dumps({"correct": art["correct"], "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": art["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
