#!/usr/bin/env python3
# -*- coding: utf-8 -*-
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload crawl_pages --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates the workload's inputs
from the seed (cached under ``.bench_cache/``, outside every timed
window), starts a ``local[N]`` session with N = the usable cores (at most
4), and then:

* ``--trace 0``: sets up SETUP_REPS times (gazetteer index build or
  corpus load; the first also starts the JVM and the session), makes the
  workload's untimed warm-up calls, then calls the workload in a closed
  loop, one call at a time, while the next call is expected to end
  within ``--seconds`` (at least the workload's ``min_iters`` calls).
  ``cpu_s`` is the median call's CPU seconds, ``setup_s`` the median
  set-up's; the wall times are in the run report. Every call's output,
  the warm-ups' too, is checked against values known by construction,
  outside the timed window.
* ``--trace 1``: one cold setup with the Spark event log on, the warm-up
  calls, one untraced call (the baseline of ``trace_overhead_frac``),
  then one traced call that invokes each layer's public function in turn
  inside a span. Task metrics from the event log are attributed to the
  spans; the per-layer metrics and the span JSON are written under
  ``.bench_cache/traces/``.

Metric names and units are read from ``BENCHMARK.json``; a run that
computes a metric the file does not list fails, and a layer the workload
does not run reports 0.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it is the full run report
(every call's time, check results, /proc/loadavg before and during the
run, the CPU share stolen by the hypervisor, gate values). A failed
check exits with status 1. Before anything is printed, and on every
path out, the run stops the driver JVM, the Python workers and every
other process it started, and waits until each has ended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SETUP_REPS = 3
DRIVER_MEMORY = "3g"

# per-span metrics, computed for every span whose name has them in
# BENCHMARK.json: metric -> field of the span's row
SPAN_METRICS = {"wall_s": "self_s", "cpu_s": "cpu_s", "shuffle_write_mb": "shuffle_write_mb",
                "task_p95_s": "task_p95_s", "jobs": "jobs", "rows_out": "rows_out"}


def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, for ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def check_names(metrics: dict, names: dict) -> None:
    extra, missing = sorted(set(metrics) - set(names)), sorted(set(names) - set(metrics))
    if extra or missing:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: computed but not listed {extra}, "
                           f"listed but not computed {missing}")


# ---------------------------------------------------------------------------
# host: cores, load, driver memory
# ---------------------------------------------------------------------------


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


class LoadSampler:
    """/proc/loadavg (1-minute) sampled every half second during the run,
    and the share of CPU time the hypervisor stole from this VM."""

    def __init__(self):
        self.before = self._read()
        self._cpu0 = _cpu_jiffies()
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    @staticmethod
    def _read() -> float:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])

    def _loop(self):
        while not self._stop.wait(0.5):
            self.samples.append(self._read())

    def stop(self) -> dict:
        self._stop.set()
        self._t.join()
        s = self.samples or [self.before]
        steal, total = (b - a for a, b in zip(self._cpu0, _cpu_jiffies()))
        return {"before": self.before, "max": max(s), "mean": sum(s) / len(s), "samples": len(s),
                "steal_frac": steal / max(total, 1)}


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, None if it is gone."""
    try:
        with open(path) as f:
            head, rest = f.read().rsplit(")", 1)
    except (OSError, ValueError):
        return None
    return head.split("(", 1)[1], rest.split()


def descendants() -> dict[int, tuple[str, list[str]]]:
    """pid -> (comm, stat fields after comm) of every process descended
    from this one."""
    table = {}
    for p in os.listdir("/proc"):
        st = _stat(f"/proc/{p}/stat") if p.isdigit() else None
        if st is not None:
            table[int(p)] = st
    me, out = os.getpid(), {}
    for pid, st in table.items():
        q = pid
        while q > 1 and q != me:
            q = int(table[q][1][1]) if q in table else 0
        if q == me and pid != me:
            out[pid] = st
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    this process and its descendants, the driver JVM and the Python
    workers, less the JVM's JIT compiler threads. Unlike wall time, this
    leaves out time the hypervisor stole; JIT compilation is left out
    because a fresh JVM spends most of its first minute compiling, which a
    long-running driver does not."""
    total = sum(int(x) for x in _stat("/proc/self/stat")[1][11:15])  # utime stime cutime cstime
    for pid, (comm, fields) in descendants().items():
        total += sum(int(x) for x in fields[11:15])
        if comm == "java":
            for tid in os.listdir(f"/proc/{pid}/task"):
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st is not None and "CompilerThre" in st[0]:
                    total -= sum(int(x) for x in st[1][11:13])
    return total / os.sysconf("SC_CLK_TCK")


def become_subreaper() -> None:
    """Orphaned descendants (the Python worker daemon, once the JVM that
    forked it has exited) are re-parented to this process, so that
    ``stop_all`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_all(grace_s: float = 20.0) -> None:
    """Stops the Spark session and the driver JVM, then every other process
    this one started, and waits until each has ended. Safe to call on any
    path out of the run, with or without a session."""
    import signal

    sc_mod = sys.modules.get("pyspark.core.context") or sys.modules.get("pyspark.context")
    SparkContext = getattr(sc_mod, "SparkContext", None)
    if SparkContext is not None:
        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception:
                traceback.print_exc(file=sys.stderr)
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()  # the JVM exits on EOF on its stdin
            except OSError:
                pass
            try:
                proc.wait(grace_s)
            except Exception:
                pass
        SparkContext._gateway = SparkContext._jvm = None
    # whatever is left: TERM, then KILL after the grace period; reap
    # every child (re-parented orphans included) until none is left
    deadline, sig = time.monotonic() + grace_s, signal.SIGTERM
    while True:
        left = [pid for pid, (_, f) in descendants().items() if f[0] != "Z"]
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            if not left:
                return
        if not left and not descendants():
            return
        if time.monotonic() > deadline:
            if sig == signal.SIGKILL and time.monotonic() > deadline + grace_s:
                print(f"perfbench: processes {left} outlived SIGKILL", file=sys.stderr)
                return
            sig = signal.SIGKILL
        time.sleep(0.05)


def reset_peak_rss() -> None:
    try:  # "5" resets VmHWM (Linux >= 4.0)
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_session(event_log_dir: str | None):
    from nominatimwrapper_spark.session import get_spark

    local = os.path.join(os.getcwd(), ".bench_cache", "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
        # compiler threads that outlive the run, so tree_cpu_s can leave
        # their time out
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={local} -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    spark = get_spark(master=f"local[{cores()}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# one call, checked
# ---------------------------------------------------------------------------


class Calls:
    """Counts attempted and failed calls; a call fails if it raises or if
    its output check reports a mismatch."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.details: list[dict] = []
        self.cpu: list[float] = []

    def one(self, spark, traced=None) -> tuple[float, object]:
        """Returns (seconds, output); seconds covers only the call itself,
        whose CPU seconds are appended to ``self.cpu``."""
        self.attempted += 1
        try:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            out = self.wl.run(spark) if traced is None else self.wl.traced(spark, traced)
            dt = time.perf_counter() - t0
            self.cpu.append(tree_cpu_s() - c0)
            errs = self.wl.check(out)
            self.details.append(self.wl.detail(out))
        except Exception:  # counted, reported, and the run goes on
            dt, out, errs = float("nan"), None, [traceback.format_exc(limit=3)]
        if errs:
            self.failed += 1
            self.errors.extend(errs[:3])
        return dt, out


def median(xs):
    xs = [x for x in xs if x == x]
    return statistics.median(xs) if xs else float("nan")


def run_untraced(wl_cls, d, seconds: float, report: dict):
    """SETUP_REPS set-ups, the warm-up calls, then the closed loop."""
    # The first set-up starts the JVM and the session; the later ones
    # repeat the workload's set-up in that session after dropping every
    # cached table. A stopped and restarted SparkContext in one Python
    # process loses its Python accumulator, and every later Python task
    # logs the failed update.
    setups, setup_cpu, wl, spark = [], [], None, None
    for _ in range(SETUP_REPS):
        if spark is not None:
            wl.cleanup()
            spark.catalog.clearCache()
        wl = wl_cls(d)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        spark = spark or start_session(None)
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)
        setup_cpu.append(tree_cpu_s() - c0)
    calls = Calls(wl)
    warm = [calls.one(spark)[0] for _ in range(wl.warmup_calls)]
    warm_cpu = list(calls.cpu)
    # timed loop: stop before a call would end after ``seconds``
    calls.cpu.clear()
    walls = []
    t0 = time.perf_counter()
    while len(walls) < wl.min_iters or time.perf_counter() - t0 + median(walls) <= seconds:
        walls.append(calls.one(spark)[0])
    wl.cleanup()
    spark.stop()
    wall = median(walls)
    report.update(setup_wall_s_all=setups, setup_cpu_s_all=setup_cpu, warmup_s=warm, warmup_cpu_s=warm_cpu,
                  wall_s_all=walls, cpu_s_all=calls.cpu, rows=wl.rows,
                  wall_s=wall, throughput_rows_per_s=wl.rows / wall,
                  details={k: median([x.get(k, float("nan")) for x in calls.details])
                           for k in (calls.details[0] if calls.details else {})})
    # only the first set-up starts the JVM and the session, so the median
    # normally leaves that start out: the cold set-up is setup_cpu_s_all[0]
    # in the report, and session.start_s in the traced run
    metrics = {
        "cpu_s": median(calls.cpu),
        "setup_s": median(setup_cpu),
        "driver_peak_rss_mb": peak_rss_mb(),
    }
    check_names(metrics, declared("end_to_end"))
    return calls, metrics


def run_traced(wl_cls, d, seconds: float, report: dict, trace_dir: str):
    from spans import Tracer, task_table
    from workloads import gates

    log_dir = os.path.join(trace_dir, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    t0 = time.perf_counter()
    spark = start_session(log_dir)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext)
    wl = wl_cls(d)
    wl.setup(spark, tracer)
    calls = Calls(wl)
    # warm-up calls, then the untraced baseline
    walls = [calls.one(spark)[0] for _ in range(wl.warmup_calls + 1)]
    t_traced, out = calls.one(spark, traced=tracer)
    counts = wl.layer_counts(spark, out) if out is not None else {}
    wl.cleanup()
    spark.stop()

    names = declared("per_layer")
    span_keys = [k for k in names if k.rpartition(".")[2] in SPAN_METRICS]
    layer_spans = {k.rpartition(".")[0] for k in span_keys}
    tasks = task_table(log_dir, tracer.spans)
    self_t = tracer.self_times()
    metrics: dict[str, float] = {k: 0.0 for k in span_keys}
    table = []
    for s in tracer.spans:
        row = {"span": s["name"], "id": s["id"], "parent": s["parent"], "start": s["start"],
               "end": s["end"], "self_s": self_t[s["id"]], **tasks[s["id"]], **s["counts"]}
        table.append(row)
        if s["name"] in layer_spans:
            for m, field in SPAN_METRICS.items():
                key = f"{s['name']}.{m}"
                if key in metrics:
                    metrics[key] += row.get(field, 0)
    metrics.update(counts)
    lsh = metrics.get("dedup.minhash_lsh_candidates.rows_out", 0)
    if lsh:
        metrics["dedup.verify_yield"] = metrics["dedup.minhash_verified_pairs.rows_out"] / lsh
    metrics["spark.failed_tasks"] = sum(t["failed_tasks"] for t in tasks.values())
    # the traced spans that mirror the untraced call, against that call
    untraced = walls[-1]
    mirror = wl.mirror_s if wl.mirror_s is not None else t_traced
    metrics["trace_overhead_frac"] = (mirror - untraced) / untraced
    metrics["session.start_s"] = session_s
    for k in names:  # layers this workload does not run
        metrics.setdefault(k, 0.0)
    check_names(metrics, names)

    report.update(untraced_wall_s_all=walls, traced_wall_s=t_traced, mirror_s=mirror, rows=wl.rows,
                  unattributed=tasks["unattributed"],
                  gates={k: {"gate": g, "measured": counts[k], "threshold": th,
                             "side": "below" if counts[k] <= th else "above"}
                         for k, (g, th) in gates().items() if k in counts},
                  counts=counts)
    with open(os.path.join(trace_dir, "spans.json"), "w") as f:
        json.dump({"workload": wl.name, "spans": table}, f, indent=1, default=float)
    return calls, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    # the engine is imported from the checkout this script lives in
    sys.path.insert(1, ROOT)
    try:
        import nominatimwrapper_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the repository root",
              file=sys.stderr)
        return 2
    from gen import SIZES, ensure_inputs
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cache = os.path.join(os.getcwd(), ".bench_cache")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None

    become_subreaper()
    try:
        t0 = time.perf_counter()
        d, gen_info = ensure_inputs(a.workload, a.seed)
        gen_s = time.perf_counter() - t0
        reset_peak_rss()
        load = LoadSampler()
        report = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores(),
                  "driver_memory": DRIVER_MEMORY, "size": SIZES[a.workload], "inputs": gen_info,
                  "generate_s": gen_s}
        wl_cls = WORKLOADS[a.workload]
        if a.trace:
            trace_dir = os.path.join(cache, "traces", f"{a.workload}-s{a.seed}")
            os.makedirs(trace_dir, exist_ok=True)
            calls, metrics = run_traced(wl_cls, d, a.seconds, report, trace_dir)
            units = declared("per_layer")
        else:
            calls, metrics = run_untraced(wl_cls, d, a.seconds, report)
            units = declared("end_to_end")
        report["loadavg"] = load.stop()
    finally:
        stop_all()
    report["errors"] = calls.errors
    report["failed_frac"] = calls.failed / max(calls.attempted, 1)
    result = {
        "correct": calls.failed == 0,
        "attempted": calls.attempted,
        "failed": calls.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    results = os.path.join(cache, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"report": report, "result": result}, f, indent=1, default=float)
    print(json.dumps(report, default=float))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
