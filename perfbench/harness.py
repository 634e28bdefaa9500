"""Closed-loop harness shared by every workload: session set-up, the timed
window, memory sampling, provenance and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

SESSION_STARTS = 3
# Reading smaps_rollup of the driver JVM costs ~12 ms of CPU in this
# process; sampled once a second it stays out of the operations' way.
MEM_SAMPLE_S = 1.0
# Everything else is the package's own session default (get_spark).
SESSION_CONF = {"spark.ui.showConsoleProgress": "false"}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure_env(root: str, tmp: str) -> dict:
    """Session settings applied from outside the package, before any JVM
    starts: one Spark core per CPU of this process (``get_spark`` defaults
    to 32), the repository root on the Python workers' path, and every
    temporary and Spark scratch file under ``tmp``."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "PYTHONPATH": "<repository root>",
        "TMPDIR, SPARK_LOCAL_DIRS, java.io.tmpdir": "<run scratch directory>",
        "extra_conf": SESSION_CONF,
    }


def stamp() -> dict:
    """Machine provenance: CPU count, load average and a ~40 MB fresh-page
    allocate+copy probe (slow probes flag a degraded host)."""
    import numpy as np

    out = {"nproc": len(os.sched_getaffinity(0))}
    try:
        parts = open("/proc/loadavg").read().split()
        out["load1"], out["load5"] = float(parts[0]), float(parts[1])
    except OSError:
        pass
    t0 = time.perf_counter()
    a = np.empty(5_000_000)
    a[:] = 1.0
    b = np.empty((1_250_000, 4))
    for k in range(4):
        b[:, k] = a[:1_250_000]
    out["probe_sec"] = round(time.perf_counter() - t0, 4)
    out["steal_s"] = steal_s()
    return out


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class MemSampler(threading.Thread):
    """Peak memory of this process and all its descendants (the Spark
    driver JVM and the Python workers), sampled every MEM_SAMPLE_S."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._window_kb = 0
        self._stop_evt = threading.Event()

    def take(self) -> int:
        """Peak since the previous take (one operation's peak)."""
        kb, self._window_kb = self._window_kb, 0
        return kb

    @staticmethod
    def tree_cpu_s(root_pid: int | None = None) -> float:
        """User+system CPU seconds of this process tree (live processes)."""
        root_pid = root_pid or os.getpid()
        tick = os.sysconf("SC_CLK_TCK")
        children: dict[int, list[int]] = {}
        cpu: dict[int, float] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            children.setdefault(int(fields[1]), []).append(int(name))
            cpu[int(name)] = (int(fields[11]) + int(fields[12])) / tick
        total, todo = 0.0, [root_pid]
        while todo:
            pid = todo.pop()
            total += cpu.get(pid, 0.0)
            todo.extend(children.get(pid, []))
        return total

    @staticmethod
    def _tree_kb(root_pid: int) -> int:
        """Proportional set size (shared pages split between their users,
        so forked Python workers are not counted once each) of the tree."""
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [root_pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except (OSError, ValueError):
                continue
        return total

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            kb = self._tree_kb(me)
            self.peak_kb = max(self.peak_kb, kb)
            self._window_kb = max(self._window_kb, kb)
            self._stop_evt.wait(MEM_SAMPLE_S)

    def stop(self):
        self._stop_evt.set()
        self.join()


def start_session():
    from oco3_data_transformer_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=SESSION_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the context is usable, not just constructed
    return spark


def start_sessions(n: int = SESSION_STARTS):
    """Start the session n times (stop between); the first start also
    launches the JVM.  Returns the live session and every start time."""
    times, spark = [], None
    for i in range(n):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session()
        times.append(time.perf_counter() - t0)
    return spark, times


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def pct(values: list[float], q: float) -> float:
    s = sorted(values)
    if not s:
        return 0.0
    k = (len(s) - 1) * q
    lo, hi = int(k), min(int(k) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def run_window(wl, seconds: float, traced: bool, mem: MemSampler, tracer=None,
               start: int = 0):
    """Closed loop: one client issues operations back to back until the
    window closes (at least ``wl.MIN_OPS`` of them, whole passes only).
    Input preparation per operation is untimed."""
    samples = []
    t_end = time.perf_counter() + seconds
    i = start
    while not (time.perf_counter() >= t_end and i - start >= wl.MIN_OPS and wl.pass_done(i)):
        inp = wl.next_input(i)
        wl.spark.catalog.clearCache()
        ok, err, out = True, None, None
        mem.take()
        cpu0, steal0 = mem.tree_cpu_s(), steal_s()
        t0 = time.perf_counter()
        try:
            out = wl.traced_op(inp, tracer) if traced else wl.op(inp)
        except Exception as e:  # a failing operation counts, the loop goes on
            ok, err = False, f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        lat = time.perf_counter() - t0
        peak_kb = mem.take()
        cpu_s, steal = mem.tree_cpu_s() - cpu0, steal_s() - steal0
        if ok:
            problems = wl.verify(inp, out)
            if problems:
                ok, err = False, "; ".join(problems)
        if err:
            _log(f"op {i} failed: {err[:500]}")
        samples.append({"i": i, "key": wl.key(inp), "latency_s": lat,
                        "units": wl.units(inp), "ok": ok, "error": err, "traced": traced,
                        "peak_pss_kb": peak_kb, "cpu_s": cpu_s, "steal_s": steal})
        i += 1
    return samples


def end_to_end(samples: list[dict], setup_s: float) -> tuple[dict, float]:
    """A pass is one of each of the workload's listed operations (one day,
    or every listed query once).  Each operation's latency, CPU and units
    are its medians over the run; the pass sums them.  Returns the metrics
    and the units of one pass."""
    by_key: dict[str, list[dict]] = {}
    for s in [s for s in samples if s["ok"]] or samples:
        by_key.setdefault(s["key"], []).append(s)

    def per_pass(field: str) -> float:
        return sum(statistics.median(s[field] for s in ss) for ss in by_key.values())

    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": per_pass("latency_s"), "unit": "s"},
        "pass_cpu_s": {"value": per_pass("cpu_s"), "unit": "s"},
    }, per_pass("units")


def main(root: str, workload: str, seed: int, seconds: float, trace: bool) -> int:
    work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = configure_env(root, os.path.join(work, "tmp"))
    from perfbench.workloads import workloads

    WORKLOADS = workloads()
    if workload not in WORKLOADS:
        _log(f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)}")
        shutil.rmtree(work, ignore_errors=True)
        return 2
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    detail = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "session": env, "stamp_before": stamp()}
    mem = MemSampler()
    mem.start()
    spark = None
    extra_ops, problems = 0, []
    try:
        spark, starts = start_sessions()
        wl = WORKLOADS[workload](spark, seed, work, trace)
        t0 = time.perf_counter()
        detail["fixture"] = wl.prepare()
        detail["fixture_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t0
        setup_s = statistics.median(starts) + warm_s
        detail.update(session_start_s=starts, warmup_s=warm_s, setup_s=setup_s)

        if trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark, f"{workload}-{seed}")
            try:
                extra_ops = wl.traced_extra(tracer)
            except Exception as e:
                extra_ops = 1
                problems.append(f"traced extra operation: {type(e).__name__}: {e}")
                traceback.print_exc(file=sys.stderr)
            # the traced operation costs several untraced ones: one pass
            # of each kind keeps the traced run inside the time limit
            wl.MIN_OPS = wl.pass_size()
            base = (run_window(wl, seconds / 2, traced=False, mem=mem)
                    if wl.TRACE_BASE else [])
            traced = run_window(wl, seconds / 2, traced=True, mem=mem, tracer=tracer,
                                start=len(base))
            samples = base + traced
            metrics = wl.layer_metrics(tracer)
            metrics["session.start_s"] = statistics.median(starts)
            if base:
                metrics["trace.overhead"] = (statistics.median(s["latency_s"] for s in traced)
                                             / statistics.median(s["latency_s"] for s in base))
            else:  # against the traced operation's own untraced steps
                metrics["trace.overhead"] = statistics.median(
                    op["latency_s"] / op["untraced_s"] for op in tracer.ops)
            detail["spans"] = tracer.spans
        else:
            samples = run_window(wl, seconds, traced=False, mem=mem)
        t0 = time.perf_counter()
        problems.extend(wl.final_check())
        detail["check_s"] = time.perf_counter() - t0
    finally:
        shutdown(spark)
        mem.stop()
        shutil.rmtree(work, ignore_errors=True)

    lat = [s["latency_s"] for s in samples if not s["traced"]]
    detail.update(
        samples=samples, problems=problems, stamp_after=stamp(), peak_pss_run_mb=mem.peak_kb / 1024,
        peak_pss_mb=max(s["peak_pss_kb"] for s in samples) / 1024,
        tail={"n": len(lat), "op_s_p90": pct(lat, 0.9), "op_s_p99": pct(lat, 0.99)},
        workload_detail=wl.detail(),
    )
    attempted = len(samples) + extra_ops
    failed = min(attempted, sum(1 for s in samples if not s["ok"]) + len(problems))
    correct = failed == 0
    if trace:
        from perfbench.trace import PER_LAYER

        out_metrics = {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
                       for name, unit in PER_LAYER}
        detail["per_layer_extra"] = {k: v for k, v in metrics.items()
                                     if k not in dict(PER_LAYER)}
    else:
        out_metrics, detail["units_per_pass"] = end_to_end(samples, setup_s)
    detail["metrics"] = out_metrics
    with open(os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for p in problems:
        _log(f"check failed: {p}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0 if correct else 1
