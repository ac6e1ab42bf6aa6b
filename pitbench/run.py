#!/usr/bin/env python3
"""Fixed-work benchmark of the feast_spark engine.

Usage (from the repository root):

    python3 pitbench/run.py --workload offline|online --seed N \
        --seconds S --trace 0|1

One run: start a Spark session, generate the workload's inputs from the
seed (untimed), build the starting state several times (set-up), run the
workload's fixed operation sequence, check every output against answers
recomputed in DuckDB/numpy, and print

- a detail record (one JSON line: sample counts, medians, quartiles,
  tail percentiles, the planner's strategies, failures by kind, the
  host-noise control), then
- as the last line, ``{"correct", "attempted", "failed", "metrics"}``:
  the end-to-end metrics with ``--trace 0``, the per-layer metrics of
  the traced pass with ``--trace 1``.

``--seconds`` is the run length BENCHMARK.json declares; the work done
is a fixed operation count, sized so that a run measures about that long
on a 4-core host, never a time-bounded loop. Work files live under
``pitbench/.work`` and are deleted on exit; the trace of a traced run is
written to ``pitbench/.results``. LAYERS.md maps each per-layer metric to
the end-to-end metric it should move.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILDS = 3  # set-up repetitions; setup_s uses their median
DRIVER_MEM = "2g"
RUN_LIMIT_S = 170
#: the host control's median duration on a quiet 4-vCPU host; end-to-end
#: times are reported at that host speed (see LAYERS.md, "Host control")
REF_CONTROL_S = 0.09


def control_loop_s() -> float:
    """A fixed, Spark-free CPU loop: its time tells a busy host apart
    from a slow engine."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def spark_control_s(spark) -> float:
    """A fixed Spark job that uses no engine code: one 4-task stage and a
    global aggregate. Timed between operations, its median measures how
    fast the host runs Spark jobs during the run."""
    t0 = time.perf_counter()
    spark.range(0, 1 << 22, 1, 4).selectExpr("sum(xxhash64(id) % 1000)").collect()
    return time.perf_counter() - t0


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1)


def summarize(xs: list[float]) -> dict:
    """Sample count, median, quartiles, and the highest percentile that
    has at least ten samples beyond it (None below 11 samples)."""
    s = sorted(xs)
    n = len(s)
    out = {"n": n, "median": statistics.median(s) if s else None, "samples": xs}
    if n >= 2:
        q1, _, q3 = statistics.quantiles(s, n=4)
        out.update(q1=q1, q3=q3)
    if n >= 11:
        k = n - 11
        out.update(tail_pct=100.0 * (k + 1) / n, tail=s[k])
    return out


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak RSS of this driver process plus the Spark JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)


def start_spark(work: str):
    from feast_spark.session import get_spark

    os.environ["FEAST_SPARK_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    return get_spark(
        "pitbench",
        cores=min(4, os.cpu_count() or 4),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap (initial = max) keeps GC sizing from varying run to run
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, work: str) -> tuple[dict, dict]:
    from pitbench import gate
    from pitbench.workloads import WORKLOADS

    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    control = [control_loop_s()]

    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        tracer = None
        if args.trace:
            from pitbench.tracing import Tracer

            tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        t0 = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t0
        builds = []
        for i in range(BUILDS):
            t0 = time.perf_counter()
            wl.build(i)
            builds.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(os.path.join(work, f"state{i - 1}"), ignore_errors=True)
        wl.warm()
        if tracer:
            tracer.instrument()
            tracer.discard()
            tracer.enabled = True
        else:
            for _ in range(3):  # warm the control's code paths
                spark_control_s(spark)
            wl.control = lambda: spark_control_s(spark)
        t0, cpu0 = time.perf_counter(), cpu_times()
        wl.run()
        pass_s, cpu1 = time.perf_counter() - t0, cpu_times()
        if tracer:
            tracer.enabled = False
            tracer.restore()
            tracer.finish()
        t0 = time.perf_counter()
        wl.finish()
        finish_s = time.perf_counter() - t0
        rss = peak_rss_mb(spark)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t0
    control.append(control_loop_s())

    blind = gate.self_test(wl.gate_cases)
    kinds = sorted(wl.samples.keys() | wl.failed.keys())
    detail.update(wl.detail)
    detail.update({
        "session_s": session_s,
        "generate_s": generate_s,
        "builds_s": builds,
        "finish_s": finish_s,
        "stop_s": stop_s,
        "pass_s": pass_s,
        "pass_untimed_s": pass_s - sum(sum(v) for v in wl.samples.values()),
        "ops": {k: summarize([1e3 * x for x in wl.samples.get(k, [])]) for k in kinds},
        "unit": "ms",
        "failed_by_kind": wl.failed,
        "errors": wl.errors[:20],
        "gate_checks_selftested": len(wl.gate_cases),
        "gate_blind": blind,
        "control_s": control,
        "host_steal_pct": steal_pct(cpu0, cpu1),
    })

    # end-to-end times are scaled to the reference host speed: a run on a
    # host whose control ran 20% slow has its times divided by 1.2
    scale = REF_CONTROL_S / statistics.median(wl.controls) if wl.controls else 1.0
    raw = wl.metrics(1.0)
    e2e = wl.metrics(scale)
    detail["named"] = e2e.pop("detail")
    detail["raw"] = {**raw.pop("detail"), **raw, "peak_rss_mb": rss}
    detail["host_control"] = {**summarize(wl.controls), "scale": scale}
    result = {
        "correct": not wl.errors and not blind and len(wl.gate_cases) > 0,
        "attempted": wl.attempted,
        "failed": sum(wl.failed.values()),
    }
    if tracer:
        extra = {"http_overhead_ms": getattr(wl, "http_overhead_ms", 0.0)}
        layer = tracer.layer_metrics(session_s=session_s, pass_s=pass_s, extra=extra)
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layer.items()}
        out_dir = os.path.join(HERE, ".results")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"detail": detail, "metrics": layer, "spans": tracer.spans}, f, default=str)
        detail["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        e2e["setup_s"] = session_s + statistics.median(builds)
        units = {"setup_s": "s", "rows_per_s": "rows/s"}
        metrics = {k: {"value": v, "unit": units.get(k, "ms")} for k, v in e2e.items()}
    result["metrics"] = metrics
    return detail, result


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_pct"):
        return "%"
    if "bytes" in name:
        return "B"
    return "count"


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["offline", "online"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "feast_spark", "__init__.py")):
        print(f"feast_spark package not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, lambda *a: sys.exit(143))  # run the clean-up below
    signal.alarm(RUN_LIMIT_S)
    try:
        detail, result = run(args, work)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
