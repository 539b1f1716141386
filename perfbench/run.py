#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {ingest,refresh,serve} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from the seed under
``.perfbench/`` in the checkout (removed at exit); the engine runs at
its defaults except ``SPARK_GRAFT_CPUS`` = the CPUs this process may
use. The run measures a fixed number of closed-loop rounds, sized to
take about ``--seconds`` seconds, checks the outputs, prints a report
line (every end-to-end metric under its own name with unit and sample
count, plus the run record), and prints as its LAST line one JSON
object:

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` untraced and traced rounds interleave
and the metrics are the per-layer metrics plus the tracing overhead
(traced minus untraced end-to-end value). Spans of traced rounds are
written to ``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Input generation is repeated this many times per run and its median
# enters setup_s, so one slow pass does not decide the figure.
SETUP_REPEATS = 3


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["ingest", "refresh", "serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def _loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().strip()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _live_mem_mb(spark) -> dict[str, float]:
    """Memory the run still holds: the driver's resident set plus the
    JVM's heap in use after a full collection and its non-heap (code,
    metaspace) in use. Unlike peak RSS it does not depend on when the
    collector chose to grow the heap."""
    # Python first, so py4j proxies in reference cycles release their JVM
    # objects; then collections spaced out so Spark's ContextCleaner can
    # drop the broadcast and shuffle blocks the previous one made
    # unreachable.
    gc.collect()
    jvm = spark._jvm
    for _ in range(3):
        jvm.System.gc()
        time.sleep(0.5)
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    with open("/proc/self/status") as f:
        rss = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:")) / 1024
    return {
        "driver_rss_mb": rss,
        "jvm_heap_mb": mx.getHeapMemoryUsage().getUsed() / 2**20,
        "jvm_nonheap_mb": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
    }


def _jvm_pids() -> list[int]:
    """The java processes below this one (the py4j gateway JVM)."""
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except FileNotFoundError:  # short-lived worker already gone
            continue
        for task in tasks:
            try:
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    children = [int(c) for c in f.read().split()]
            except FileNotFoundError:
                continue
            for child in children:
                todo.append(child)
                try:
                    with open(f"/proc/{child}/comm") as c:
                        if c.read().strip() == "java":
                            out.append(child)
                except FileNotFoundError:
                    pass
    return out


def _setup_env(work: str, nproc: int) -> dict[str, str]:
    """Point every scratch location into the checkout and pin the one
    engine knob; returns the SPARK_GRAFT_* environment as found."""
    found = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    for k in found:
        del os.environ[k]  # the engine runs at its defaults
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python UDF workers import the engine package.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return found


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(ROOT, "voter_file_etl_spark")):
        print("perfbench: engine package voter_file_etl_spark not found "
              f"next to {os.path.dirname(os.path.abspath(__file__))}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work)
    load_start = _loadavg()
    try:
        env_found = _setup_env(work, nproc)
        sys.path.insert(0, ROOT)
        import pyspark

        from perfbench import tracing, workloads
        from voter_file_etl_spark.session import get_spark

        spark = get_spark("perfbench")
        try:
            spark.range(1).count()
            session_s = time.perf_counter() - T_START
            return _run(args, spark, work, base, nproc, session_s, env_found, load_start,
                        pyspark.__version__, tracing, workloads)
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spark, work, base, nproc, session_s, env_found, load_start,
         pyspark_version, tracing, workloads) -> int:
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)

    gen_s = []
    for k in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.generate(os.path.join(work, f"inputs-{k}"))
        gen_s.append(time.perf_counter() - t0)
        if k:  # keep only the last copy
            shutil.rmtree(os.path.join(work, f"inputs-{k - 1}"))
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    setup_s = session_s + workloads.median(gen_s) + prepare_s

    t_warm = time.perf_counter()
    wl.warm()
    t_warm = time.perf_counter() - t_warm
    tracer = None
    if args.trace:
        tracer = tracing.Tracer(spark)
        tracer.file_lines = wl.file_lines
        wl.tracer = tracer

    if isinstance(wl, workloads.Refresh):
        wl.start_reader()
    # A fixed number of rounds, sized so the run measures about --seconds
    # at the current speed: the JVM keeps getting faster for tens of
    # seconds, so a deadline would let the number of rounds, and with it
    # the median, move with machine noise.
    rounds = max(1 + args.trace, round(args.seconds / wl.round_s))
    t_measure = time.perf_counter()
    try:
        # Traced runs interleave untraced and traced rounds as U T T U ...,
        # so a steady speed-up over the run (JIT warm-up) favours neither.
        for i in range(rounds):
            traced = bool(args.trace) and i % 4 in (1, 2)
            with tracer.installed() if traced else contextlib.nullcontext():
                wl.round(traced)
    finally:
        if isinstance(wl, workloads.Refresh):
            wl.stop_reader()
    t_measure = time.perf_counter() - t_measure
    mem = _live_mem_mb(spark)
    live_mem_mb = sum(mem.values())
    t_check = time.perf_counter()
    try:
        wl.check()
    except Exception as e:  # a check that cannot run is a failed check
        wl._fail(f"output check: {type(e).__name__}: {str(e)[:300]}")
    t_check = time.perf_counter() - t_check

    jvms = _jvm_pids()
    peak_rss_mb = _vm_hwm_mb(os.getpid()) + sum(_vm_hwm_mb(p) for p in jvms)
    untraced = wl.e2e(False)
    report = {
        "setup_s": {"value": setup_s, "unit": "s", "samples": 1},
        **wl.report(),
        "failed_ratio": {"value": wl.failed / max(wl.attempted, 1), "unit": "failed/attempted",
                         "samples": wl.attempted},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB", "samples": 1 + len(jvms)},
        "live_mem_mb": {"value": live_mem_mb, "unit": "MB", "samples": 1},
    }
    if args.trace:
        traced = wl.e2e(True)
        metrics = tracing.layer_metrics(tracer, workloads.registry_modules())
        metrics["tracing.latency_p50_overhead_ms"] = (
            traced["latency_p50_ms"] - untraced["latency_p50_ms"])
        metrics["tracing.throughput_overhead_per_s"] = (
            traced["throughput_per_s"] - untraced["throughput_per_s"])
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        trace_path = os.path.join(
            base, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
        tracer.write(trace_path)
    else:
        metrics = {"setup_s": setup_s, **untraced, "live_mem_mb": live_mem_mb}
        trace_path = None

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "client_threads": wl.client_threads,
        "spark_graft_env_found": env_found,
        "spark_graft_env_used": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        "loadavg_start": load_start,
        "loadavg_end": _loadavg(),
        "pyspark": pyspark_version,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "rounds": rounds,
        "samples_untraced": len(wl.op_samples(False)),
        "samples_traced": len(wl.op_samples(True)),
        "round_latencies_s": [round(x.latency, 4) for x in wl.samples if x.kind != "read"][:40],
        "setup": {"session_s": session_s, "generate_s": gen_s, "prepare_s": prepare_s},
        "phases_s": {"warm": t_warm, "measure": t_measure, "check": t_check},
        "live_mem": mem,
        "trace_file": trace_path,
        "errors": wl.errors,
    }
    print(json.dumps({"report": report, "run_record": record}))
    units = _declared_units()
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _declared_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
