"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload star_analytics --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` they are the per-layer ones, and the spans are written
to ``.perfbench_run/traces/``. See perfbench/README.md.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("star_analytics", "iterative_drains", "dashboard_refresh")


def _process_age_s() -> float:
    """Seconds since this process started, from its start time in ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _pin_environment(scratch: str) -> int:
    """Settings the benchmark pins before the JVM starts; returns the cores."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # The program's 48g default exceeds the RAM of small hosts.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(4096, ram_mb // 4)}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = scratch
    # Collected timestamps are local times; pin them to UTC.
    os.environ["TZ"] = "UTC"
    time.tzset()
    return cpus


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def _timed(op, label: str, tracer) -> tuple[float, object]:
    """Run one operation; return its wall milliseconds and its result, or the
    exception it raised (a failed operation is counted, not fatal)."""
    t0 = time.perf_counter()
    with tracer.span("op", op=op.name, kind=op.kind):
        try:
            result = op.run()
        except Exception as exc:
            result = exc
    ms = (time.perf_counter() - t0) * 1e3
    print(f"perfbench: {label} {op.name} {ms:.0f} ms"
          + (f" FAILED {result!r}" if isinstance(result, Exception) else ""), file=sys.stderr)
    return ms, result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: the program (__spark_entry__.py) is not in this checkout",
              file=sys.stderr)
        return 2
    # A terminated run still stops its JVM and removes its scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench_run")
    scratch = os.path.join(run_dir, f"tmp-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "spark-local"))
    stream_scratch = f"/dev/shm/spark_graft_stream_ckpt_{os.getpid()}"
    try:
        cpus = _pin_environment(scratch)
        sys.path.insert(0, ROOT)
        return _run(args, scratch, run_dir, cpus)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        # The program's stream drains leave this per-process directory behind.
        shutil.rmtree(stream_scratch, ignore_errors=True)


def _run(args, scratch: str, run_dir: str, cpus: int) -> int:
    from perfbench import layers
    from perfbench.probes import SparkStatus, StreamRecorder, Tracer, tree_cpu_s
    from perfbench.workloads import (
        ITERATIVE_QUERIES,
        STAR_QUERIES,
        DashboardRefresh,
        QueryWorkload,
    )
    from snowflake_stock_dbt_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        status = SparkStatus(spark) if args.trace else None
        tracer = Tracer(status)
        streams = StreamRecorder() if args.trace else None
        if streams is not None:
            spark.streams.addListener(streams)
        if args.workload == "star_analytics":
            wl = QueryWorkload(spark, tracer, scratch, args.seed, 0.05, STAR_QUERIES, cpus)
        elif args.workload == "iterative_drains":
            wl = QueryWorkload(spark, tracer, scratch, args.seed, 0.01, ITERATIVE_QUERIES, cpus)
        else:
            wl = DashboardRefresh(spark, tracer, scratch, args.seed)
        t0 = time.perf_counter()
        for op in wl.warm_up_ops():
            _timed(op, "warm-up", tracer)
        warmup_s = time.perf_counter() - t0
        tracer.spans.clear()

        setup_s = _process_age_s()
        me = os.getpid()
        passes, op_ms, results, failed, attempted = [], [], [], 0, 0
        start = time.perf_counter()
        # A fixed count of passes first: the JVM is still compiling, so each
        # pass is faster than the one before, and a count set by the clock
        # would give a slowed-down run fewer and earlier passes.
        while len(passes) < wl.min_passes or (
                time.perf_counter() - start + passes[-1]["s"] <= args.seconds):
            ops = wl.ops()
            cpu0 = tree_cpu_s(me)
            job0 = status.next_job() if status else None
            w0, p0 = time.time(), time.perf_counter()
            for op in ops:
                ms, result = _timed(op, f"pass {len(passes)}", tracer)
                op_ms.append(ms)
                if isinstance(result, Exception):
                    failed += 1
                else:
                    results.append((len(passes), op.name, result))
            attempted += len(ops)
            rec = {"s": time.perf_counter() - p0, "cpu_s": tree_cpu_s(me) - cpu0,
                   "start": w0, "end": time.time()}
            if status:
                status.settle()
                rec["jobs"] = status.jobs(job0, status.next_job())
            passes.append(rec)

        problems = wl.failures(results)
        for line in problems:
            print(f"perfbench: incorrect: {line}", file=sys.stderr)
        if args.trace:
            streams.drain()
            metrics = layers.per_layer(tracer.spans, passes, streams.batches,
                                       session_s, warmup_s)
            layers.write_trace(run_dir, args, tracer.spans, passes, streams.batches)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (statistics.median(r["s"] for r in passes), "s"),
                "op_p50_ms": (statistics.median(op_ms), "ms"),
                "cpu_s": (statistics.median(r["cpu_s"] for r in passes), "s"),
            }
    finally:
        _stop(spark)
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
