"""Per-layer metrics from the spans, jobs and stream batches of a traced run.

Per-pass sums are reduced to their median over the timed passes; latency
percentiles pool the samples of all timed passes. A layer a workload does
not call reads 0.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench.probes import covered_s

_MB = 2**20


def _pct(values: list[float], q: int) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _jobs_in(jobs: list[dict], span: dict) -> list[dict]:
    return [j for j in jobs if span["job0"] <= j["id"] < span["job1"]]


def _intervals(jobs: list[dict]) -> list[tuple[float, float]]:
    return [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]


def _pass_metrics(spans: list[dict], rec: dict, batches: list[dict]) -> dict[str, float]:
    jobs = rec["jobs"]
    named = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)

    def total_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in named.get(name, []))

    def span_jobs(name: str) -> list[dict]:
        return [j for s in named.get(name, []) for j in _jobs_in(jobs, s)]

    builds, collects = named.get("plans.build", []), named.get("plans.collect", [])
    eager_s = sum(covered_s(_intervals(_jobs_in(jobs, s)), s["start"], s["end"]) for s in builds)
    transfer_ms = 0.0
    for s in collects:
        ends = [j["end"] for j in _jobs_in(jobs, s) if j["end"]]
        transfer_ms += (s["end"] - max([s["start"], *ends])) * 1e3
    phases = [s["phases"] for s in collects]
    bronze_rows = 0
    for s in named.get("sources.read", []):
        batch = s.get("batch")
        for name in os.listdir(batch) if batch else []:
            with open(os.path.join(batch, name)) as f:
                bronze_rows += sum(1 for _ in f) - 1
    in_pass = [b for b in batches if rec["start"] <= b["at"] < rec["end"]]
    return {
        "plans.build_s": total_s("plans.build"),
        "plans.eager_jobs": len(span_jobs("plans.build")),
        "plans.eager_job_s": eager_s,
        "plans.collect_s": total_s("plans.collect"),
        "catalyst.analysis_ms": sum(p["analysis"] for p in phases),
        "catalyst.optimization_ms": sum(p["optimization"] for p in phases),
        "catalyst.planning_ms": sum(p["planning"] for p in phases),
        "exec.jobs": len(jobs),
        "exec.stages": sum(j["stages"] for j in jobs),
        "exec.tasks": sum(j["tasks"] for j in jobs),
        "exec.outside_jobs_s": rec["s"] - covered_s(_intervals(jobs), rec["start"], rec["end"]),
        "exec.executor_run_s": sum(j["run_s"] for j in jobs),
        "exec.executor_cpu_s": sum(j["cpu_s"] for j in jobs),
        "exec.gc_s": sum(j["gc_s"] for j in jobs),
        "exec.input_mb": sum(j["input_b"] for j in jobs) / _MB,
        "exec.shuffle_read_mb": sum(j["shuffle_read_b"] for j in jobs) / _MB,
        "exec.shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / _MB,
        "exec.output_mb": sum(j["output_b"] for j in jobs) / _MB,
        "collect.rows": sum(s["rows"] for s in collects),
        "collect.transfer_ms": transfer_ms,
        "streaming.batches": len(in_pass),
        "streaming.state_rows": sum(b["state_rows"] for b in in_pass),
        "sources.scrape_ms": total_s("sources.scrape") * 1e3,
        "sources.bronze_rows": bronze_rows,
        "models.build_ms": total_s("models.build") * 1e3,
        "quality.checks_s": total_s("quality.checks"),
        "quality.check_jobs": len(span_jobs("quality.checks")),
        "upsert.merge_write_s": total_s("upsert.merge_write"),
        "upsert.jobs": len(span_jobs("upsert.merge_write")),
        "serving.panel_ms": sum(s["end"] - s["start"] for s in named.get("op", [])
                                if s["kind"] == "panel") * 1e3,
    }


UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.eager_jobs": "count", "plans.eager_job_s": "s",
    "plans.collect_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.outside_jobs_s": "s", "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
    "exec.gc_s": "s", "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.output_mb": "MB",
    "collect.rows": "count", "collect.transfer_ms": "ms",
    "streaming.batches": "count", "streaming.batch_ms_p50": "ms", "streaming.state_rows": "count",
    "sources.scrape_ms": "ms", "sources.bronze_rows": "count",
    "models.build_ms": "ms",
    "quality.checks_s": "s", "quality.check_jobs": "count",
    "upsert.merge_write_s": "s", "upsert.jobs": "count",
    "serving.request_ms_p50": "ms", "serving.request_ms_p90": "ms", "serving.panel_ms": "ms",
}


def per_layer(spans: list[dict], passes: list[dict], batches: list[dict],
              session_s: float, warmup_s: float) -> dict[str, tuple[float, str]]:
    per_pass = [_pass_metrics([s for s in spans if rec["start"] <= s["start"] < rec["end"]],
                              rec, batches) for rec in passes]
    values = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    timed = [b for b in batches if passes[0]["start"] <= b["at"] < passes[-1]["end"]]
    requests = [(s["end"] - s["start"]) * 1e3 for s in spans
                if s["name"] == "op" and s["kind"] == "request"]
    values.update({
        "session.start_s": session_s,
        "session.warmup_s": warmup_s,
        "streaming.batch_ms_p50": _pct([b["ms"] for b in timed], 50),
        "serving.request_ms_p50": _pct(requests, 50),
        "serving.request_ms_p90": _pct(requests, 90),
    })
    return {k: (values[k], UNITS[k]) for k in UNITS}


def write_trace(run_dir: str, args, spans: list[dict], passes: list[dict],
                batches: list[dict]) -> str:
    out_dir = os.path.join(run_dir, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "spans": spans, "passes": passes, "stream_batches": batches}, f, indent=1)
    return path
