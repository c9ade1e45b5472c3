"""Benchmark runner (driver contract).

Runs every headline query from ``__spark_entry__.queries()`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": total_sec, "unit": "sec",
     "queries": {"q01...": sec, ...}, "sf": 0.1}

Each query is timed to full materialization (collect) after warm-up passes
that exercise every runtime path (codegen, streaming state store,
Arrow/pandas workers) at the smallest corpus; order is fixed so run-to-run
numbers are comparable.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    import __spark_entry__ as entry_mod
    from snowflake_stock_dbt_spark.operators.similarity import (
        release_persisted_frames,
    )
    from snowflake_stock_dbt_spark.session import get_spark

    #: Queries whose first execution warms a whole runtime path (plain
    #: codegen+scan, Structured Streaming + state store, Arrow/pandas
    #: workers, text explode, wide aggregate codegen) — run once at the
    #: smallest corpus so timed queries measure the plan, not cold-start.
    WARMUP = [
        "q01_top_by_metric",
        "q29_streaming_window",
        "q41_stateful_totals",
        "q38_media_decode",
        "q21_minhash_signatures",
        "q23_simhash",
        # Iterative path (localCheckpoint machinery + its codegen).
        "q93_pagerank",
    ]

    spark = get_spark(app_name="bench")
    qs = entry_mod.queries()
    for w in WARMUP:
        if w in qs:
            qs[w](spark, "/root/testdata/sf0.001").collect()
    spark.catalog.clearCache()

    # Two timed runs per query, report the min: single-shot timings on a
    # shared host mix plan cost with CPU-contention noise (observed 10-40x
    # spikes on identical plans); the min of two runs is the steady-state
    # number the plan actually costs.
    RUNS = 2
    times: dict[str, float] = {}
    for name in sorted(qs):
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
            # Isolate runs: drop persisted intermediates so one query's
            # cache (or memory pressure) can't distort the next timing.
            # release_persisted_frames drops the registry's handles too
            # (ADVICE r10: clearCache alone freed the blocks but left
            # dead DataFrame references accumulating for the session).
            release_persisted_frames()
            spark.catalog.clearCache()
        times[name] = round(best, 4)

    total = round(sum(times.values()), 4)
    here = os.path.dirname(os.path.abspath(__file__))
    micro = _load_micro()
    # FULL per-query payload goes to a repo file the round commits: a
    # 350-query JSON line can never fit in the 2000-char stdout tail the
    # driver records, so BENCH_r{9,10} permanently lost q01-q54 and the
    # totals (VERDICT r10 item 3). The file is the per-query record;
    # stdout carries a compact summary the driver CAN parse whole.
    full = {
        "metric": "query_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "commit": _head_commit(),
    }
    if micro:
        # Medians-of-isolated-reps for the pinned heavy set
        # (tools/micro_bench.py) — the noise-proof numbers BENCH_r{N}
        # comparisons should use for those queries; the suite pass above
        # times them inside one shared JVM where 14% cross-day noise has
        # produced repeated false drift alarms.
        full["micro"] = micro
    # Run-scoped artifact (VERDICT r11 "what's wrong" #2): every run gets
    # its own file keyed by core count + commit, so the driver's own
    # verification runs (32c, then 8c) no longer clobber the committed
    # round-close map with mixed-core values. BENCH_FULL.json — the
    # committed per-query record compare_to_previous_round baselines
    # against — is only rewritten when explicitly asked
    # (SPARK_GRAFT_BENCH_WRITE_FULL=1, the round-close ritual).
    runs_dir = os.path.join(here, "bench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    run_path = os.path.join(
        runs_dir, f"full_c{full['cpus']}_{full['commit']}.json"
    )
    for path in (
        [run_path, os.path.join(here, "BENCH_FULL.json")]
        if os.environ.get("SPARK_GRAFT_BENCH_WRITE_FULL") == "1"
        else [run_path]
    ):
        with open(path, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
            f.write("\n")
    # Regression chatter FIRST (stderr), JSON line LAST: the driver
    # captures combined output and keeps only the final 2000 chars, so any
    # line printed after the payload evicts it from the recorded
    # BENCH_r{N}.json tail (observed in round 9).
    movers = compare_to_previous_round(times, micro)
    line = build_summary_line(total, sf, len(times), full["commit"], movers, micro, times)
    sys.stderr.flush()
    print(line)
    sys.stdout.flush()


def build_summary_line(
    total: float,
    sf: float,
    n_queries: int,
    commit: str,
    movers: dict[str, str],
    micro: dict | None,
    times: dict[str, float] | None = None,
) -> str:
    """The one-line stdout payload, guaranteed parseable by the driver:
    its artifact keeps only the final 2000 chars of combined output, so
    the line must stay under that whatever the suite size.

    PERF_r11 came back hollow (``now_bench_ok: false``, ``per_query: {}``)
    because round 11's compact line carried no ``queries`` map at all —
    the driver's comparison consumes exactly that key (VERDICT r11 item 1).
    A 351-entry map with full names is ~9.4k chars and can never survive
    the 2000-char tail, so the line now carries the SLOWEST queries that
    fit (regressions on sub-0.1s queries are timer noise by the bench's
    own acceptance bar of >2x AND >0.5s absolute), names exact and
    values in seconds, with the omission declared
    (``queries_omitted``) and the complete map in BENCH_FULL.json.
    Priority under the budget: queries map > micro medians > top movers.
    """
    summary = {
        "metric": "query_suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": n_queries,
        "commit": commit,
        "full": "BENCH_FULL.json",
        "queries": {},
        "queries_omitted": 0,
    }
    budget = 1900
    if times:
        ranked = sorted(times.items(), key=lambda kv: (-kv[1], kv[0]))
        summary["queries_omitted"] = len(ranked)
        for name, sec in ranked:
            summary["queries"][name] = round(sec, 2)
            if len(json.dumps(summary)) > budget:
                del summary["queries"][name]
                break
            summary["queries_omitted"] -= 1
    if micro:
        trial = dict(summary)
        trial["micro"] = {
            k: (v if isinstance(v, str) else round(v, 2))
            for k, v in micro.items()
        }
        if len(json.dumps(trial)) <= budget:
            summary = trial
    if movers:
        trial = dict(summary)
        trial["top_movers"] = movers
        if len(json.dumps(trial)) <= budget:
            summary = trial
    return json.dumps(summary)


def _head_commit() -> str:
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "?"
    except Exception:
        return "?"


def _load_micro() -> dict[str, float] | None:
    """Per-query isolated medians from MICRO_BENCH.json (plus commit),
    if tools/micro_bench.py has been run at this tree."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "MICRO_BENCH.json")
    try:
        with open(path) as f:
            data = json.load(f)
        return dict(
            {n: rec["median"] for n, rec in data["queries"].items()},
            _commit=data.get("commit", "?"),
        )
    except Exception:
        return None


def _committed_full() -> tuple[dict[str, float], dict[str, float], str] | None:
    """(queries, micro, label) from the BENCH_FULL.json committed at git
    HEAD — the previous round-close record once rounds >= 11 commit it.
    Reading the COMMITTED version (not the working file this run just
    overwrote) keeps within-round re-runs comparing against the last
    committed state."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        out = subprocess.run(
            ["git", "show", "HEAD:BENCH_FULL.json"],
            cwd=here, capture_output=True, text=True, timeout=10,
        )
        if out.returncode != 0:
            return None
        data = json.loads(out.stdout)
        qs = data.get("queries")
        if not isinstance(qs, dict) or not qs:
            return None
        micro = {
            k: float(v)
            for k, v in (data.get("micro") or {}).items()
            if not k.startswith("_")
        }
        label = f"BENCH_FULL.json@{data.get('commit', 'HEAD')}"
        return {k: float(v) for k, v in qs.items()}, micro, label
    except Exception:
        return None


def compare_to_previous_round(
    times: dict[str, float], micro: dict[str, float] | None = None
) -> dict[str, str]:
    """Per-query regression report against the previous round's numbers;
    returns the top movers (both directions) for the compact summary.

    Baseline: the committed BENCH_FULL.json (complete per-query map);
    without one there is nothing to compare against and this returns {}.

    The acceptance bar is "within 2x of the previous round per query"; a
    suite total hides a single regressed plan, so name each one (ratio > 2x
    and absolute slowdown > 0.5 s — tiny queries are timer noise). Written
    to stderr so the stdout contract stays one JSON line.

    For queries in the pinned micro set, BOTH sides prefer the isolated
    medians (this run's MICRO_BENCH.json vs the previous round's
    embedded ``micro`` object): suite-pass numbers for the heavy
    iterative/stateful plans carry ~14% cross-day JVM/host noise and
    have produced repeated false drift alarms (round-4 adjudication,
    PLANS.md) — medians of fresh-process reps are the comparable signal.
    """
    committed = _committed_full()
    if committed is None:
        print(
            "[bench] no committed BENCH_FULL.json baseline; "
            "regression check skipped",
            file=sys.stderr,
        )
        return {}
    prev, prev_micro, label = committed
    regressed = []
    deltas: list[tuple[float, str, float, float]] = []
    for name, sec in sorted(times.items()):
        base = prev.get(name)
        if (
            micro
            and prev_micro
            and name in micro
            and name in prev_micro
        ):
            sec, base = micro[name], prev_micro[name]
        if not base or base <= 0:
            continue
        if sec / base > 2.0 and sec - base > 0.5:
            regressed.append((name, base, sec, sec / base))
        if abs(sec - base) > 0.3:
            import math

            deltas.append((abs(math.log(max(sec, 1e-3) / base)), name, base, sec))
    if regressed:
        print(f"[bench] REGRESSIONS vs {label}:", file=sys.stderr)
        for name, base, sec, ratio in regressed:
            print(
                f"[bench]   {name}: {base:.2f}s -> {sec:.2f}s ({ratio:.1f}x)",
                file=sys.stderr,
            )
    else:
        print(f"[bench] no per-query regressions vs {label}", file=sys.stderr)
    return {
        name: f"{base:.2f}->{sec:.2f}"
        for _, name, base, sec in sorted(deltas, reverse=True)[:10]
    }


if __name__ == "__main__":
    main()
