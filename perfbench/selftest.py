"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py [--seed 3]

Runs each workload once on small inputs in one session, shows that its check
accepts the program's results, then corrupts one row of each kind of result
in turn and shows that the check rejects every corrupted copy. Prints one
``SELFTEST`` line per case and exits non-zero if any case goes the wrong way.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import shutil
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import ROOT, _pin_environment, _stop  # noqa: E402


def _corrupt_value(v):
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, Decimal)):
        return v + 1
    if isinstance(v, str):
        return v + "x"
    if isinstance(v, (dt.date, dt.datetime)):
        return v + dt.timedelta(days=1)
    return None


def corrupt_row(row):
    """A copy of ``row`` with its first corruptible field changed, or None."""
    from pyspark.sql import Row

    d = row.asDict()
    for k, v in d.items():
        bad = _corrupt_value(v)
        if bad is not None:
            return Row(**{**d, k: bad})
    return None


def corrupt(result):
    """Corrupt one row of a collected ``[columns, rows]`` result, searching
    nested results (the insights panel returns two)."""
    if isinstance(result, list) and len(result) == 2 and isinstance(result[0], list) \
            and all(isinstance(c, str) for c in result[0]):
        cols, rows = result
        for i, r in enumerate(rows):
            bad = corrupt_row(r)
            if bad is not None:
                return [cols, rows[:i] + [bad] + rows[i + 1:]]
        return None
    if isinstance(result, list):
        for i, part in enumerate(result):
            bad = corrupt(part)
            if bad is not None:
                return result[:i] + [bad] + result[i + 1:]
    return None


def _cases(wl, results):
    """One corrupted copy of the results per operation name."""
    seen = set()
    for i, (pass_no, name, result) in enumerate(results):
        if name in seen:
            continue
        bad = corrupt(result)
        if bad is None:
            continue
        seen.add(name)
        yield name, results[:i] + [(pass_no, name, bad)] + results[i + 1:]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=3)
    args = p.parse_args()
    scratch = os.path.join(ROOT, ".perfbench_run", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "spark-local"))
    cpus = _pin_environment(scratch)
    from perfbench.probes import Tracer
    from perfbench.workloads import ITERATIVE_QUERIES, STAR_QUERIES, DashboardRefresh, QueryWorkload
    from snowflake_stock_dbt_spark.session import get_spark

    spark = get_spark("perfbench-selftest")
    wrong = 0
    try:
        tracer = Tracer(None)
        workloads = {
            "star_analytics": QueryWorkload(spark, tracer, os.path.join(scratch, "star"),
                                            args.seed, 0.005, STAR_QUERIES, cpus),
            "iterative_drains": QueryWorkload(spark, tracer, os.path.join(scratch, "iter"),
                                              args.seed, 0.002, ITERATIVE_QUERIES, cpus),
            "dashboard_refresh": DashboardRefresh(spark, tracer, os.path.join(scratch, "dash"),
                                                  args.seed),
        }
        for wname, wl in workloads.items():
            for op in wl.warm_up_ops():
                op.run()
            results = [(0, op.name, op.run()) for op in wl.ops()]
            clean = wl.failures(results)
            wrong += bool(clean)
            print(f"SELFTEST {wname} clean results: "
                  f"{'rejected (WRONG): ' + '; '.join(clean) if clean else 'accepted'}")
            for name, bad in _cases(wl, results):
                why = wl.failures(bad)
                wrong += not why
                print(f"SELFTEST {wname} corrupted {name}: "
                      f"{'rejected: ' + why[0] if why else 'accepted (WRONG)'}")
    finally:
        _stop(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(f"/dev/shm/spark_graft_stream_ckpt_{os.getpid()}", ignore_errors=True)
    print(f"SELFTEST {'FAILED' if wrong else 'passed'}")
    return 1 if wrong else 0


if __name__ == "__main__":
    sys.exit(main())
