"""Drain-phase breakdown for the streaming family.

Registers a ``StreamingQueryListener`` on the session and runs each named
query unchanged, so the drain measured is the one the package ships
(``streaming.pipeline.run_streaming_query``, scratch checkpoint included).
For every drain it reports each micro-batch's StreamingQueryProgress
durationMs (triggerExecution, getBatch, addBatch, walCommit, commitOffsets,
queryPlanning, latestOffset) and state-operator rows, plus the query's
wall time and the share of it spent outside micro-batches (query start and
stop, checkpoint setup, result materialization), so the between-jobs
machinery is attributed, not guessed.

Usage:
    python tools/stream_probe.py q60_stream_stream_join q196_sessionize_tws
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402


class DrainRecorder(StreamingQueryListener):
    """One record per streaming run (keyed by runId): its batches' progress
    and whether its termination has been delivered."""

    def __init__(self) -> None:
        self.drains: dict[str, dict] = {}

    def onQueryStarted(self, event) -> None:
        self.drains[str(event.runId)] = {"batches": [], "terminated": False}

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        self.drains[p["runId"]]["batches"].append({
            "batchId": p.get("batchId"),
            "numInputRows": p.get("numInputRows"),
            "durationMs": p.get("durationMs"),
            "stateOperators": [
                {k: so.get(k) for k in (
                    "operatorName", "commitTimeMs", "numRowsTotal",
                    "numStateStoreInstances")}
                for so in p.get("stateOperators", [])
            ],
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.drains[str(event.runId)]["terminated"] = True

    def take(self, timeout_s: float = 10.0) -> list[list[dict]]:
        """The batches of each run recorded so far, once every run has
        terminated (the listener bus delivers asynchronously); clears the
        record."""
        deadline = time.monotonic() + timeout_s
        while (
            not all(d["terminated"] for d in self.drains.values())
            and time.monotonic() < deadline
        ):
            time.sleep(0.05)
        out = [d["batches"] for d in self.drains.values()]
        self.drains.clear()
        return out


def main() -> int:
    names = sys.argv[1:] or ["q60_stream_stream_join"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry
    from snowflake_stock_dbt_spark.session import get_spark

    spark = get_spark(app_name="stream_probe")
    qs = entry.queries()
    recorder = DrainRecorder()
    spark.streams.addListener(recorder)

    report = {}
    for name in names:
        if name not in qs:
            print(f"!! unknown {name}", file=sys.stderr)
            continue
        # Warm-up on the smallest corpus (pays stream cold-start).
        qs[name](spark, "/root/testdata/sf0.001").collect()
        recorder.take()
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).collect()
        wall = time.perf_counter() - t0
        drains = recorder.take()
        batch_s = sum(
            b["durationMs"].get("triggerExecution", 0)
            for d in drains
            for b in d
        ) / 1000
        report[name] = {
            "wall_s": round(wall, 3),
            "outside_batches_s": round(wall - batch_s, 3),
            "drains": drains,
        }
        spark.catalog.clearCache()
    spark.streams.removeListener(recorder)
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
