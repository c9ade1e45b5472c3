"""Balanced-IVF-assignment probe (round-11 VERDICT item 1).

Round 10 measured the kNN-graph family's last superlinear term: k-means
imbalance grows probed-list volume 269 -> 450 candidates/row per octave
(and Lloyd's makes it WORSE: max bucket 448/608/992 at iters 2/4/6).
This tool measures what the bounded-capacity posting assignment
(operators/similarity.py:balanced_posting) does to that term:

- candidates/row   Σ_query-probe-pairs posting_size(bucket) / n —
  the exact volume entering the candidate join, per arm;
- max posting      the hottest bucket's posting size, per arm;
- graph-stage s    min-of-REPS wall of the full q151/q350 plan with the
  codebook cache warm (training isolated — the --warm-all-factors
  convention from tools/scale_probe.py).

Usage:
  python tools/balance_probe.py [--factors=16,32,64] [--growth=salted]
                                [--queries=q151,q350] [--reps=2]

Prints BAL lines per (factor, arm) and a final BAL-JSON summary.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from snowflake_stock_dbt_spark.session import get_spark  # noqa: E402


def _arm(balanced: bool):
    os.environ["SPARK_GRAFT_BALANCED_ASSIGN"] = "1" if balanced else "0"


def measure_volume(spark, sf_dir: str, balanced: bool) -> dict:
    """candidates/row + posting-size stats for one arm, computed from
    the same trained codebook and probe selection the plans use."""
    import snowflake_stock_dbt_spark.operators.similarity as sim
    from snowflake_stock_dbt_spark.plans.vectors import (
        IVF_NPROBE,
        KMEANS_ITERS,
        _size_derived_k,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k = _size_derived_k(spark, sf_dir, emb)
    bucketed, cent = sim.kmeans_assign(
        emb, k=k, iters=KMEANS_ITERS,
        cache_key=(sf_dir, "full"), return_centroids=True,
    )
    if balanced and k >= sim.TWO_LEVEL_MIN_K:
        pr = sim.register_persisted(
            sim._with_probes(
                bucketed, cent, "embedding",
                max(IVF_NPROBE, sim.BALANCE_SPILL_DEPTH),
            )
        )
        n = pr.count()
        cap = max(1, int(math.ceil(sim.BALANCE_CAP_FACTOR * n / k)))
        posting = sim.balanced_posting(pr, "vec_id", cap).select(
            F.col("__bbucket").alias("bucket")
        )
    else:
        n = bucketed.count()
        cap = None
        posting = bucketed.select("bucket")
    sizes = posting.groupBy("bucket").agg(F.count("*").alias("sz"))
    probes = sim._with_probes(bucketed, cent, "embedding", IVF_NPROBE).select(
        F.explode(
            F.transform(F.col("__probes"), lambda p: p["bucket"])
        ).alias("bucket")
    )
    stats = (
        probes.join(sizes, "bucket")
        .agg(F.sum("sz").alias("cand_total"))
        .collect()[0]
    )
    mx = sizes.agg(F.max("sz")).collect()[0][0]
    return {
        "n": n,
        "k": k,
        "cap": cap,
        "cands_per_row": round(stats["cand_total"] / n, 1),
        "max_posting": int(mx),
    }


def main() -> int:
    factors = [16, 32, 64]
    growth = "salted"
    prefixes = ["q151", "q350"]
    reps = 2
    for a in sys.argv[1:]:
        if a.startswith("--factors"):
            factors = [int(x) for x in a.split("=", 1)[1].split(",")]
        if a.startswith("--growth"):
            growth = a.split("=", 1)[1]
        if a.startswith("--queries"):
            prefixes = a.split("=", 1)[1].split(",")
        if a.startswith("--reps"):
            reps = int(a.split("=", 1)[1])

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("balance_probe")
    import snowflake_stock_dbt_spark.operators.similarity as sim
    from tools.scale_probe import build_corpus

    qs = E.queries()
    names = sorted(n for n in qs if any(n.startswith(p) for p in prefixes))
    summary: dict = {"growth": growth, "factors": {}}
    for factor in factors:
        d = build_corpus(spark, factor, growth)
        frec: dict = {}
        # Train ONCE per factor (both arms share the deterministic
        # codebook; the cache key is corpus-scoped) and report the
        # training wall separately so stage octaves stay isolated.
        t0 = time.monotonic()
        vol_nat = measure_volume(spark, d, balanced=False)
        t_train = time.monotonic() - t0
        vol_bal = measure_volume(spark, d, balanced=True)
        frec["train_plus_volume_s"] = round(t_train, 1)
        frec["natural"] = vol_nat
        frec["balanced"] = vol_bal
        print(
            f"BAL x{factor} {growth} natural={json.dumps(vol_nat)} "
            f"balanced={json.dumps(vol_bal)}",
            flush=True,
        )
        for name in names:
            for arm, flag in (("balanced", True), ("natural", False)):
                _arm(flag)
                best = float("inf")
                for _ in range(reps):
                    sim.release_persisted_frames()
                    t0 = time.monotonic()
                    qs[name](spark, d).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    best = min(best, time.monotonic() - t0)
                frec[f"{name}_{arm}_s"] = round(best, 1)
                print(
                    f"BAL x{factor} {name} {arm} {best:.1f}s", flush=True
                )
        _arm(True)
        summary["factors"][f"x{factor}"] = frec
        sim.release_persisted_frames()
        spark.catalog.clearCache()
    print("BAL-JSON " + json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
