"""q350 TRUE-recall probe (round-11 VERDICT item 4).

q350's round-10 floors were overlap-with-q151 — itself an nprobe
approximation. This tool measures, per (growth, factor, prerank):

- recall_truth    fraction of brute-force exact kNN edges recovered
                  (numpy ground truth, feasible to ~80k rows);
- recall_q151     overlap with q151's exact-in-bucket edges (the old
                  dial, kept for comparability);
- max_posting     the hottest posting list — the prerank-vs-k context:
                  BQ_PRERANK is fixed while posting lists grow, so the
                  Hamming pre-rank gets RELATIVELY more selective with
                  scale; this table shows what that costs.

Usage:
  python tools/bq_recall_probe.py [--factors=8,16] [--growth=gauss]
                                  [--preranks=32,64,128]

Prints BQR lines and a final BQR-JSON summary.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from snowflake_stock_dbt_spark.session import get_spark  # noqa: E402


def main() -> int:
    factors = [8, 16]
    growth = "gauss"
    preranks = [32, 64, 128]
    for a in sys.argv[1:]:
        if a.startswith("--factors"):
            factors = [int(x) for x in a.split("=", 1)[1].split(",")]
        if a.startswith("--growth"):
            growth = a.split("=", 1)[1]
        if a.startswith("--preranks"):
            preranks = [int(x) for x in a.split("=", 1)[1].split(",")]

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("bq_recall_probe")
    import snowflake_stock_dbt_spark.operators.similarity as sim
    from snowflake_stock_dbt_spark.plans.vectors import (
        IVF_NPROBE,
        KMEANS_ITERS,
        KNN_GRAPH_K,
        _size_derived_k,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table
    from tools.beam_agreement import _true_knn_edges
    from tools.scale_probe import build_corpus

    summary: dict = {"growth": growth, "factors": {}}
    for factor in factors:
        d = build_corpus(spark, factor, growth)
        emb = load_table(spark, d, "embeddings")
        k = _size_derived_k(spark, d, emb)
        bucketed, cent = sim.kmeans_assign(
            emb, k=k, iters=KMEANS_ITERS,
            cache_key=(d, "full"), return_centroids=True,
        )
        bucketed = bucketed.localCheckpoint()
        truth = _true_knn_edges(spark, d)
        e151 = {
            (r["src_id"], r["dst_id"])
            for r in sim.knn_graph(
                bucketed, cent, k=KNN_GRAPH_K, nprobe=IVF_NPROBE
            ).collect()
        }
        mx = (
            bucketed.groupBy("bucket").count().agg(F.max("count")).collect()
        )[0][0]
        frec: dict = {
            "k": k,
            "max_posting": int(mx),
            "recall_q151_vs_truth": (
                round(len(e151 & truth) / len(truth), 4) if truth else None
            ),
            "preranks": {},
        }
        for pm in preranks:
            ebq = {
                (r["src_id"], r["dst_id"])
                for r in sim.knn_graph_bq(
                    bucketed, cent, k=KNN_GRAPH_K, nprobe=IVF_NPROBE,
                    prerank=pm,
                ).collect()
            }
            rec = {
                "recall_q151": round(len(ebq & e151) / len(e151), 4),
            }
            if truth:
                rec["recall_truth"] = round(len(ebq & truth) / len(truth), 4)
            frec["preranks"][str(pm)] = rec
            print(
                f"BQR x{factor} {growth} prerank={pm} {json.dumps(rec)}",
                flush=True,
            )
            sim.release_persisted_frames()
        summary["factors"][f"x{factor}"] = frec
        print(f"BQR x{factor} {growth} base {json.dumps({n: v for n, v in frec.items() if n != 'preranks'})}", flush=True)
        spark.catalog.clearCache()
    print("BQR-JSON " + json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
