"""Verdict-level A/B of the two-level beam assignment vs the flat exact
scan (round-9 VERDICT item 1).

The round-9 floor pins ASSIGNMENT agreement (>= 70% of rows keep their
flat-argmin bucket under beam-4). But the user-visible semantics of the
IVF family are downstream VERDICTS: q118/q346 emit keep/drop decisions,
q151 emits kNN edges. A 13–25% assignment disagreement near cluster
boundaries could flip an unknown fraction of those — this tool measures
it, at probe scale where the two-level path actually activates
(size-derived k >= TWO_LEVEL_MIN_K).

For each query it runs the FULL pipeline twice on the same corpus —
once with ``SPARK_GRAFT_FLAT_ASSIGN=1`` (flat exact argmin at any k,
the pre-round-9 semantics) and once with the production beam path —
clearing the k-means training cache between arms so each arm trains its
own codebook, exactly as a real deployment of that arm would.

Reported per query:
- q118_semantic_dedup:  fraction of vec_ids whose ``kept`` verdict flips
  (plus bucket agreement as the assignment-level control).
- q151_knn_graph / q350_knn_graph_bq: edge-set symmetric difference
  over union, the fraction of (src, dst) edges present in both arms,
  and (when the corpus fits the brute-force truth bound) TRUE recall
  per arm against exact kNN ground truth — the honest cost metric
  (identity-to-flat overstates: flat-IVF is itself an approximation).
- q346_multimodal_curation: fraction of doc_ids whose ``keep`` flips
  (text/media components are embedding-independent, so every flip here
  traces to the semantic-dedup arm).

Usage:
  python tools/beam_agreement.py [--factor=8] [--growth=salted|gauss]
                                 [--queries=q118,q151,q346]

Prints one AGREE line per query and a final AGREE-JSON summary.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from snowflake_stock_dbt_spark.session import get_spark  # noqa: E402


def _run_arm(
    spark,
    qfn,
    sf_dir: str,
    flat: bool,
    keep_codebook: bool = False,
    env: dict[str, str] | None = None,
):
    """One arm of the A/B. ``keep_codebook`` (the --shared-codebook
    mode) skips the training-cache clear so the beam arm reuses the
    flat arm's codebook — isolating the PROBE-stage approximation from
    training divergence (with independent training, a flipped verdict
    can come from either the per-row beam assignment or from the two
    arms having trained different centroids; sharing the codebook
    removes the second cause). ``env`` overlays extra levers for the
    arm (e.g. SPARK_GRAFT_BALANCED_ASSIGN for the --ab=balance mode)."""
    import snowflake_stock_dbt_spark.operators.similarity as sim
    from snowflake_stock_dbt_spark.sources import tables

    os.environ["SPARK_GRAFT_FLAT_ASSIGN"] = "1" if flat else "0"
    for k, v in (env or {}).items():
        os.environ[k] = v
    if not keep_codebook:
        tables._MEMO.clear()
    sim.release_persisted_frames()
    t0 = time.monotonic()
    rows = qfn(spark, sf_dir).collect()
    dt = time.monotonic() - t0
    os.environ["SPARK_GRAFT_FLAT_ASSIGN"] = "0"
    for k in (env or {}):
        os.environ.pop(k, None)
    return rows, dt


def _true_knn_edges(spark, sf_dir: str, max_n: int = 80_000):
    """Brute-force exact top-KNN_GRAPH_K cosine edges for the probe
    corpus (numpy, chunked) — ground truth for the recall columns.
    Returns None above max_n rows (the truth matrix is O(n^2))."""
    import numpy as np
    import pyarrow.parquet as pq

    from snowflake_stock_dbt_spark.plans.vectors import KNN_GRAPH_K

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = np.asarray(t["vec_id"].to_pylist(), dtype=np.int64)
    if len(ids) > max_n:
        return None
    X = np.asarray(t["embedding"].to_pylist(), dtype=np.float32)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = KNN_GRAPH_K
    edges = set()
    for s in range(0, len(ids), 2048):
        block = X[s : s + 2048] @ X.T
        for bi in range(block.shape[0]):
            block[bi, s + bi] = -np.inf  # exclude self
        top = np.argpartition(-block, k, axis=1)[:, :k]
        for bi, cand in enumerate(top):
            src = ids[s + bi]
            order = cand[np.argsort(-block[bi, cand], kind="stable")]
            for dst in order[:k]:
                edges.add((int(src), int(ids[dst])))
    return edges


def _verdicts_q118(rows):
    return {r["vec_id"]: bool(r["kept"]) for r in rows}, {
        r["vec_id"]: r["bucket"] for r in rows
    }


def main() -> int:
    factor = 8
    growth = "salted"
    prefixes = ["q118", "q151", "q346"]
    shared = False
    ab = "beam"
    for a in sys.argv[1:]:
        if a.startswith("--factor"):
            factor = int(a.split("=", 1)[1])
        if a.startswith("--growth"):
            growth = a.split("=", 1)[1]
        if a.startswith("--queries"):
            prefixes = a.split("=", 1)[1].split(",")
        if a == "--shared-codebook":
            shared = True
        if a.startswith("--ab="):
            # --ab=beam   (default): flat exact assign  vs  beam
            # --ab=balance: beam+natural posting vs beam+balanced —
            # isolates the round-11 capacity approximation from the
            # beam (both arms share the beam path and, with
            # --shared-codebook, the codebook).
            ab = a.split("=", 1)[1]
            if ab not in ("beam", "balance"):
                raise SystemExit(f"unknown --ab mode {ab!r}")
        if a.startswith("--beam"):
            import snowflake_stock_dbt_spark.operators.similarity as sim

            sim.TWO_LEVEL_BEAM = int(a.split("=", 1)[1])

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("beam_agreement")
    from tools.scale_probe import build_corpus

    corpus = build_corpus(spark, factor, growth)
    qs = E.queries()
    names = sorted(
        n for n in qs if any(n.startswith(p) for p in prefixes)
    )
    summary: dict[str, dict] = {}
    for name in names:
        if ab == "balance":
            # Arm A: beam + NATURAL posting; arm B: beam + BALANCED.
            # Isolates the round-11 capacity approximation from the
            # beam (and, with --shared-codebook, from training).
            flat_rows, t_flat = _run_arm(
                spark, qs[name], corpus, flat=False,
                env={"SPARK_GRAFT_BALANCED_ASSIGN": "0"},
            )
            beam_rows, t_beam = _run_arm(
                spark, qs[name], corpus, flat=False, keep_codebook=shared,
                env={"SPARK_GRAFT_BALANCED_ASSIGN": "1"},
            )
        else:
            flat_rows, t_flat = _run_arm(spark, qs[name], corpus, flat=True)
            beam_rows, t_beam = _run_arm(
                spark, qs[name], corpus, flat=False, keep_codebook=shared
            )
        rec: dict = {
            "ab": "natural-vs-balanced" if ab == "balance" else "flat-vs-beam",
            "codebook": "shared" if shared else "independent",
            "t_flat_s": round(t_flat, 2),
            "t_beam_s": round(t_beam, 2),
            "n_flat": len(flat_rows),
            "n_beam": len(beam_rows),
        }
        if name.startswith("q118"):
            kf, bf = _verdicts_q118(flat_rows)
            kb, bb = _verdicts_q118(beam_rows)
            ids = set(kf) | set(kb)
            flips = sum(1 for i in ids if kf.get(i) != kb.get(i))
            bucket_agree = sum(
                1 for i in ids if bf.get(i) == bb.get(i)
            ) / max(1, len(ids))
            rec.update(
                verdict_flip_rate=round(flips / max(1, len(ids)), 4),
                n_flips=flips,
                bucket_agreement=round(bucket_agree, 4),
                dropped_flat=sum(1 for v in kf.values() if not v),
                dropped_beam=sum(1 for v in kb.values() if not v),
            )
        elif name.startswith(("q151", "q350")):
            ef = {(r["src_id"], r["dst_id"]) for r in flat_rows}
            eb = {(r["src_id"], r["dst_id"]) for r in beam_rows}
            union = ef | eb
            inter = ef & eb
            rec.update(
                edge_jaccard=round(len(inter) / max(1, len(union)), 4),
                edge_flip_rate=round(
                    len(union - inter) / max(1, len(union)), 4
                ),
                edges_flat=len(ef),
                edges_beam=len(eb),
            )
            truth = _true_knn_edges(spark, corpus)
            if truth is not None:
                # Identity-to-flat overstates the cost: flat-IVF is
                # ITSELF an approximation of exact kNN (nprobe buckets
                # only). What a user loses to the beam is the recall
                # delta against brute-force ground truth.
                rec.update(
                    recall_flat=round(len(ef & truth) / len(truth), 4),
                    recall_beam=round(len(eb & truth) / len(truth), 4),
                )
        elif name.startswith("q346"):
            kf = {r["doc_id"]: bool(r["keep"]) for r in flat_rows}
            kb = {r["doc_id"]: bool(r["keep"]) for r in beam_rows}
            ids = set(kf) | set(kb)
            flips = sum(1 for i in ids if kf.get(i) != kb.get(i))
            rec.update(
                verdict_flip_rate=round(flips / max(1, len(ids)), 4),
                n_flips=flips,
                dropped_flat=sum(1 for v in kf.values() if not v),
                dropped_beam=sum(1 for v in kb.values() if not v),
            )
        summary[name] = rec
        print(f"AGREE {name} x{factor} {growth} {json.dumps(rec)}", flush=True)
    print(
        "AGREE-JSON "
        + json.dumps(
            {"factor": factor, "growth": growth, "queries": summary}
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
