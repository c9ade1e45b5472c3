"""Persisted ANN index artifacts: IVF coarse quantizer → lake tables.

q106/q150 train their quantizer in-session; a real pipeline trains ONCE,
writes the index next to the corpus, and every later search job reloads
it (round-6 VERDICT item 6). The artifact layout mirrors what a
FAISS-style IVF index holds, as plain parquet so any engine can read it:

- ``centroids.parquet``  — (bucket INT, cq ARRAY<BIGINT>): the trained
  coarse centroids in the EXACT floor-quantized integer domain
  (operators/similarity.KMEANS_SCALE). Integers round-trip losslessly
  through parquet, so a loaded index assigns bit-identically to the
  trainer — the property the q318 parity oracle checks.
- ``postings.parquet``   — (bucket INT, vec_id BIGINT): the inverted
  lists, written partitioned by ``bucket`` so a search that probes
  ``nprobe`` buckets prunes its posting scan to those directories
  (partition pruning — the on-disk analogue of scanning nprobe inverted
  lists).
- ``_META.json``         — k, iters, quantization scale, corpus size:
  enough to refuse a mismatched load loudly.

100 TB posture: postings are O(corpus) rows of two ints — linear, and
the partitioned write is one shuffle by bucket; centroids are k×dim ints
(driver-scale). Loading centroids is a bounded collect (k rows); loading
postings is a lazy scan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..functions.localframe import local_frame
from .artifact import (
    _SAVED,
    artifact_path,
    load_artifact_meta,
    publish_artifact,
)
from ..sources.tables import read_parquet


def ivf_index_path(sf_dir: str) -> str:
    """Deterministic scratch location for a corpus's index artifact —
    see :func:`artifact.artifact_path` for the full-path-hash rationale
    (round-7 ADVICE)."""
    return artifact_path("/tmp/spark_graft_ann_index", sf_dir)


def save_ivf_index(
    spark: SparkSession,
    centroids: list[tuple[int, list[int]]],
    postings: DataFrame,
    path: str,
    meta: dict | None = None,
) -> dict:
    """Write the trained IVF index (quantized centroids + inverted
    lists) as parquet tables under ``path``. Idempotent per session."""

    def payload(tmp: str) -> None:
        cdf = local_frame(
            spark,
            [(int(b), [int(v) for v in cv]) for b, cv in centroids],
            "bucket INT, cq ARRAY<BIGINT>",
        )
        cdf.coalesce(1).write.mode("overwrite").parquet(
            f"{tmp}/centroids.parquet"
        )
        (
            postings.select(
                F.col("bucket").cast("int"), F.col("vec_id").cast("long")
            )
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{tmp}/postings.parquet")
        )

    return publish_artifact(
        path, payload, {"k": len(centroids), **(meta or {})}
    )


def append_ivf_postings(
    spark: SparkSession,
    postings: DataFrame,
    path: str,
    tag: str,
    n_new: int,
) -> dict:
    """Fold a later ingest batch's inverted-list rows into an EXISTING
    index artifact — the ANN mirror of band-index compaction (q330) and
    incremental SCD2 (q331): maintenance that extends a persisted
    artifact without retraining or rewriting it. New parquet files land
    INSIDE the same ``bucket=N`` partition directories (exactly how a
    partitioned lake table takes appends — the write shuffles only the
    batch, O(|batch|) two-int rows), and ``_META.json``'s posting count
    advances so readers can recount-audit the artifact.

    Idempotent per (artifact, tag): a marker file records an applied
    batch, so sweep/bench re-runs of the same registered query never
    double-append. A concurrent full rebuild that replaces the artifact
    also removes the marker (the publish is a directory rename), which
    re-arms the append — and q332's post-reload recount raises loudly if
    any interleaving dropped or doubled a batch."""
    meta_path = f"{path}/_META.json"
    load_artifact_meta(path, "ANN index (append target)", "save_ivf_index")
    marker = f"{path}/_APPEND_{tag}.json"
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)
    (
        postings.select(
            F.col("bucket").cast("int"), F.col("vec_id").cast("long")
        )
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(f"{path}/postings.parquet")
    )
    with open(meta_path) as f:
        meta = json.load(f)
    meta["n_postings"] = int(meta.get("n_postings", 0)) + int(n_new)
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    info = {"tag": tag, "n_new": int(n_new)}
    with open(marker, "w") as f:
        json.dump(info, f)
    _SAVED[path] = meta
    return info


def save_pq_index(
    spark: SparkSession,
    coarse: list[tuple[int, list[int]]],
    sub_codebooks: list[list[tuple[int, list[int]]]],
    path: str,
    meta: dict | None = None,
) -> dict:
    """Write the full IVF-PQ quantizer state — the coarse codebook plus
    the m per-subspace PQ codebooks — as ONE parquet table keyed by
    quantizer space ('coarse', 'sub0'..'sub{m-1}'). All integers on the
    KMEANS_SCALE grid, so the artifact reloads bit-identically."""

    def payload(tmp: str) -> None:
        rows = [("coarse", int(b), [int(v) for v in cv]) for b, cv in coarse]
        for j, cents in enumerate(sub_codebooks):
            rows.extend(
                (f"sub{j}", int(b), [int(v) for v in cv]) for b, cv in cents
            )
        local_frame(
            spark, rows, "space STRING, bucket INT, cq ARRAY<BIGINT>"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp}/codebooks.parquet"
        )

    return publish_artifact(
        path,
        payload,
        {
            "coarse_k": len(coarse),
            "m": len(sub_codebooks),
            "pq_k": len(sub_codebooks[0]) if sub_codebooks else 0,
            **(meta or {}),
        },
    )


def load_pq_index(
    spark: SparkSession, path: str
) -> tuple[list, list[list], dict]:
    """Reload (coarse codebook, [m sub codebooks], meta) from
    :func:`save_pq_index`'s layout. Bounded collect — quantizer state is
    k×dim driver ints, like the FAISS-resident equivalent."""
    meta = load_artifact_meta(path, "PQ index", "save_pq_index")
    rows = (
        read_parquet(spark, f"{path}/codebooks.parquet")
        .orderBy("space", "bucket")
        .collect()
    )
    by_space: dict[str, list] = {}
    for r in rows:
        by_space.setdefault(r["space"], []).append(
            (int(r["bucket"]), [int(v) for v in r["cq"]])
        )
    coarse = by_space.get("coarse", [])
    subs = [by_space.get(f"sub{j}", []) for j in range(meta["m"])]
    if len(coarse) != meta["coarse_k"] or any(
        len(s) != meta["pq_k"] for s in subs
    ):
        raise ValueError(f"PQ index at {path} is corrupt vs its _META.json")
    return coarse, subs, meta


def load_ivf_index(
    spark: SparkSession, path: str
) -> tuple[list[tuple[int, list[int]]], DataFrame, dict]:
    """Reload a saved index: (centroids as driver state — the same k×dim
    bounded object kmeans_assign trains, postings as a lazy DataFrame,
    meta). Raises FileNotFoundError on a missing/partial artifact rather
    than searching an empty index."""
    meta = load_artifact_meta(path, "ANN index", "save_ivf_index")
    crows = (
        read_parquet(spark, f"{path}/centroids.parquet")
        .orderBy("bucket")
        .collect()
    )
    centroids = [(int(r["bucket"]), [int(v) for v in r["cq"]]) for r in crows]
    if len(centroids) != meta["k"]:
        raise ValueError(
            f"index at {path} is corrupt: meta k={meta['k']} but "
            f"{len(centroids)} centroid rows"
        )
    postings = read_parquet(spark, f"{path}/postings.parquet").select(
        F.col("vec_id").cast("long"), F.col("bucket").cast("int")
    )
    return centroids, postings, meta
