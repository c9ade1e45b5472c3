"""Persisted MinHash LSH band index: the dedup-side lake artifact.

q149 probes a history band index built in-session; a real crawling
pipeline builds the index ONCE per ingest and every later batch probes
the stored artifact (the dedup mirror of sinks/ann_index.py's IVF
postings — round-7 VERDICT item 6). Layout, as plain parquet so any
engine can read it:

- ``bands.parquet`` — (doc_id BIGINT, band_hash STRING) partitioned by
  ``band_id``: one directory per LSH band (the on-disk analogue of one
  hash table per band), each sorted by ``band_hash`` so parquet
  row-group min/max stats prune a probe's bucket lookups inside the
  band — the inverted-list locality a FAISS/ScaNN-style store gets from
  its bucket files.
- ``_META.json`` — n_hashes / bands / shingle k of the hash family plus
  the indexed row count: enough to refuse a mismatched or torn load
  loudly (a probe against an index built with a DIFFERENT hash family
  would silently match nothing).

Publish is staged + renamed (artifact._publish_atomically): readers
never observe parquet-without-meta.

100 TB posture: the index is O(corpus × bands) three-column rows — one
partitioned shuffle to write; probing is |batch| signatures + one
(band_id, band_hash) equi-join against a lazy scan of the artifact.
History is NEVER re-signatured per increment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textdedup import LSH_BANDS, MINHASH_SEEDS
from .artifact import (
    _SAVED,
    artifact_path,
    load_artifact_meta,
    publish_artifact,
    require_family,
)
from ..sources.tables import read_parquet


def band_index_path(sf_dir: str) -> str:
    """Deterministic scratch location for a corpus's band index, keyed on
    a hash of the FULL corpus path (artifact.artifact_path)."""
    return artifact_path("/tmp/spark_graft_band_index", sf_dir)


def save_band_index(
    spark: SparkSession,
    bands: DataFrame,
    path: str,
    meta: dict | None = None,
    k: int = 3,
    n_hashes: int = MINHASH_SEEDS,
    n_bands: int = LSH_BANDS,
) -> dict:
    """Write a (doc_id, band_id, band_hash) band frame (from
    operators.textdedup.banded_signatures) as the partitioned artifact.
    Idempotent per session; returns the written meta."""

    def payload(tmp: str) -> dict:
        rows = (
            bands.select(
                F.col("band_id").cast("int"),
                F.col("doc_id").cast("long"),
                F.col("band_hash").cast("string"),
            )
            # one output partition per band, rows clustered by band_hash
            # so each band directory is a sorted inverted list
            .repartition("band_id")
            .sortWithinPartitions("band_hash")
            .persist()
        )
        n_rows = rows.count()
        (
            rows.write.mode("overwrite")
            .partitionBy("band_id")
            .parquet(f"{tmp}/bands.parquet")
        )
        rows.unpersist()
        return {"n_rows": n_rows}

    return publish_artifact(
        path,
        payload,
        {"k": k, "n_hashes": n_hashes, "bands": n_bands, **(meta or {})},
    )


def merge_band_indexes(
    spark: SparkSession,
    paths: list[str],
    out_path: str,
) -> dict:
    """Compact several band-index artifacts (e.g. one per ingest day)
    into ONE: the index-maintenance operation a continuous crawl needs so
    probe cost stays one artifact scan instead of one per day.

    Band rows are per-document independent, so the merge is a pure
    union + re-partition-by-band rewrite — no re-signaturing, no pair
    recomputation. Hash families must match across inputs (checked via
    each _META.json; a mixed-family merge would silently split buckets).
    The merged artifact is bit-identical in CONTENT to an index built in
    one shot over the union of the inputs' corpora — parity pinned by
    q330's oracle, which is exactly Q149's single-build SQL.
    """
    frames, metas = [], []
    for p in paths:
        bands, meta = load_band_index(spark, p)
        frames.append(bands)
        metas.append(meta)
    fam = {k: metas[0][k] for k in ("k", "n_hashes", "bands")}
    for m in metas[1:]:
        got = {k: m.get(k) for k in fam}
        if got != fam:
            raise ValueError(
                f"cannot merge band indexes with different hash families: "
                f"{fam} vs {got}"
            )
    merged = frames[0]
    for f in frames[1:]:
        merged = merged.unionByName(f)
    # save_band_index memoizes per path; a merge target must re-write.
    _SAVED.pop(out_path, None)
    return save_band_index(
        spark,
        merged,
        out_path,
        meta={"merged_from": len(paths)},
        k=fam["k"],
        n_hashes=fam["n_hashes"],
        n_bands=fam["bands"],
    )


def load_band_index(
    spark: SparkSession,
    path: str,
    k: int = 3,
    n_hashes: int = MINHASH_SEEDS,
    n_bands: int = LSH_BANDS,
) -> tuple[DataFrame, dict]:
    """Reload (lazy band frame, meta). Raises on a missing artifact or a
    hash-family mismatch — probing with the wrong family would silently
    return zero matches, the worst failure mode for a dedup gate."""
    meta = load_artifact_meta(path, "band index", "save_band_index")
    require_family(
        path,
        meta,
        {"k": k, "n_hashes": n_hashes, "bands": n_bands},
        "band index",
        "hash family",
    )
    bands = read_parquet(spark, f"{path}/bands.parquet").select(
        F.col("doc_id").cast("long"),
        F.col("band_id").cast("int"),
        F.col("band_hash").cast("string"),
    )
    return bands, meta
