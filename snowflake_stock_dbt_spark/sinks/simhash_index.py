"""Persisted SimHash slice index: the third index-as-artifact family.

q318/q322 persisted the ANN quantizer state and q323 the MinHash band
index; this module does the same for SimHash near-dup candidates, so a
crawling pipeline can build the slice index ONCE per ingest and probe
every later batch against the stored artifact. Layout, as plain parquet
so any engine can read it:

- ``slices.parquet`` — (doc_id BIGINT, simhash BIGINT, slice BIGINT)
  partitioned by ``band_id``: one directory per bit-slice band, each
  sorted by ``slice`` so parquet row-group min/max stats prune a probe's
  bucket lookups inside the band. The full signature rides along so the
  probe's exact Hamming filter needs no second lookup.
- ``_META.json`` — bits / bands of the signature family plus the indexed
  row count: a probe against an index built with a different family
  would silently match nothing, so a mismatched load raises instead.

Publish is staged + renamed (artifact._publish_atomically): readers
never observe parquet-without-meta.

100 TB posture: the index is O(corpus × bands) four-column rows — one
partitioned shuffle to write; probing is |batch| signatures + one
(band_id, slice) equi-join against a lazy scan of the artifact.
History is NEVER re-signatured per increment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textdedup import SIMHASH_BANDS, SIMHASH_BITS
from .artifact import (
    artifact_path,
    load_artifact_meta,
    publish_artifact,
    require_family,
)
from ..sources.tables import read_parquet


def simhash_index_path(sf_dir: str) -> str:
    """Deterministic scratch location, keyed on a hash of the FULL corpus
    path (artifact.artifact_path)."""
    return artifact_path("/tmp/spark_graft_simhash_index", sf_dir)


def save_simhash_index(
    spark: SparkSession,
    slices: DataFrame,
    path: str,
    meta: dict | None = None,
    bits: int = SIMHASH_BITS,
    n_bands: int = SIMHASH_BANDS,
) -> dict:
    """Write a (doc_id, simhash, band_id, slice) slice frame (from
    operators.textdedup.simhash_slices) as the partitioned artifact.
    Idempotent per session; returns the written meta."""

    def payload(tmp: str) -> dict:
        rows = (
            slices.select(
                F.col("band_id").cast("int"),
                F.col("doc_id").cast("long"),
                F.col("simhash").cast("long"),
                F.col("slice").cast("long"),
            )
            # one output partition per band, rows clustered by slice so
            # each band directory is a sorted inverted list
            .repartition("band_id")
            .sortWithinPartitions("slice")
            .persist()
        )
        n_rows = rows.count()
        (
            rows.write.mode("overwrite")
            .partitionBy("band_id")
            .parquet(f"{tmp}/slices.parquet")
        )
        rows.unpersist()
        return {"n_rows": n_rows}

    return publish_artifact(
        path, payload, {"bits": bits, "bands": n_bands, **(meta or {})}
    )


def load_simhash_index(
    spark: SparkSession,
    path: str,
    bits: int = SIMHASH_BITS,
    n_bands: int = SIMHASH_BANDS,
) -> tuple[DataFrame, dict]:
    """Reload (lazy slice frame, meta). Raises on a missing artifact or a
    signature-family mismatch."""
    meta = load_artifact_meta(path, "simhash index", "save_simhash_index")
    require_family(
        path,
        meta,
        {"bits": bits, "bands": n_bands},
        "simhash index",
        "signature family",
    )
    slices = read_parquet(spark, f"{path}/slices.parquet").select(
        F.col("doc_id").cast("long"),
        F.col("simhash").cast("long"),
        F.col("band_id").cast("int"),
        F.col("slice").cast("long"),
    )
    return slices, meta
