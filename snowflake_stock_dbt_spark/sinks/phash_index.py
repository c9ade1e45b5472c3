"""Persisted pHash band index: the MEDIA member of the index-as-artifact
family (q318/q322 ANN quantizer state, q323/q330 MinHash bands, q329
SimHash slices — this module closes the set across modalities).

A crawling pipeline hashes every image ONCE at ingest and probes each
later batch against the stored artifact; history payloads are never
re-decoded or re-hashed. Layout, plain parquet so any engine reads it:

- ``bands.parquet`` — (media_id BIGINT, b0..b3 BIGINT, bv BIGINT)
  partitioned by ``band_id``: one directory per 16-bit band, rows
  clustered by ``bv`` so row-group min/max stats prune a probe's bucket
  lookups inside the band. The FULL 4-band signature rides along so the
  probe's exact Hamming verdict needs no second lookup (the q329 slice
  discipline).
- ``_META.json`` — bands / band_bits of the hash family + indexed row
  count; a family-mismatched load raises instead of silently matching
  nothing.

Publish is staged + renamed (artifact._publish_atomically): readers
never observe parquet-without-meta.

100 TB posture: the artifact is O(|media| × bands) six-column rows —
one partitioned shuffle to write; probing is |batch| signatures (the
only Arrow decode pass) + one (band_id, bv) equi-join against a lazy
scan of the artifact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import PHASH_BANDS, PHASH_BAND_BITS
from .artifact import (
    artifact_path,
    load_artifact_meta,
    publish_artifact,
    require_family,
)
from ..sources.tables import read_parquet

_BAND_COLS = [f"b{i}" for i in range(PHASH_BANDS)]


def phash_index_path(sf_dir: str) -> str:
    """Deterministic scratch location, keyed on a hash of the FULL corpus
    path (artifact.artifact_path)."""
    return artifact_path("/tmp/spark_graft_phash_index", sf_dir)


def melt_phash_bands(bands_wide: DataFrame) -> DataFrame:
    """(media_id, b0..b3) -> (media_id, b0..b3, band_id, bv): one row per
    band with the full signature carried — the index/probing layout."""
    per_band = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"), F.col(c).alias("bv")
            )
            for i, c in enumerate(_BAND_COLS)
        ]
    )
    return bands_wide.select(
        "media_id",
        *_BAND_COLS,
        F.explode(per_band).alias("__b"),
    ).select(
        "media_id",
        *_BAND_COLS,
        F.col("__b.band_id").alias("band_id"),
        F.col("__b.bv").alias("bv"),
    )


def save_phash_index(
    spark: SparkSession,
    bands_wide: DataFrame,
    path: str,
    meta: dict | None = None,
) -> dict:
    """Write a wide pHash band frame (operators.multimodal.phash_bands)
    as the partitioned artifact. Idempotent per session; returns meta."""

    def payload(tmp: str) -> dict:
        rows = (
            melt_phash_bands(bands_wide)
            .select(
                F.col("band_id").cast("int"),
                F.col("media_id").cast("long"),
                *[F.col(c).cast("long") for c in _BAND_COLS],
                F.col("bv").cast("long"),
            )
            .repartition("band_id")
            .sortWithinPartitions("bv")
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
        {"bands": PHASH_BANDS, "band_bits": PHASH_BAND_BITS, **(meta or {})},
    )


def load_phash_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Reload (lazy band frame, meta). Raises on a missing artifact or a
    hash-family mismatch."""
    meta = load_artifact_meta(path, "pHash index", "save_phash_index")
    require_family(
        path,
        meta,
        {"bands": PHASH_BANDS, "band_bits": PHASH_BAND_BITS},
        "pHash index",
    )
    df = read_parquet(spark, f"{path}/bands.parquet")
    return df, meta
