"""Persisted per-modality curation verdict frames — the artifact the
q346 composite SHOULD consume in production (round-9 VERDICT item 5).

q346_multimodal_curation derives its three inputs (text near-dup
components, media pHash clusters, semantic dedup verdicts) in-session;
at ×16 probe scale that re-runs q118's assign+pair stages the session's
other index jobs already computed — 74.5 s spent re-deriving state the
daily pipeline would have on disk. The daily-pipeline shape is: each
modality pipeline publishes its verdict table to the lake once per
ingest, and the curation job is just three doc_id equi-joins over those
artifacts (q349_curation_from_artifacts).

Layout (plain parquet, any engine reads it):

- ``text.parquet``     — (doc_id, text_component, text_cluster_size,
  text_keeper): q54's connected-component output.
- ``media.parquet``    — (doc_id, media_component, media_keeper):
  q147's pHash clusters, planted-twin rows excluded.
- ``semantic.parquet`` — (doc_id, sem_kept): q118's SemDeDup verdicts.
- ``_META.json``       — modality list + source corpus; a
  family-mismatched load raises instead of silently joining nothing.

Publish is staged + renamed (artifact._publish_atomically): readers
never observe parquet-without-meta. Idempotent per session (the _SAVED
memo), rebuilt once per process so a stale on-disk artifact from an
earlier session can never leak into a fresh run's results.

100 TB posture: each artifact is O(|documents|) rows of 2–4 columns —
one write per modality per ingest; the composite is three broadcast-or
shuffle equi-joins on doc_id with no recomputation of any pair stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .artifact import (
    _SAVED,
    artifact_path,
    load_artifact_meta,
    publish_artifact,
    require_family,
)
from ..sources.tables import read_parquet

MODALITIES = ("text", "media", "semantic")


def curation_store_path(sf_dir: str) -> str:
    """Deterministic scratch location, keyed on a hash of the FULL
    corpus path (artifact.artifact_path)."""
    return artifact_path("/tmp/spark_graft_curation", sf_dir)


def save_modality_verdicts(
    spark: SparkSession,
    frames: dict[str, DataFrame],
    path: str,
    meta: dict | None = None,
) -> dict:
    """Publish the three per-modality verdict frames as one atomic
    artifact. Idempotent per session; returns meta."""
    if _SAVED.get(path) is None:
        missing = [m for m in MODALITIES if m not in frames]
        if missing:
            raise ValueError(
                f"verdict store needs all modalities; missing {missing}"
            )

    def payload(tmp: str) -> None:
        for mod in MODALITIES:
            frames[mod].write.mode("overwrite").parquet(f"{tmp}/{mod}.parquet")

    return publish_artifact(
        path, payload, {"modalities": list(MODALITIES), **(meta or {})}
    )


def ensure_modality_verdicts(
    spark: SparkSession,
    path: str,
    builder,
    meta: dict | None = None,
) -> dict:
    """Publish-if-absent: invoke ``builder()`` (returning the modality
    frame dict) only when this session has not yet published ``path``.
    Constructing the per-modality frames is itself eager work (q54/q118
    plan building localCheckpoints candidate state), so a probe-only
    call must not pay it — measured 19 s -> composite-only when skipped
    at ×16."""
    cached = _SAVED.get(path)
    if cached is not None:
        return cached
    return save_modality_verdicts(spark, builder(), path, meta)


def load_modality_verdicts(
    spark: SparkSession, path: str
) -> tuple[dict[str, DataFrame], dict]:
    """Lazy scans of the three verdict tables; loud raise on a
    family-mismatched artifact (the q347/q329 load discipline)."""
    meta = load_artifact_meta(
        path, "curation verdict", "save_modality_verdicts"
    )
    require_family(
        path,
        meta,
        {"modalities": list(MODALITIES)},
        "verdict artifact",
        "modality set",
    )
    frames = {
        mod: read_parquet(spark, f"{path}/{mod}.parquet")
        for mod in MODALITIES
    }
    return frames, meta
