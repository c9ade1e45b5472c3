"""Persisted HLL register store: sketches as lake artifacts.

q336 computes HLL registers in-session; a warehouse serves distinct
counts over ARBITRARY date ranges by persisting the per-day register
tables once at ingest and MAX-merging only the requested days at query
time — the classic "sketch rollup" (Agarwal et al., Mergeable Summaries,
TODS 2013): because register MAX is associative and commutative, a
merge of daily sketches equals the sketch of the union EXACTLY, so a
range query never rescans raw events. Layout, as plain parquet so any
engine can read it:

- ``registers.parquet`` — (event_type STRING, bucket INT, mreg INT)
  partitioned by ``day`` (BIGINT epoch-day): a range query's scan prunes
  to the requested day directories (partition pruning — the on-disk
  analogue of reading that range's sketch pages).
- ``_META.json`` — the register geometry (p, m, wbits) plus the row
  count: enough to refuse a mismatched hash family or torn artifact
  loudly.

Publish is staged + renamed (artifact._publish_atomically): readers
never observe parquet-without-meta.

100 TB posture: the store is |days|·|groups|·m three-int rows — one
partitioned shuffle at ingest; every later range rollup touches only
the pruned day partitions and merges ≤ |groups|·m cells per day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import HLL_M, HLL_P, HLL_WBITS
from .artifact import (
    artifact_path,
    load_artifact_meta,
    publish_artifact,
    require_family,
)
from ..sources.tables import read_parquet


def hll_store_path(sf_dir: str) -> str:
    """Deterministic scratch location for a corpus's register store,
    keyed on a hash of the FULL corpus path (artifact.artifact_path)."""
    return artifact_path("/tmp/spark_graft_hll_store", sf_dir)


def save_hll_registers(
    spark: SparkSession,
    registers: DataFrame,
    path: str,
    meta: dict | None = None,
) -> dict:
    """Write per-day registers (day, event_type, bucket, mreg) as a
    day-partitioned parquet artifact. Idempotent per session."""

    def payload(tmp: str) -> dict:
        n_rows = registers.count()
        (
            registers.select(
                F.col("day").cast("long"),
                F.col("event_type").cast("string"),
                F.col("bucket").cast("int"),
                F.col("mreg").cast("int"),
            )
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(f"{tmp}/registers.parquet")
        )
        return {"n_rows": int(n_rows)}

    return publish_artifact(
        path,
        payload,
        {"p": HLL_P, "m": HLL_M, "wbits": HLL_WBITS, **(meta or {})},
    )


def load_hll_registers(
    spark: SparkSession, path: str, p: int = HLL_P
) -> tuple[DataFrame, dict]:
    """Reload the register store as a lazy DataFrame + meta. Refuses a
    mismatched register geometry (a merge across different p would
    silently produce garbage estimates) and a torn artifact."""
    meta = load_artifact_meta(path, "HLL register store", "save_hll_registers")
    # A merge across different register geometries would silently
    # corrupt every estimate — the family check is p AND m = 2^p.
    require_family(
        path,
        meta,
        {"p": p, "m": 1 << p},
        "HLL register store",
        "register geometry (hash family)",
    )
    regs = read_parquet(spark, f"{path}/registers.parquet").select(
        F.col("day").cast("long"),
        "event_type",
        F.col("bucket").cast("int"),
        F.col("mreg").cast("int"),
    )
    return regs, meta
