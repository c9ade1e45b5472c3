"""Upsert (MERGE INTO) semantics — reference sql/02_load_data.sql:78-165 (J6).

The reference MERGE updates *every* column from the source on match and
inserts on no-match, so the relational semantics reduce to:

    result = target ANTI-JOIN source ON key   UNION ALL   source

Two strategies:

- :func:`merge_upsert` — the pure transform (works on any DataFrame pair;
  this is also what the MERGE compiles to in engines without a mutable
  table format).
- :func:`merge_upsert_write` — materialization against a Parquet path:
  read-current → transform → overwrite. At reference scale a full rewrite
  is fine; at 100 TB this must be partition-scoped (only rewrite the
  ``partition_col`` values present in the source — Delta/Iceberg MERGE or
  dynamic partition overwrite), which is what the ``partition_col``
  parameter enables via ``partitionOverwriteMode=dynamic``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..sources.tables import read_parquet

#: Cap on the partition-scoped rewrite set. Date-partitioned upsert batches
#: touch a handful of partitions; thousands means the driver-side isin()
#: list and the rewrite itself are the wrong tool (use Delta/Iceberg MERGE).
_MAX_REWRITE_PARTITIONS = 10_000


def merge_upsert(target: DataFrame, source: DataFrame, key: str | list[str]) -> DataFrame:
    """MERGE semantics as a pure transform (matched→replace, else insert)."""
    keys = [key] if isinstance(key, str) else list(key)
    kept = target.join(source.select(*keys).distinct(), keys, "left_anti")
    return kept.unionByName(source.select(*target.columns))


def merge_upsert_write(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str | list[str],
    partition_col: str | None = None,
) -> None:
    """Materialized upsert into a Parquet table at ``path``.

    With ``partition_col``, only partitions present in the source batch are
    rewritten (dynamic partition overwrite) — the 100 TB-safe path; without
    it, the whole table is rewritten (reference-scale only).
    """
    try:
        target = read_parquet(spark, path)
        exists = True
    except Exception:
        exists = False

    if not exists:
        writer = source.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(path)
        return

    if partition_col:
        keys = [key] if isinstance(key, str) else list(key)
        # Rewrite set = source partitions PLUS partitions holding matched
        # keys: a matched key whose partition value changed must be removed
        # from its OLD partition, or the table ends up with the key twice.
        src_parts = source.select(partition_col).distinct()
        matched_parts = (
            target.join(source.select(*keys).distinct(), keys, "left_semi")
            .select(partition_col)
            .distinct()
        )
        parts = [
            r[0] for r in src_parts.union(matched_parts).distinct().collect()
        ]
        if len(parts) > _MAX_REWRITE_PARTITIONS:
            raise ValueError(
                f"merge_upsert_write: batch touches {len(parts)} partitions "
                f"(> {_MAX_REWRITE_PARTITIONS}); a rewrite set this large "
                "means the partition column is wrong for this workload — "
                "repartition the table or use delta_merge_upsert"
            )
        scoped_target = target.where(F.col(partition_col).isin(parts))
        merged = merge_upsert(scoped_target, source, key)
        # Materialize before overwriting the path we are reading from, and
        # so the surviving-partition check below reuses the cached result.
        merged.cache()
        surviving = {r[0] for r in merged.select(partition_col).distinct().collect()}
        vanished = [p for p in parts if p not in surviving]
        if vanished:
            # Dynamic overwrite only replaces partitions it writes — it
            # cannot delete one whose rows all moved away. Rare: fall back
            # to a full rewrite so no stale rows survive.
            full = merge_upsert(target, source, key)
            full.cache()
            full.count()
            merged.unpersist()
            full.write.mode("overwrite").partitionBy(partition_col).parquet(path)
            full.unpersist()
            return
        # Per-write dynamic overwrite: replaces only the written
        # partitions and leaves the session conf alone.
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
        merged.unpersist()
    else:
        merged = merge_upsert(target, source, key)
        # Break the read-then-overwrite cycle on the same path.
        merged.cache()
        merged.count()
        merged.write.mode("overwrite").parquet(path)
        merged.unpersist()


def delta_merge_upsert(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str | list[str],
) -> None:
    """MERGE INTO on a Delta table — the transactional upsert used when
    delta-spark is on the classpath (capability-gated: this environment
    ships plain Parquet, so the partition-scoped strategy above is the
    production path here). Matched rows update every column, unmatched
    insert — the reference's MERGE contract (sql/02_load_data.sql:115-163).
    """
    try:
        from delta.tables import DeltaTable  # type: ignore[import-not-found]
    except ImportError as exc:
        raise NotImplementedError(
            "delta-spark is not installed; use merge_upsert_write "
            "(partition-scoped Parquet overwrite) instead"
        ) from exc

    keys = [key] if isinstance(key, str) else list(key)
    if not DeltaTable.isDeltaTable(spark, path):
        source.write.format("delta").mode("overwrite").save(path)
        return
    cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    (
        DeltaTable.forPath(spark, path)
        .alias("t")
        .merge(source.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
