"""Parquet table loaders for the driver-generated test corpus.

At 100 TB these reads are the dominant cost; everything here is a plain
``spark.read.parquet`` so Catalyst keeps predicate pushdown, column pruning
and partition pruning (SURVEY.md §4). No caching by default — callers decide.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import TESTDATA_TABLES

#: Columns stored as parquet TIMESTAMP(NANOS), which Spark reads as long
#: under spark.sql.legacy.parquet.nanosAsLong (session.py). Converted here to
#: TimestampType by integer ns->us division — the same truncation DuckDB
#: applies when casting TIMESTAMP_NS to TIMESTAMP, so both engines see
#: identical instants.
_NANO_TS_COLUMNS = {"events": ["ts"]}


#: :func:`session_memo`'s entries: (application id, path, name) ->
#: (fingerprint of path, value). A changed fingerprint rebuilds and
#: replaces the entry, so each key holds one entry.
_MEMO: dict[tuple, tuple] = {}


def _fingerprint(spark: SparkSession, path: str) -> tuple | None:
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            # Recurse one level so partition-dir layouts (dir/part=x/file)
            # re-key when a nested file changes — a leaf write two levels
            # down does not touch the top-level entry's mtime (ADVICE r11).
            sig = 0
            for entry in sorted(os.listdir(path)):
                p = os.path.join(path, entry)
                s = os.stat(p)
                sig ^= hash((entry, s.st_mtime_ns, s.st_size))
                if os.path.isdir(p):
                    for sub in sorted(os.listdir(p)):
                        ss = os.stat(os.path.join(p, sub))
                        sig ^= hash((entry, sub, ss.st_mtime_ns, ss.st_size))
            ident: tuple = ("dir", st.st_mtime_ns, sig)
        else:
            ident = ("file", st.st_mtime_ns, st.st_size)
    except OSError:
        return None
    confs = (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None),
        spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", None),
        spark.conf.get("spark.sql.parquet.mergeSchema", None),
        spark.conf.get("spark.sql.caseSensitive", None),
    )
    return (os.path.abspath(path), ident, confs)


def session_memo(spark: SparkSession, path: str, name, build: Callable):
    """``build()``, memoized per Spark application, ``path`` and ``name``
    until the files under ``path`` (or the parquet confs) change; a path
    that cannot be stat'ed is never memoized. Concurrent lookups of one
    key may both build; builds are deterministic, so either serves."""
    fp = _fingerprint(spark, path)
    if fp is None:
        return build()
    key = (spark.sparkContext.applicationId, fp[0], name)
    hit = _MEMO.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = build()
    _MEMO[key] = (fp, value)
    return value


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The inferred schema of a parquet path, memoized per file state
    (saves the per-call footer-inference pass: 130 ms -> 24 ms)."""
    return session_memo(
        spark, path, "schema", lambda: spark.read.parquet(path).schema
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the schema served from the memo —
    skips the per-call footer-inference pass; the data scan itself is
    untouched (pushdown/pruning still reach the parquet reader)."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one synthetic table (``{sf_dir}/{name}.parquet``).

    ``spread=True`` repartitions up to the default parallelism right
    after the read — guide §2.5's unsplittable-input fix — and is opted
    into ONLY by plans whose first stage is CPU-dense (exact-decimal
    aggregation, regression folds) and would otherwise serialize on a
    low-file-count scan. The underlying guard (``ensure_min_parallelism``)
    no-ops whenever the scan already has >= parallelism files, i.e. at
    any real scale; measured at sf0.1 it is a 0.44-0.80x win on the
    opted-in queries and was a measured LOSS for cheap scan+agg queries,
    which is why it is per-site opt-in rather than blanket.
    """
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for c in _NANO_TS_COLUMNS.get(name, []):
        df = normalize_instant(df, c)
    if spread:
        from ..functions.partitioning import ensure_min_parallelism

        df = ensure_min_parallelism(df)
    return df


def normalize_instant(df: DataFrame, c: str) -> DataFrame:
    """Normalize a timestamp column to TimestampType UTC instants.

    The corpus has shipped the events ``ts`` column as both TIMESTAMP(NANOS)
    (surfaced as bigint under nanosAsLong; ns->us division truncates exactly
    like DuckDB's TIMESTAMP_NS->TIMESTAMP cast) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (surfaced as TIMESTAMP_NTZ if the inferTimestampNTZ
    conf could not be applied; the session TZ is UTC so an NTZ->LTZ cast is
    instant-preserving). Handle every surfaced type so the engine does not
    depend on which corpus generation it runs against.
    """
    dtype = dict(df.dtypes).get(c)
    if dtype == "bigint":
        return df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Read several tables into a dict keyed by table name."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for ``spark.sql`` use."""
    for n in TESTDATA_TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
