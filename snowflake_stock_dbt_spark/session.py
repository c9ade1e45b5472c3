"""SparkSession factory.

The reference delegates execution to Snowflake's warehouse; here a single
well-configured SparkSession is the engine. Config choices:

- AQE on (runtime join-strategy switches, skew-join splitting, partition
  coalescing) — the Snowflake-warehouse robustness analog (SURVEY.md §4).
- UTC session timezone — the reference's scraper emits UTC ISO-8601
  (reference scraper/scrape.py:124); pinning UTC keeps timestamp semantics
  identical to the DuckDB oracle.
- Arrow enabled for any pandas-UDF seam.
- shuffle.partitions sized from the env (local mode ≈ cores); on a real
  cluster this would be ~2-3× total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """The driver heap cap: 48g, or half of physical RAM when that is less.

    local[] mode runs every task in the driver JVM, so a large heap keeps
    32 concurrent tasks of hash/decimal-heavy work from turning into a GC
    benchmark. A cap above physical RAM is worse than a small one: on a
    host without swap the OS kills the JVM before Java can raise an
    ``OutOfMemoryError``, and the session dies with no Java error."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 * 1024, phys_bytes // 2**21)}m"


def get_spark(
    app_name: str = "snowflake_stock_dbt_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` sets local parallelism (default 32 threads to match
    the driver box); shuffle partitions default to the same number so a
    local run has one post-shuffle task per core.
    """
    # Before the JVM launches: make google.protobuf importable (needed by
    # transformWithStateInPandas) in this process AND in the Python
    # workers, which inherit PYTHONPATH fixed at JVM start (compat.py).
    from .compat import ensure_protobuf

    ensure_protobuf()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor defaults to 1 MiB partitions, which for
        # this engine's CPU-dense operators (exact-decimal aggregation,
        # array intersection, HOF folds — seconds of CPU per shuffled MB)
        # coalesces small shuffles onto a handful of cores. 64 KiB keeps
        # post-shuffle work spread across the available parallelism; the
        # floor only binds when shuffle bytes < parallelism x 1 MiB, so at
        # production scale the advisory size (not this) governs.
        # Interleaved same-JVM A/B at sf0.1: 30.0s -> 24.3s over the 7
        # most CPU-dense queries (q143 0.70x, q114 0.68x, q204 0.75x).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # Non-ANSI: try_cast-style null-on-malformed matches the reference's
        # TRY_TO_* loading semantics (reference sql/02_load_data.sql:100-107).
        .config("spark.sql.ansi.enabled", "false")
        # The test corpus's events.parquet stores TIMESTAMP(NANOS), which the
        # Spark parquet reader rejects by default; read as long and convert
        # in sources/tables.py (truncating ns->us exactly like DuckDB's cast).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Corpora regenerated with TIMESTAMP(MICROS, isAdjustedToUTC=false)
        # would otherwise surface as TIMESTAMP_NTZ; read them as TIMESTAMP
        # (session TZ is UTC, so the instant is identical to DuckDB's naive
        # reading) so every downstream instant function keeps working.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Drive-to-completion streams (Trigger.AvailableNow-style) don't
        # benefit from background state-store snapshot maintenance, and
        # stopped queries' providers linger until maintenance unloads them —
        # keep the interval beyond job lifetime and retain minimal batches
        # so finished streams leave no background I/O behind.
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    total_executor_cores: int,
    shuffle_partition_factor: int = 2,
    use_rocksdb: bool = True,
) -> dict[str, str]:
    """The engine's recommended conf for a REAL cluster (the local[]
    factory above is the test harness; this is what `spark-submit` on a
    1000-executor deployment sets). Returned as a dict so callers merge
    it into ``get_spark(extra_conf=...)`` or a spark-defaults file.

    Sizing rules, each tied to an operator family in PLANS.md:

    - ``shuffle.partitions`` = 2-3x total executor cores: every keyed
      agg/join in the library is one shuffle wide; post-shuffle tasks
      should be ~128-256 MiB at the target SF.
    - ``files.maxPartitionBytes`` 256 MiB: scan tasks sized so the
      TPC-H-shaped fact scans keep every core busy without tiny-task
      scheduling overhead.
    - RocksDB state store: the streaming operators (stateful totals,
      stream-stream joins) keep per-key state; HDFS-backed in-memory
      state OOMs at cluster key cardinalities.
    - dynamic allocation + shuffle tracking: the bench-style bursty
      query mix releases executors between queries.
    - ``autoBroadcastJoinThreshold`` raised to 64 MiB: every dimension
      in the library is broadcast-shaped; at cluster memory sizes the
      10 MiB default forces needless shuffle joins (AQE still downgrades
      when runtime stats disagree).
    """
    conf = {
        "spark.sql.shuffle.partitions": str(
            total_executor_cores * shuffle_partition_factor
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
        # Same CPU-density argument as the local factory: never coalesce
        # below the cluster's parallelism just because a shuffle is small
        # in bytes — the engine's per-byte CPU (decimal-exact arithmetic)
        # makes 1 MiB partitions seconds-long tasks.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.ansi.enabled": "false",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.shuffle.service.enabled": "false",
    }
    if use_rocksdb:
        conf["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    return conf
