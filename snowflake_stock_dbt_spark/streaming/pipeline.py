"""[EXT] Structured Streaming ingestion over the events table.

The reference is a manually-triggered batch pipeline (SURVEY.md §2.10); its
recurring-snapshot shape maps naturally onto a Spark file-source stream.
These operators implement that mapping on the driver's ``events`` table:

- :func:`stream_events` — file-source ``readStream`` with an explicit schema
  (never inferred), including the ns→µs timestamp conversion the batch
  loader applies (sources/tables.py).
- :func:`streaming_tumbling_agg` — watermarked tumbling-window aggregation;
  in complete output mode its final state equals the batch Q28 semantics,
  which is exactly how it is oracle-checked.
- :func:`streaming_dedup` — ``dropDuplicatesWithinWatermark`` on the natural
  key: the streaming form of the reference's latest-wins MERGE dedup
  (sql/02_load_data.sql:109-112) — bounded state, late data beyond the
  watermark dropped.
- :func:`run_streaming_query` — drives a stream to completion synchronously
  with a memory sink (Trigger.AvailableNow semantics for tests/drivers).

At scale: the file source becomes Kafka/object-store listing; watermark
bounds state; ``complete`` mode would be replaced by ``update``/``append``
into an idempotent sink (foreachBatch + MERGE).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import normalize_instant, parquet_schema

def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table (ts normalized to µs instants).

    The stream schema is taken from the file footer via a static read (a
    footer-only operation — no data scan), because the corpus has shipped
    ``ts`` as both TIMESTAMP(NANOS) (surfaced as bigint under nanosAsLong)
    and TIMESTAMP(MICROS) (surfaced as timestamp); hardcoding either breaks
    the other. ``normalize_instant`` converts whatever surfaced to
    TimestampType UTC instants.
    """
    # The file source requires a directory (the landing-dir shape of
    # SURVEY.md §2.10). events.parquet is a single FILE inside the
    # driver-generated sf dirs (stream the parent with a glob filter),
    # but a DIRECTORY of part files in Spark-written corpora (the scale
    # probe's x{N} copies, and any real lake table) — and pathGlobFilter
    # matches LEAF file names, so the old glob-only path silently
    # streamed ZERO rows from directory corpora: every scale_probe
    # exponent recorded for a stream_events query before round 8 timed
    # an empty stream (caught by q340's dead-flat birth probe; the probe
    # harness now refuses empty results outright).
    path = f"{sf_dir}/events.parquet"
    schema = parquet_schema(spark, path)
    if os.path.isdir(path):
        raw = spark.readStream.schema(schema).format("parquet").load(path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
    return normalize_instant(raw, "ts")


def streaming_tumbling_agg(
    events: DataFrame, window_s: int = 300, watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked tumbling-window count/sum per event_type (no distinct
    aggregates — they are unsupported in streaming; approx_count_distinct is
    the scale substitute)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{window_s} seconds").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_hopping_agg(
    events: DataFrame,
    window_s: int = 300,
    hop_s: int = 60,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked hopping-window count/sum per event_type — the
    overlapping flavor of :func:`streaming_tumbling_agg`
    (``F.window(ts, width, slide)``). State grows width/hop windows per
    key group; the watermark bounds it exactly as for tumbling."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window(
                "ts", f"{window_s} seconds", f"{hop_s} seconds"
            ).alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_session_agg(
    events: DataFrame,
    gap_s: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked gap-based sessionization via the native streaming
    ``session_window`` — per (session, user) count/sum, append mode
    (sessions emit once the watermark proves the gap closed). Like the
    left-outer join, the LAST open sessions need later traffic to
    finalize — q144 streams the sentinel-flushed landing so drained
    output equals the batch q42 semantics exactly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{gap_s} seconds").alias("w"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "30 minutes"
) -> DataFrame:
    """First-seen dedup per key within the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["user_id", "event_type"]
    )


def stream_stream_interval_join(
    events: DataFrame,
    window_s: int = 600,
    watermark: str = "30 minutes",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: purchases attributed to a prior click
    by the same user within ``window_s`` seconds.

    The canonical watermarked two-stream join: both sides carry a
    watermark AND the join condition bounds event time on both sides, so
    Spark can size the join state and evict rows older than
    watermark + interval — without the time bound the state would grow
    forever. Drained to completion the output equals the batch interval
    join, which is how it is oracle-checked.

    ``join_type="leftOuter"`` additionally emits clicks with NO purchase
    in the window (nulls on the purchase side) — but an unmatched row
    only surfaces once the WATERMARK passes the end of its join window
    (that is when Spark can prove no match will arrive). A drained
    stream's final watermark sits ``watermark`` behind the newest event,
    so the newest clicks' outer rows stay buffered forever unless the
    feed carries later traffic; q142 appends sentinel flush events past
    every real join window precisely so drained output == batch LEFT
    JOIN (plans/streaming_plans.py:_flush_events_landing).
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + interval {window_s} seconds
            """
        ),
        join_type,
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_micros(F.col("click_ts")).alias("click_ts_us"),
        F.unix_micros(F.col("purchase_ts")).alias("purchase_ts_us"),
    )


#: Spark's RocksDB state-store provider (bundled rocksdbjni) — required
#: by transformWithStateInPandas, whose named-state cells map to RocksDB
#: column families the default HDFS-backed provider doesn't support.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def _drain_checkpoint(spark: SparkSession, name: str) -> str | None:
    """Checkpoint dir for one drain-to-completion query.

    These drains already run with FORCE-DELETED temp checkpoints (the
    session sets forceDeleteTempCheckpointLocation) — the checkpoint is
    ephemeral by contract, so its fsync-per-commit cost (offset log,
    commit log, one state-store commit per partition per batch) is pure
    harness I/O. ``SPARK_GRAFT_STREAM_SCRATCH`` points it somewhere
    cheap — a fast local disk on a cluster; with a ``local[...]`` master
    the default is RAM-backed /dev/shm (on a cluster the executors do
    not share the driver's /dev/shm). A PRODUCTION stream that must
    survive a driver restart passes its durable checkpointLocation
    explicitly and never goes through this path. Unset/unusable -> None
    -> Spark's own temp-checkpoint behavior (pre-r12). The dir sits
    directly under the scratch root, so removing it leaves nothing."""
    root = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if root is None and os.access("/dev/shm", os.W_OK) and (
        spark.sparkContext.master.startswith("local")
    ):
        root = "/dev/shm"
    if not root:
        return None
    try:
        os.makedirs(root, exist_ok=True)
    except OSError:
        return None
    return os.path.join(root, f"spark_graft_stream_ckpt_{name}")


def run_streaming_query(
    spark: SparkSession,
    df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    state_provider: str | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and return
    the materialized result as a batch DataFrame.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    lifetime of the stream (the conf is captured at query start and fixes
    the state-store count). Drain-to-completion micro-batches are bounded
    by per-partition state-store setup, not by parallelism — 32 -> 8
    partitions measured 6.8 s -> 5.0 s on the sf0.1 stream-stream join. A
    production deployment sizes this to the cluster instead (state
    partitions are sticky for the checkpoint's lifetime).

    ``state_provider`` pins ``stateStore.providerClass`` the same way
    (e.g. :data:`ROCKSDB_PROVIDER` for transformWithState queries); the
    session default is restored after the drain so the lighter HDFS-backed
    provider keeps serving the small-state drain-to-completion queries.
    """
    import shutil

    name = f"stream_{uuid.uuid4().hex[:8]}"
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    prior_provider = spark.conf.get(provider_key, None)
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    if state_provider is not None:
        spark.conf.set(provider_key, state_provider)
    ckpt = _drain_checkpoint(spark, name)
    try:
        writer = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
        )
        if ckpt is not None:
            writer = writer.option("checkpointLocation", ckpt)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    finally:
        if ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prior)
        if state_provider is not None:
            if prior_provider is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, prior_provider)
    # Detach the result from the memory sink: localCheckpoint materializes
    # the rows, so the sink's temp view (and its driver-held buffer) can be
    # dropped instead of accumulating across queries in a long session.
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out
