"""[EXT] Streaming queries exposed through the driver contract.

q29 drives a real Structured Streaming job (file source → watermark →
tumbling window → memory sink, complete mode) and returns its final state —
which equals the batch tumbling-window semantics, so it carries a full SQL
oracle. q30 is streaming first-seen dedup; survivor rows depend on stream
encounter order, so only the key set is contractual → emitted as sorted
keys + count, which IS deterministic and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import SQL_DEC_SUM
from .insights import Q222_SQL
from ..streaming.pipeline import (
    run_streaming_query,
    stream_events,
    stream_stream_interval_join,
    streaming_dedup,
    streaming_hopping_agg,
    streaming_session_agg,
    streaming_tumbling_agg,
)

WINDOW_S = 300
HOP_S = 60

#: State-store partition count for the drain-to-completion profile (small
#: corpus, one micro-batch): per-partition state setup dominates, so fewer
#: is faster. A production stream sizes this to the cluster instead.
STATE_PARTITIONS = 8


def q29_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = streaming_tumbling_agg(ev, window_s=WINDOW_S)
    return run_streaming_query(
        spark, agg, output_mode="complete", state_partitions=STATE_PARTITIONS
    )


Q29_SQL = f"""
SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // {WINDOW_S * 1_000_000})
         * {WINDOW_S * 1_000_000} AS window_start_us,
       event_type,
       COUNT(*) AS n_events,
       {SQL_DEC_SUM.format(x='value')} AS total_value
FROM events
GROUP BY 1, 2
"""


def q139_streaming_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q133's streaming twin: a real Structured Streaming job with
    overlapping 5-min/60s windows; final complete-mode state equals the
    batch hopping aggregation, so the closed-form k=0..4 replication
    oracle applies verbatim."""
    ev = stream_events(spark, sf_dir)
    agg = streaming_hopping_agg(ev, window_s=WINDOW_S, hop_s=HOP_S)
    return run_streaming_query(
        spark, agg, output_mode="complete", state_partitions=STATE_PARTITIONS
    )


Q139_SQL = f"""
WITH hopped AS (
    SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // {HOP_S * 1_000_000})
             * {HOP_S * 1_000_000}
             - k.k * {HOP_S * 1_000_000} AS window_start_us,
           event_type, value
    FROM events CROSS JOIN (
        SELECT unnest(generate_series(0, {WINDOW_S // HOP_S - 1})) AS k
    ) k
)
SELECT window_start_us, event_type,
       COUNT(*) AS n_events,
       {SQL_DEC_SUM.format(x='value')} AS total_value
FROM hopped
GROUP BY 1, 2
"""


def q30_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    deduped = streaming_dedup(ev, keys=["user_id", "event_type"])
    out = run_streaming_query(
        spark, deduped, output_mode="append", state_partitions=STATE_PARTITIONS
    )
    # Survivor payload depends on encounter order; the key set does not.
    return (
        out.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n_rows"))
        .orderBy("user_id", "event_type")
    )


Q30_SQL = """
SELECT user_id, event_type, CAST(1 AS BIGINT) AS n_rows
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


def q41_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    totals. After the stream drains, each user's LAST emission equals the
    batch aggregate — the micro-unit state makes the total independent of
    batching/arrival order, so a full SQL oracle applies. (The driver
    corpus is one file → one micro-batch → exactly one emission per user;
    the latest-wins dedup below also covers multi-batch replays.)"""
    from ..streaming.stateful import stateful_user_totals

    ev = stream_events(spark, sf_dir)
    out = run_streaming_query(
        spark,
        stateful_user_totals(ev),
        output_mode="update",
        state_partitions=STATE_PARTITIONS,
    )
    # Keep the final emission per user (n_events is monotone across
    # emissions of one user).
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


Q41_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(38,6))), 0) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
"""


def q48_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (broadcast per micro-batch — the streaming analog of
    J1's fct⋈dim), aggregated per nation in complete mode. Final state
    equals the batch join+rollup, which the oracle checks."""
    from ..sources.tables import load_table

    ev = stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_nationkey").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias(
            "total_value"
        ),
    )
    return run_streaming_query(
        spark, agg, output_mode="complete", state_partitions=STATE_PARTITIONS
    )


Q48_SQL = """
SELECT c_nationkey,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_nationkey
"""


ATTRIBUTION_WINDOW_S = 600


def q60_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (click→purchase attribution
    within 10 minutes); drained output equals the batch interval join."""
    ev = stream_events(spark, sf_dir)
    joined = stream_stream_interval_join(ev, window_s=ATTRIBUTION_WINDOW_S)
    return run_streaming_query(
        spark, joined, output_mode="append", state_partitions=STATE_PARTITIONS
    )


Q60_SQL = f"""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us,
       epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_ts_us
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
 AND CAST(p.ts AS TIMESTAMP)
     <= CAST(c.ts AS TIMESTAMP) + INTERVAL {ATTRIBUTION_WINDOW_S} SECOND
"""


def _landing_path(kind: str, sf_dir: str) -> str:
    """PID-keyed scratch landing dir for ``sf_dir``: concurrent processes
    never share one (an ``overwrite`` in one would delete parquet parts
    a scan in the other holds open)."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_{kind}_{tag}_{os.getpid()}"
    )


def _flush_events_landing(spark: SparkSession, sf_dir: str) -> str:
    """events + two SENTINEL flush rows (click- and purchase-typed,
    user_id = -1, ts = next day boundary after max(ts), + 2h) written to
    a scratch landing dir.

    The sentinels exist to ADVANCE THE WATERMARK past every real click's
    join window after the corpus drains, which is what lets the
    left-outer interval join (q142) emit ALL its unmatched rows — the
    standard production trick of a heartbeat topic keeping watermarks
    moving through quiet periods, reproduced deterministically.

    The flush timestamp is derived from the WINDOW BOUNDARY, not a fixed
    offset from max(ts): q169 aggregates the joined stream into 1-day
    tumbling windows, so append mode only emits the final real day's
    window once the post-join watermark (flush_ts − 30 min delay −
    10 min join interval) passes ``date_trunc('day', max_ts) + 1 day``.
    ``flush_ts = day_ceil(max_ts) + 2h`` makes that hold by construction
    for ANY corpus (2 h > 40 min), instead of only for corpora whose last
    event lands within ~80 min of midnight; it also dominates the old
    ``max_ts + 2h`` guarantee that q142 (click window + delay: 50 min)
    and q144 (session gap 30 min + delay) rely on, since
    day_ceil(max_ts) >= max_ts. The sentinels' own join pair falls in
    the sentinel day's window, which the final watermark never passes,
    so it is withheld in append mode and never pollutes output.

    user_id -1 matches no real user; the queries filter the sentinels'
    own rows back out. Written once per corpus state (session_memo)."""
    from datetime import timedelta

    from ..sources.tables import load_table, session_memo

    path = _landing_path("louter", sf_dir)

    def write() -> str:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        mx = ev.agg(F.max("ts")).first()[0]
        day_ceil = mx.replace(
            hour=0, minute=0, second=0, microsecond=0
        ) + timedelta(days=1)
        flush_ts = day_ceil + timedelta(hours=2)
        sent = spark.createDataFrame(
            [
                (-1, flush_ts, -1, "click", 0.0, None),
                (-2, flush_ts, -1, "purchase", 0.0, None),
            ],
            ev.schema,
        )
        ev.unionByName(sent).write.mode("overwrite").parquet(path)
        return path

    return session_memo(spark, sf_dir, "flush_landing", write)


def q142_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q60's LEFT OUTER flavor: every click, attributed to a purchase
    within 10 minutes or emitted with nulls once the watermark proves no
    match can arrive. Drained over the sentinel-flushed landing, the
    output equals the batch LEFT JOIN exactly — full value oracle."""
    from ..sources.tables import normalize_instant, parquet_schema

    land = _flush_events_landing(spark, sf_dir)
    schema = parquet_schema(spark, land)
    raw = spark.readStream.schema(schema).format("parquet").load(land)
    ev = normalize_instant(raw, "ts")
    joined = stream_stream_interval_join(
        ev, window_s=ATTRIBUTION_WINDOW_S, join_type="leftOuter"
    )
    out = run_streaming_query(
        spark, joined, output_mode="append", state_partitions=STATE_PARTITIONS
    )
    return out.where(F.col("user_id") >= 0)


Q142_SQL = f"""
WITH c AS (
    SELECT user_id, event_id AS click_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS click_ts_us,
           CAST(ts AS TIMESTAMP) AS cts
    FROM events WHERE event_type = 'click'
),
p AS (
    SELECT user_id, event_id AS purchase_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_ts_us,
           CAST(ts AS TIMESTAMP) AS pts
    FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts_us, p.purchase_ts_us
FROM c
LEFT JOIN p
  ON p.user_id = c.user_id
 AND p.pts >= c.cts
 AND p.pts <= c.cts + INTERVAL {ATTRIBUTION_WINDOW_S} SECOND
"""


SESSION_GAP_S = 1800


def q144_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q42's streaming twin: native streaming session_window over the
    sentinel-flushed landing (the flush rows push the watermark past
    every real session's close, so append mode emits ALL sessions);
    drained output equals the batch session semantics — the q42 oracle
    applies verbatim, sentinel sessions filtered by user_id."""
    from ..sources.tables import normalize_instant, parquet_schema

    land = _flush_events_landing(spark, sf_dir)
    schema = parquet_schema(spark, land)
    raw = spark.readStream.schema(schema).format("parquet").load(land)
    ev = normalize_instant(raw, "ts")
    agg = streaming_session_agg(ev, gap_s=SESSION_GAP_S)
    out = run_streaming_query(
        spark, agg, output_mode="append", state_partitions=STATE_PARTITIONS
    )
    return out.where(F.col("user_id") >= 0)


Q144_SQL = f"""
WITH base AS (
    SELECT user_id, event_id, value,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS prev_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
),
flagged AS (
    SELECT *, CASE WHEN prev_us IS NULL
                     OR us - prev_us >= {SESSION_GAP_S} * 1000000
                   THEN 1 ELSE 0 END AS new_session
    FROM base
),
numbered AS (
    SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS session_idx
    FROM flagged
)
SELECT user_id,
       MIN(us) AS session_start_us,
       MAX(us) + {SESSION_GAP_S * 1_000_000} AS session_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, session_idx
"""



def q169_stream_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming (Spark >= 3.5 multi-stateful support,
    exercised on 4.1): a watermarked stream-stream interval join feeding
    a downstream tumbling-window aggregation in ONE query — two state
    stores, watermark propagated through the join. Counts attributed
    purchases (a purchase within 10 min of a same-user click) per day.
    The sentinel flush rows sit at day_ceil(max_ts) + 2h — derived from
    the 1-day WINDOW BOUNDARY, not a fixed offset from max(ts), so the
    watermark passes every real day window for any corpus (see
    _flush_events_landing); the sentinels' own pair lands in the
    sentinel-day window, which the final watermark never passes, so
    drained output == the batch join + GROUP BY — full value oracle.
    """
    from ..sources.tables import normalize_instant, parquet_schema

    land = _flush_events_landing(spark, sf_dir)
    schema = parquet_schema(spark, land)
    raw = spark.readStream.schema(schema).format("parquet").load(land)
    ev = normalize_instant(raw, "ts")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + interval {ATTRIBUTION_WINDOW_S} seconds
            """
        ),
        "inner",
    )
    daily = (
        joined.groupBy(F.window("purchase_ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n_attributed"))
        .select(F.col("w.start").alias("day_start"), "n_attributed")
    )
    return run_streaming_query(
        spark, daily, output_mode="append", state_partitions=STATE_PARTITIONS
    )


Q169_SQL = f"""
WITH c AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
    FROM events WHERE event_type = 'click'
),
p AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS pts
    FROM events WHERE event_type = 'purchase'
)
SELECT CAST(date_trunc('day', p.pts) AS TIMESTAMP) AS day_start,
       COUNT(*) AS n_attributed
FROM c JOIN p
  ON p.user_id = c.user_id
 AND p.pts >= c.cts
 AND p.pts <= c.cts + INTERVAL {ATTRIBUTION_WINDOW_S} SECOND
GROUP BY 1
"""


def q185_stateful_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q41's semantics on Spark 4's transformWithStateInPandas (the
    arbitrary-state API replacing applyInPandasWithState): per-user
    running totals in a named ValueState, final emission per user equal
    to the batch aggregate — same oracle as q41, proving the custom
    stateful operator ports to the new contract unchanged.

    Two environment dependencies, both satisfied at runtime rather than
    assumed: google.protobuf (the state-request wire format) is made
    importable by compat.ensure_protobuf() at session build, and the
    state store is pinned to the RocksDB provider for this query only —
    transformWithState's named-state cells map to RocksDB column
    families, which the default HDFS-backed provider rejects. Registered
    in the driver contract only when protobuf resolves (HAS_TWS), so the
    contract stays importable on hosts without it."""
    from ..compat import ensure_protobuf_for_session
    from ..streaming.pipeline import ROCKSDB_PROVIDER
    from ..streaming.stateful import stateful_user_totals_tws

    # Deliver the protobuf fallback to THIS session's workers even if its
    # JVM predates our import (sc.environment is read per python
    # function, not at JVM launch) — the bare-driver-session case.
    ensure_protobuf_for_session(spark)
    ev = stream_events(spark, sf_dir)
    out = run_streaming_query(
        spark,
        stateful_user_totals_tws(ev),
        output_mode="update",
        state_partitions=STATE_PARTITIONS,
        state_provider=ROCKSDB_PROVIDER,
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


def q196_sessionize_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a CUSTOM stateful operator on
    transformWithStateInPandas — per-user ListState of open session
    fragments plus EVENT-TIME TIMERS that close a session once the
    watermark proves its gap (streaming/stateful.py:SessionizeProcessor).
    Streams the sentinel-flushed landing: the flush rows push the final
    watermark past every real session's close, the trailing no-data
    micro-batch fires the timers, and drained output equals the batch
    session semantics — the q144/q42 oracle applies verbatim (sentinel
    sessions never close: their timer sits at flush + gap, beyond the
    final watermark; user -1 filtered anyway)."""
    from ..sources.tables import normalize_instant, parquet_schema
    from ..streaming.pipeline import ROCKSDB_PROVIDER
    from ..streaming.stateful import stateful_sessions_tws

    from ..compat import ensure_protobuf_for_session

    ensure_protobuf_for_session(spark)
    land = _flush_events_landing(spark, sf_dir)
    schema = parquet_schema(spark, land)
    raw = spark.readStream.schema(schema).format("parquet").load(land)
    ev = normalize_instant(raw, "ts")
    out = run_streaming_query(
        spark,
        stateful_sessions_tws(ev, gap_us=SESSION_GAP_S * 1_000_000),
        output_mode="append",
        state_partitions=STATE_PARTITIONS,
        state_provider=ROCKSDB_PROVIDER,
    )
    return out.where(F.col("user_id") >= 0)


def _odd_events_landing(spark: SparkSession, sf_dir: str) -> str:
    """The odd-event_id half of events, written to a PID-keyed scratch
    landing dir (q197 streams this half on top of the even half's batch
    aggregate). Written once per corpus state, same discipline as
    _flush_events_landing."""
    from ..sources.tables import load_table, session_memo

    path = _landing_path("half", sf_dir)

    def write() -> str:
        load_table(spark, sf_dir, "events").where(
            F.col("event_id") % 2 == 1
        ).write.mode("overwrite").parquet(path)
        return path

    return session_memo(spark, sf_dir, "half_landing", write)


def q197_warmstart_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial-state BOOTSTRAP on transformWithStateInPandas: the
    even-event_id half of events is compacted to a batch (user_id, n,
    micro) aggregate and fed through the initialState channel
    (handleInitialState seeds each user's ValueState before the first
    streamed row); the odd half then streams on top. Final per-user
    emissions equal the batch aggregate over ALL events — the migration
    /resume-from-history shape, oracle-checked. Users whose events are
    all in history never receive a streamed row and so never emit
    (update-mode semantics); the oracle carries the same IN-filter."""
    from ..compat import ensure_protobuf_for_session
    from ..sources.tables import (
        load_table,
        normalize_instant,
        parquet_schema,
    )
    from ..streaming.pipeline import ROCKSDB_PROVIDER
    from ..streaming.stateful import stateful_user_totals_warmstart

    ensure_protobuf_for_session(spark)
    history = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 2 == 0)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(
                    (
                        F.col("value").cast("decimal(38,6)")
                        * F.lit(1_000_000)
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("micro"),
        )
    )
    land = _odd_events_landing(spark, sf_dir)
    schema = parquet_schema(spark, land)
    raw = spark.readStream.schema(schema).format("parquet").load(land)
    ev = normalize_instant(raw, "ts")
    out = run_streaming_query(
        spark,
        stateful_user_totals_warmstart(ev, history),
        output_mode="update",
        state_partitions=STATE_PARTITIONS,
        state_provider=ROCKSDB_PROVIDER,
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


Q197_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(38,6))), 0) AS DOUBLE)
         AS total_value
FROM events
WHERE user_id IN (SELECT user_id FROM events WHERE event_id % 2 = 1)
GROUP BY user_id
"""


def q198_type_counts_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapState on transformWithStateInPandas: per-user map of
    event_type -> running count (the third state primitive after q185's
    ValueState and q196's ListState) — each batch updates only touched
    entries; counts are monotone, so max-per-(user, type) over the
    update-mode emissions recovers the final table, which equals the
    batch GROUP BY."""
    from ..compat import ensure_protobuf_for_session
    from ..streaming.pipeline import ROCKSDB_PROVIDER
    from ..streaming.stateful import stateful_type_counts

    ensure_protobuf_for_session(spark)
    ev = stream_events(spark, sf_dir)
    out = run_streaming_query(
        spark,
        stateful_type_counts(ev),
        output_mode="update",
        state_partitions=STATE_PARTITIONS,
        state_provider=ROCKSDB_PROVIDER,
    )
    return out.groupBy("user_id", "event_type").agg(
        F.max("n_events").alias("n_events")
    )


Q198_SQL = """
SELECT user_id, event_type, COUNT(*) AS n_events
FROM events GROUP BY user_id, event_type
"""


def q301_rate_limiter_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding-window rate limiter on transformWithState:
    per-user ListState of in-window event stamps + ValueState running
    (events, throttled, peak) — the STREAMING twin of the batch q265
    audit, and the fourth TWS exercise (ValueState q185, ListState +
    timers q196, initial state q197, MapState q198; this one composes
    ListState AND ValueState in one processor with window pruning).
    Counters are monotone, so max-per-user over the update-mode
    emissions recovers the final table; the oracle is q265's batch SQL,
    proving stream state == the batch RANGE-frame truth."""
    from ..compat import ensure_protobuf_for_session
    from ..streaming.pipeline import ROCKSDB_PROVIDER
    from ..streaming.stateful import stateful_rate_limiter

    ensure_protobuf_for_session(spark)
    ev = stream_events(spark, sf_dir)
    out = run_streaming_query(
        spark,
        stateful_rate_limiter(ev),
        output_mode="update",
        state_partitions=STATE_PARTITIONS,
        state_provider=ROCKSDB_PROVIDER,
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").cast("long").alias("n_events"),
            F.max("n_throttled").cast("long").alias("n_throttled"),
            F.max("peak_rate").cast("long").alias("peak_rate"),
        )
        .orderBy("user_id")
    )


def _q301_oracle() -> str:
    from .insights import Q265_SQL

    return Q265_SQL


Q301_SQL = _q301_oracle()


def _has_tws() -> bool:
    from ..compat import ensure_protobuf

    return ensure_protobuf()


HAS_TWS = _has_tws()


def q234_stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT distinct users via bitmap words — the streaming
    twin of plans/insights.py:q222. The stream maintains (week, day,
    word) → bit_or(bitmask) state (bounded at |users|/32 words per day —
    the exact-sketch answer to "streaming COUNT(DISTINCT) needs approx"),
    and the batch tail rolls the drained masks up to daily and weekly
    distincts. bit_or is associative, commutative AND idempotent, so an
    at-least-once replay into a foreachBatch OR-merge sink is naturally
    exactly-once for this state — `complete` mode here stands in for that
    production sink. Oracle: q222's COUNT(DISTINCT) SQL, so the
    hash-match proves stream state == batch truth."""
    ev = stream_events(spark, sf_dir)
    masks = (
        ev.withWatermark("ts", "30 minutes")
        .select(
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
            F.to_date("ts").alias("day"),
            F.expr("user_id DIV 32").alias("word"),
            F.expr("shiftleft(1L, CAST(pmod(user_id, 32) AS INT))").alias("bit"),
        )
        .groupBy("week", "day", "word")
        .agg(F.bit_or("bit").alias("day_mask"))
    )
    drained = run_streaming_query(
        spark, masks, output_mode="complete", state_partitions=STATE_PARTITIONS
    )
    daily = drained.groupBy("week", "day").agg(
        F.sum(F.bit_count("day_mask")).cast("long").alias("day_users")
    )
    weekly = (
        drained.groupBy("week", "word")
        .agg(F.bit_or("day_mask").alias("week_mask"))
        .groupBy("week")
        .agg(F.sum(F.bit_count("week_mask")).cast("long").alias("week_users"))
    )
    return (
        daily.groupBy("week")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("day_users").cast("long").alias("sum_daily_users"),
        )
        .join(weekly, "week")
        .select("week", "n_days", "week_users", "sum_daily_users")
        .orderBy("week")
    )




# ---------------------------------------------------------------------------
# Q340 — Streaming windowed HLL: the deterministic sketch (q336,
# operators/sketch.py) composed with Structured Streaming. The stream
# maintains per-(window, event_type, bucket) register MAX — bounded
# mergeable state (64 cells per group) instead of the per-key distinct
# state a streaming countDistinct would need (which streaming refuses
# outright; approx_count_distinct is the built-in's answer, but its
# registers are JVM-internal). The drained complete-mode state is folded
# to the integer estimate in batch — the serve-time projection. Because
# register MAX is order/batching-independent, the drained stream equals
# the batch register table EXACTLY, so the full value oracle applies to
# a streaming query.
# ---------------------------------------------------------------------------


def q340_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import hash60
    from ..operators.sketch import HLL_M, hll_estimate, hll_rho_sql

    ev = stream_events(spark, sf_dir)
    h = hash60(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    base = (
        ev.select("ts", "event_type", h.alias("h"))
        .select(
            "ts",
            "event_type",
            F.expr(f"h % {HLL_M}").cast("int").alias("bucket"),
            F.expr(f"h div {HLL_M}").alias("w"),
        )
        .withColumn("rho", F.expr(hll_rho_sql("w")).cast("int"))
    )
    regs = (
        base.withWatermark("ts", "30 minutes")
        .groupBy(
            F.window("ts", f"{WINDOW_S} seconds").alias("win"),
            "event_type",
            "bucket",
        )
        .agg(F.max("rho").alias("mreg"))
        .select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            "event_type",
            "bucket",
            "mreg",
        )
    )
    drained = run_streaming_query(
        spark, regs, output_mode="complete",
        state_partitions=STATE_PARTITIONS,
    )
    return hll_estimate(
        drained, group_cols=("window_start_us", "event_type")
    ).orderBy("window_start_us", "event_type")


Q340_SQL = """
WITH h AS (
    SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // {WINDOW_US})
             * {WINDOW_US} AS window_start_us,
           event_type, CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
    FROM events
),
b AS (
    SELECT window_start_us, event_type,
           CAST(h % 64 AS INT) AS bucket, h // 64 AS w
    FROM h
),
regs AS (
    SELECT window_start_us, event_type, bucket, MAX(CASE WHEN w >= 9007199254740992 THEN 1 WHEN w >= 4503599627370496 THEN 2 WHEN w >= 2251799813685248 THEN 3 WHEN w >= 1125899906842624 THEN 4 WHEN w >= 562949953421312 THEN 5 WHEN w >= 281474976710656 THEN 6 WHEN w >= 140737488355328 THEN 7 WHEN w >= 70368744177664 THEN 8 WHEN w >= 35184372088832 THEN 9 WHEN w >= 17592186044416 THEN 10 WHEN w >= 8796093022208 THEN 11 WHEN w >= 4398046511104 THEN 12 WHEN w >= 2199023255552 THEN 13 WHEN w >= 1099511627776 THEN 14 WHEN w >= 549755813888 THEN 15 WHEN w >= 274877906944 THEN 16 WHEN w >= 137438953472 THEN 17 WHEN w >= 68719476736 THEN 18 WHEN w >= 34359738368 THEN 19 WHEN w >= 17179869184 THEN 20 WHEN w >= 8589934592 THEN 21 WHEN w >= 4294967296 THEN 22 WHEN w >= 2147483648 THEN 23 WHEN w >= 1073741824 THEN 24 WHEN w >= 536870912 THEN 25 WHEN w >= 268435456 THEN 26 WHEN w >= 134217728 THEN 27 WHEN w >= 67108864 THEN 28 WHEN w >= 33554432 THEN 29 WHEN w >= 16777216 THEN 30 WHEN w >= 8388608 THEN 31 WHEN w >= 4194304 THEN 32 WHEN w >= 2097152 THEN 33 WHEN w >= 1048576 THEN 34 WHEN w >= 524288 THEN 35 WHEN w >= 262144 THEN 36 WHEN w >= 131072 THEN 37 WHEN w >= 65536 THEN 38 WHEN w >= 32768 THEN 39 WHEN w >= 16384 THEN 40 WHEN w >= 8192 THEN 41 WHEN w >= 4096 THEN 42 WHEN w >= 2048 THEN 43 WHEN w >= 1024 THEN 44 WHEN w >= 512 THEN 45 WHEN w >= 256 THEN 46 WHEN w >= 128 THEN 47 WHEN w >= 64 THEN 48 WHEN w >= 32 THEN 49 WHEN w >= 16 THEN 50 WHEN w >= 8 THEN 51 WHEN w >= 4 THEN 52 WHEN w >= 2 THEN 53 WHEN w >= 1 THEN 54 ELSE 54 END) AS mreg
    FROM b GROUP BY 1, 2, 3
),
folded AS (
    SELECT window_start_us, event_type, COUNT(*) AS n_used,
           SUM(CAST(1 AS BIGINT) << (54 - mreg)) AS s_used
    FROM regs GROUP BY 1, 2
)
SELECT window_start_us, event_type,
       CAST(n_used AS BIGINT) AS n_used,
       CAST(CAST(52314966193040288382976 AS HUGEINT) // (1000 * CAST(
           s_used + (64 - n_used) * (CAST(1 AS BIGINT) << 54)
       AS HUGEINT)) AS BIGINT) AS est
FROM folded
ORDER BY window_start_us, event_type
""".replace("{WINDOW_US}", str(WINDOW_S * 1_000_000))


STREAMING_QUERIES = {
    "q340_streaming_hll": q340_streaming_hll,
    "q29_streaming_window": q29_streaming_window,
    "q30_streaming_dedup": q30_streaming_dedup,
    "q41_stateful_totals": q41_stateful_totals,
    "q48_stream_static_join": q48_stream_static_join,
    "q60_stream_stream_join": q60_stream_stream_join,
    "q139_streaming_hopping": q139_streaming_hopping,
    "q142_stream_left_outer_join": q142_stream_left_outer_join,
    "q144_streaming_session": q144_streaming_session,
    "q169_stream_join_then_window": q169_stream_join_then_window,
    "q234_stream_bitmap_distinct": q234_stream_bitmap_distinct,
}

STREAMING_ORACLES = {
    "q340_streaming_hll": Q340_SQL,
    "q29_streaming_window": Q29_SQL,
    "q30_streaming_dedup": Q30_SQL,
    "q41_stateful_totals": Q41_SQL,
    "q48_stream_static_join": Q48_SQL,
    "q60_stream_stream_join": Q60_SQL,
    "q139_streaming_hopping": Q139_SQL,
    "q142_stream_left_outer_join": Q142_SQL,
    "q144_streaming_session": Q144_SQL,
    "q169_stream_join_then_window": Q169_SQL,
    # The streaming bitmap state must equal batch COUNT(DISTINCT) truth —
    # q222's oracle verbatim (plans/insights.py).
    "q234_stream_bitmap_distinct": Q222_SQL,
}

if HAS_TWS:
    STREAMING_QUERIES["q185_stateful_totals_tws"] = q185_stateful_totals_tws
    STREAMING_ORACLES["q185_stateful_totals_tws"] = Q41_SQL
    STREAMING_QUERIES["q196_sessionize_tws"] = q196_sessionize_tws
    STREAMING_ORACLES["q196_sessionize_tws"] = Q144_SQL
    STREAMING_QUERIES["q197_warmstart_totals_tws"] = q197_warmstart_totals_tws
    STREAMING_ORACLES["q197_warmstart_totals_tws"] = Q197_SQL
    STREAMING_QUERIES["q198_type_counts_tws"] = q198_type_counts_tws
    STREAMING_ORACLES["q198_type_counts_tws"] = Q198_SQL
    STREAMING_QUERIES["q301_rate_limiter_tws"] = q301_rate_limiter_tws
    STREAMING_ORACLES["q301_rate_limiter_tws"] = Q301_SQL
