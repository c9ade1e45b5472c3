"""Slowly-changing-dimension type-2 maintenance (the dbt snapshot analog).

The reference's dbt project materializes latest-wins dimensions
(dbt_project/models/dim_entity.sql:15-31); the companion pattern every
warehouse needs next is the versioned history — dbt's ``snapshot`` with the
``check`` strategy: when a tracked attribute changes, close the current row
and open a new one. This operator is that merge as a pure DataFrame
transform, shuffle-bounded by the key join (no windows over the whole
history, no driver-side actions).

Row shape: key columns + tracked columns + ``valid_from`` / ``valid_to`` /
``is_current``. ``valid_to`` is NULL on current rows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def scd2_initial(batch: DataFrame, ts_col: str) -> DataFrame:
    """Seed a history table from a first batch (every row current)."""
    return batch.select(
        *[c for c in batch.columns if c != ts_col],
        F.col(ts_col).alias("valid_from"),
        F.lit(None).cast(batch.schema[ts_col].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def _any_differs(tracked: list[str], left: str, right: str) -> Column:
    """NULL-safe inequality across the tracked columns."""
    diffs = [
        ~F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}")) for c in tracked
    ]
    return reduce(lambda a, b: a | b, diffs)


def scd2_apply(
    history: DataFrame,
    batch: DataFrame,
    key: str | list[str],
    tracked: list[str],
    ts_col: str,
) -> DataFrame:
    """One snapshot step: ``history`` (SCD2 shape) + ``batch`` (key +
    tracked + ts) -> new history.

    - changed key: current row closes (``valid_to`` = batch ts,
      ``is_current`` = false) and a new current row opens;
    - new key: new current row;
    - unchanged key and all non-current rows: carried through untouched.

    ``batch`` must hold one row per key (pre-aggregate a multi-observation
    batch to its latest row first — latest_wins does exactly that).

    ``history`` is read once per step, so a chain of n steps plans O(n) scans.
    """
    keys = [key] if isinstance(key, str) else list(key)
    h = history.alias("h")
    b = batch.alias("b")

    # One full outer join of the whole history, where only current rows can
    # match; each joined row then emits its 1-2 output rows.
    on = [F.col(f"h.{k}") == F.col(f"b.{k}") for k in keys]
    joined = h.join(b, [*on, F.col("h.is_current")], "full_outer")
    # is_current is never NULL on a history row, so it marks the h side.
    hist_present = F.col("h.is_current").isNotNull()
    batch_present = F.col(f"b.{keys[0]}").isNotNull()
    # Only a current row can have a batch partner, so this implies current.
    changed = hist_present & batch_present & _any_differs(tracked, "h", "b")

    # History row: carried untouched, or closed when its key changed.
    hist_row = F.struct(
        *[F.col(f"h.{c}").alias(c) for c in [*keys, *tracked, "valid_from"]],
        F.when(changed, F.col(f"b.{ts_col}"))
        .otherwise(F.col("h.valid_to"))
        .alias("valid_to"),
        (F.col("h.is_current") & ~changed).alias("is_current"),
    )
    # Newly opened row: changed keys + brand-new keys.
    opened_row = F.struct(
        *[F.col(f"b.{c}").alias(c) for c in [*keys, *tracked]],
        F.col(f"b.{ts_col}").alias("valid_from"),
        F.lit(None).cast(batch.schema[ts_col].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    rows = F.array(
        F.when(hist_present, hist_row),
        F.when(batch_present & (changed | ~hist_present), opened_row),
    )
    out = joined.select(F.inline(F.filter(rows, lambda r: r.isNotNull())))
    # inline marks every field nullable; is_current never is NULL.
    return out.withColumn("is_current", F.coalesce("is_current", F.lit(False)))


def scd2_history_from(ev: DataFrame, weight_col: str | None = None) -> DataFrame:
    """Run-length SCD2 history of ``event_type`` per user from an event
    log (q75's core, moved here from plans/events.py in round 8 so the
    incremental extend below can build on it): one row per run with the
    [valid_from_us, valid_to_us) interval, the run's event count, and the
    per-user ``run_id`` — the ONLY guaranteed-unique-per-user ordering
    column (two adjacent runs can share valid_from_us when consecutive
    events of different types carry the identical microsecond ts, so
    downstream as-of tiebreaks must use run_id, not valid_from_us).

    ``weight_col``: optional per-event weight summed into ``n_events``
    instead of counting rows — how :func:`scd2_extend_from_log` folds an
    entire prior run into one seed row without replaying its events.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcol = F.col(weight_col) if weight_col else F.lit(1)
    flagged = ev.select(
        "user_id",
        "event_type",
        "event_id",
        wcol.cast("long").alias("__w"),
        F.unix_micros("ts").alias("us"),
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    w_us = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = flagged.withColumn("run_id", F.sum("chg").over(w_us))
    # event_type is constant within a run (chg splits on every change), so
    # plain MIN is a deterministic way to carry it through the agg.
    seg = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("event_type"),
        F.min("us").alias("valid_from_us"),
        F.sum("__w").alias("n_events"),
    )
    wseg = Window.partitionBy("user_id").orderBy("run_id")
    return seg.select(
        "user_id",
        "run_id",
        "event_type",
        "valid_from_us",
        F.lead("valid_from_us").over(wseg).alias("valid_to_us"),
        "n_events",
    )


def scd2_extend_from_log(history: DataFrame, tail: DataFrame) -> DataFrame:
    """INCREMENTAL log-structured SCD2: extend an existing run history
    (the :func:`scd2_history_from` shape, WITH run_id) by a new batch of
    events — without replaying any already-folded event.

    The only runs a new batch can change are each affected user's
    CURRENT run (it may extend, or close when the batch opens a new
    type), so the recompute is bounded by |batch| + one seed row per
    affected user: the current run collapses into a single weighted seed
    event (ts = its valid_from, weight = its n_events — every batch
    event postdates it because batches arrive in time order), runs are
    re-derived over seed+batch only, and run_ids are shifted to continue
    the user's existing numbering. Untouched users and already-closed
    runs are carried through without a shuffle beyond the key anti/semi
    joins. EXACT parity with a full rebuild — extend(scd2(log≤t), tail)
    == scd2(full log) row-for-row — is the operator's contract (q331's
    oracle IS Q75_SQL).
    """
    affected = tail.select("user_id").distinct()
    kept = history.join(affected, "user_id", "left_anti")
    aff = history.join(affected, "user_id", "left_semi")
    cur = aff.where(F.col("valid_to_us").isNull())
    closed = aff.where(F.col("valid_to_us").isNotNull())
    seed = cur.select(
        "user_id",
        "event_type",
        # sorts before every real event id at an (impossible) equal ts
        F.lit(-1).cast("long").alias("event_id"),
        F.timestamp_micros("valid_from_us").alias("ts"),
        F.col("n_events").alias("__w"),
    )
    tail_w = tail.select(
        "user_id",
        "event_type",
        F.col("event_id").cast("long").alias("event_id"),
        "ts",
        F.lit(1).cast("long").alias("__w"),
    )
    recomputed = scd2_history_from(
        seed.unionByName(tail_w), weight_col="__w"
    )
    offsets = cur.select("user_id", (F.col("run_id") - 1).alias("__off"))
    shifted = recomputed.join(offsets, "user_id", "left").select(
        "user_id",
        (F.col("run_id") + F.coalesce("__off", F.lit(0))).alias("run_id"),
        "event_type",
        "valid_from_us",
        "valid_to_us",
        "n_events",
    )
    return kept.unionByName(closed).unionByName(shifted)
