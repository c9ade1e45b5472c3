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


def scd2_history_from(ev: DataFrame) -> DataFrame:
    """Run-length SCD2 history of ``event_type`` per user from an event
    log (q75's core, moved here from plans/events.py in round 8 so the
    incremental extend below can build on it): one row per run with the
    [valid_from_us, valid_to_us) interval, the run's event count, and the
    per-user ``run_id`` — the ONLY guaranteed-unique-per-user ordering
    column (two adjacent runs can share valid_from_us when consecutive
    events of different types carry the identical microsecond ts, so
    downstream as-of tiebreaks must use run_id, not valid_from_us).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_type",
        "event_id",
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
        F.count("*").alias("n_events"),
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

    The only run a batch can change is each affected user's CURRENT
    run: it extends when the batch's first event has its type, and
    closes otherwise. Every batch event postdates it (batches arrive in
    time order), so the batch's own runs (:func:`scd2_history_from` over
    the batch alone, collected per user) follow it, renumbered to
    continue the user's run_ids. One full outer join of the whole
    history with those per-user runs, matching only current rows, emits
    every output row, so ``history`` is read once per extend and a chain
    of n extends plans O(n) scans. EXACT parity with a full rebuild —
    extend(scd2(log≤t), tail) == scd2(full log) row-for-row — is the
    operator's contract (q331's oracle IS Q75_SQL).
    """
    cols = ["run_id", "event_type", "valid_from_us", "valid_to_us", "n_events"]
    runs = scd2_history_from(tail).groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct(*cols))).alias("runs")
    )
    joined = history.alias("h").join(
        runs.alias("t"),
        (F.col("h.user_id") == F.col("t.user_id"))
        & F.col("h.valid_to_us").isNull(),
        "full_outer",
    )
    h = {c: F.col(f"h.{c}") for c in ["user_id", *cols]}
    first = F.element_at("t.runs", 1)
    hist_present = h["run_id"].isNotNull()
    matched = hist_present & F.col("t.user_id").isNotNull()
    # scd2_history_from's change test, between the current run and the
    # batch's first event.
    changes = h["event_type"].isNull() | (h["event_type"] != first["event_type"])
    extends = matched & ~F.coalesce(changes, F.lit(False))
    hist_row = F.struct(
        h["run_id"].alias("run_id"),
        F.when(extends, F.least(h["event_type"], first["event_type"]))
        .otherwise(h["event_type"])
        .alias("event_type"),
        h["valid_from_us"].alias("valid_from_us"),
        F.when(extends, first["valid_to_us"])
        .when(matched, first["valid_from_us"])
        .otherwise(h["valid_to_us"])
        .alias("valid_to_us"),
        F.when(extends, h["n_events"] + first["n_events"])
        .otherwise(h["n_events"])
        .alias("n_events"),
        h["user_id"].alias("user_id"),
    )
    # When the current run extends, the batch's first run is folded in.
    skip = extends.cast("int")
    off = F.coalesce(h["run_id"] - skip, F.lit(0))
    batch_rows = F.transform(
        F.filter("t.runs", lambda r: r["run_id"] > skip),
        lambda r: r.withField("run_id", r["run_id"] + off).withField(
            "user_id", F.coalesce(h["user_id"], F.col("t.user_id"))
        ),
    )
    rows = F.concat(
        F.array(F.when(hist_present, hist_row)),
        F.coalesce(batch_rows, F.array()),
    )
    out = joined.select(F.inline(F.filter(rows, lambda r: r.isNotNull())))
    return out.select("user_id", *cols)
