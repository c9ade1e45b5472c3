"""SCD2 snapshot operator (operators/scd2.py): versioning semantics across
multi-step applies, plus the q75 log-derived history invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from snowflake_stock_dbt_spark.operators.scd2 import scd2_apply, scd2_initial


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "k long, color string, size string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))


def test_scd2_change_closes_and_opens(spark):
    b1 = _batch(spark, [(1, "red", "S", "2024-01-01 00:00:00"),
                        (2, "blue", "M", "2024-01-01 00:00:00")])
    hist = scd2_initial(b1, "ts")
    b2 = _batch(spark, [(1, "green", "S", "2024-02-01 00:00:00"),  # changed
                        (2, "blue", "M", "2024-02-01 00:00:00"),   # unchanged
                        (3, "black", "L", "2024-02-01 00:00:00")])  # new
    out = scd2_apply(hist, b2, "k", ["color", "size"], "ts")
    rows = {(r["k"], r["is_current"]): r for r in out.collect()}
    assert len(rows) == 4  # k1 closed + k1 current + k2 current + k3 current
    closed = rows[(1, False)]
    assert closed["color"] == "red"
    assert str(closed["valid_to"]).startswith("2024-02-01")
    assert rows[(1, True)]["color"] == "green"
    assert rows[(2, True)]["valid_to"] is None  # untouched
    assert str(rows[(3, True)]["valid_from"]).startswith("2024-02-01")


def test_scd2_idempotent_reapply(spark):
    b1 = _batch(spark, [(1, "red", "S", "2024-01-01 00:00:00")])
    hist = scd2_apply(scd2_initial(b1, "ts"), b1, "k", ["color", "size"], "ts")
    again = scd2_apply(hist, b1, "k", ["color", "size"], "ts")
    assert again.count() == 1
    assert again.first()["is_current"] is True


def test_scd2_key_absent_from_batch_is_carried(spark):
    b1 = _batch(spark, [(1, "red", "S", "2024-01-01 00:00:00"),
                        (2, "blue", "M", "2024-01-01 00:00:00")])
    hist = scd2_initial(b1, "ts")
    b2 = _batch(spark, [(1, "red", "M", "2024-03-01 00:00:00")])
    out = scd2_apply(hist, b2, "k", ["color", "size"], "ts")
    k2 = [r for r in out.collect() if r["k"] == 2]
    assert len(k2) == 1 and k2[0]["is_current"] is True


def test_scd2_null_tracked_values_nullsafe(spark):
    b1 = _batch(spark, [(1, None, "S", "2024-01-01 00:00:00")])
    hist = scd2_initial(b1, "ts")
    same = _batch(spark, [(1, None, "S", "2024-02-01 00:00:00")])
    out = scd2_apply(hist, same, "k", ["color", "size"], "ts")
    assert out.count() == 1  # NULL == NULL under eqNullSafe: no new version
    changed = _batch(spark, [(1, "red", "S", "2024-03-01 00:00:00")])
    out2 = scd2_apply(out, changed, "k", ["color", "size"], "ts")
    assert out2.count() == 2  # NULL -> 'red' IS a change


def test_scd2_three_step_history_chain(spark):
    steps = [
        _batch(spark, [(1, "red", "S", "2024-01-01 00:00:00")]),
        _batch(spark, [(1, "green", "S", "2024-02-01 00:00:00")]),
        _batch(spark, [(1, "blue", "S", "2024-03-01 00:00:00")]),
    ]
    hist = scd2_initial(steps[0], "ts")
    for b in steps[1:]:
        hist = scd2_apply(hist, b, "k", ["color", "size"], "ts")
    rows = sorted(hist.collect(), key=lambda r: str(r["valid_from"]))
    assert [r["color"] for r in rows] == ["red", "green", "blue"]
    # Validity ranges chain without gaps: each valid_to = next valid_from.
    for a, b in zip(rows, rows[1:]):
        assert a["valid_to"] == b["valid_from"]
    assert [r["is_current"] for r in rows] == [False, False, True]


def test_q75_history_ranges_chain_per_user(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans.events import q75_scd2_history

    out = q75_scd2_history(spark, oracle_sf_dir)
    # Per-user: ranges must chain (valid_to = next valid_from) and exactly
    # one current (NULL valid_to) row per user.
    rows = out.collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for segs in by_user.values():
        segs.sort(key=lambda r: r["valid_from_us"])
        assert sum(1 for s in segs if s["valid_to_us"] is None) == 1
        assert segs[-1]["valid_to_us"] is None
        for a, b in zip(segs, segs[1:]):
            assert a["valid_to_us"] == b["valid_from_us"]
        # Consecutive segments always change state (runs are maximal).
        for a, b in zip(segs, segs[1:]):
            assert a["event_type"] != b["event_type"]


def test_scd2_random_batch_sequence_invariants(spark):
    """Randomized multi-step apply: after any sequence of batches, every
    key has exactly one current row, validity ranges chain without gaps or
    overlaps, and the current row equals the last-applied state."""
    import random

    rng = random.Random(7)
    keys = [1, 2, 3]
    colors = ["red", "green", "blue", None]
    months = [f"2024-{m:02d}-01 00:00:00" for m in range(1, 10)]

    hist = None
    last_state: dict = {}
    for step, ts in enumerate(months):
        batch_rows = [
            (k, rng.choice(colors), "S", ts)
            for k in keys
            if rng.random() < 0.7  # keys may be absent from a batch
        ]
        if not batch_rows:
            continue
        b = _batch(spark, batch_rows)
        if hist is None:
            hist = scd2_initial(b, "ts")
        else:
            hist = scd2_apply(hist, b, "k", ["color", "size"], "ts")
        for k, color, _, _ in batch_rows:
            last_state[k] = color
    rows = hist.collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    for k, versions in by_key.items():
        current = [r for r in versions if r["is_current"]]
        assert len(current) == 1, f"key {k}: {len(current)} current rows"
        assert current[0]["color"] == last_state[k]
        versions.sort(key=lambda r: str(r["valid_from"]))
        for a, b2 in zip(versions, versions[1:]):
            assert a["valid_to"] == b2["valid_from"], f"key {k}: range gap"
        assert versions[-1]["valid_to"] is None


def _leaf_count(df):
    """Leaves of the analyzed logical plan: one per scan the plan reads."""
    return df._jdf.queryExecution().analyzed().collectLeaves().size()


def test_scd2_chain_plan_grows_linearly(spark):
    """Each apply reads ``history`` once, so a chain's analyzed plan grows
    by a constant number of leaves per step. An apply that re-reads
    ``history`` k > 1 times grows it as k**n, and a months-long chain then
    plans thousands of scans. Nothing is collected: this pins the plan
    shape, independent of how much memory running it would take."""
    hist = None
    leaves = []
    for n in range(1, 9):
        color = "red" if n % 2 else "blue"
        b = _batch(spark, [(1, color, "S", f"2024-{n:02d}-01 00:00:00")])
        if hist is None:
            hist = scd2_initial(b, "ts")
        else:
            hist = scd2_apply(hist, b, "k", ["color", "size"], "ts")
        leaves.append(_leaf_count(hist))
        # Checked as the chain grows, so a superlinear plan fails before
        # its analysis gets expensive.
        if n >= 5:
            steps = [b2 - a for a, b2 in zip(leaves[2:], leaves[3:])]
            assert len(set(steps)) == 1, f"leaves per chain length: {leaves}"
