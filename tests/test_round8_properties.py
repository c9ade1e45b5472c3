"""Round-8 property tests: SQL-lexer '' escapes, atomic index publish,
candidate-restricted exact-Jaccard audit, probe_to_md robustness."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# --- sqldialect: doubled-quote escapes (round-7 ADVICE) ----------------------


def test_stddev_rewrite_handles_doubled_quote_escape():
    """'it''s STDDEV(price)' is ONE literal — the scanner must not close
    at the first of the doubled quotes and then choke on the tail."""
    from snowflake_stock_dbt_spark.sqldialect import rewrite_stddev_exact

    sql = (
        "SELECT 'it''s STDDEV(price) in prose' AS note, "
        "STDDEV(volume) FROM t"
    )
    out = rewrite_stddev_exact(sql)
    assert "'it''s STDDEV(price) in prose'" in out
    assert out.count("SQRT") == 1


def test_match_paren_handles_doubled_quote_escape():
    from snowflake_stock_dbt_spark.sqldialect import _match_paren

    sql = "f('a''b)', volume)"
    assert _match_paren(sql, 1) == len(sql)


def test_skip_literal_unterminated_consumes_rest():
    from snowflake_stock_dbt_spark.sqldialect import _skip_literal

    assert _skip_literal("'abc", 0) == 4
    assert _skip_literal("'a''", 0) == 4  # trailing escape, no close


# --- ann_index: hash-keyed path + atomic publish (round-7 ADVICE) ------------


def test_ivf_index_path_distinguishes_same_basename(tmp_path):
    from snowflake_stock_dbt_spark.sinks.ann_index import ivf_index_path

    a = tmp_path / "x" / "sf0.01"
    b = tmp_path / "y" / "sf0.01"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    pa, pb = ivf_index_path(str(a)), ivf_index_path(str(b))
    assert pa != pb
    assert os.path.basename(pa).startswith("sf0.01-")


def test_publish_atomically_replaces_stale_artifact(tmp_path):
    from snowflake_stock_dbt_spark.sinks.artifact import _publish_atomically

    final = tmp_path / "index"
    stale = final / "_META.json"
    final.mkdir()
    stale.write_text('{"k": 1}')
    staging = tmp_path / "index.tmp.123"
    staging.mkdir()
    (staging / "_META.json").write_text('{"k": 2}')
    _publish_atomically(str(staging), str(final))
    assert (final / "_META.json").read_text() == '{"k": 2}'
    assert not staging.exists()


def test_publish_atomically_keeps_concurrent_winner(tmp_path, monkeypatch):
    """If the final path re-appears between eviction and our rename (a
    concurrent writer won), ours is discarded and theirs survives."""
    from snowflake_stock_dbt_spark.sinks import artifact

    final = tmp_path / "index"
    staging = tmp_path / "index.tmp.9"
    staging.mkdir()
    (staging / "_META.json").write_text('{"k": 2}')

    real_rename = os.rename
    calls = {"n": 0}

    def racing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] <= 2:  # both attempts lose the race
            final.mkdir(exist_ok=True)
            (final / "_META.json").write_text('{"k": 7}')
            raise OSError("target exists")
        return real_rename(src, dst)

    monkeypatch.setattr(artifact.os, "rename", racing_rename)
    # second attempt fails too, but the winner's meta is present -> no raise
    artifact._publish_atomically(str(staging), str(final))
    assert (final / "_META.json").read_text() == '{"k": 7}'
    assert not staging.exists()


# --- q176: candidate-bounded exact audit (round-7 VERDICT item 5) ------------


def test_ngram_jaccard_restrict_ids_is_pure_pruning(spark, oracle_sf_dir):
    """Restricting the shingle frame to a doc-id set must reproduce
    exactly the full computation's pairs within that set — pruning, not
    semantics."""
    from snowflake_stock_dbt_spark.operators.textdedup import (
        ngram_jaccard_pairs,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, oracle_sf_dir, "documents")
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.0
        ).collect()
    }
    keep = spark.createDataFrame(
        [(i,) for i in range(0, 200, 2)], "doc_id long"
    )
    kept_ids = set(range(0, 200, 2))
    restricted = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.0, restrict_ids=keep
        ).collect()
    }
    want = {
        p: j
        for p, j in full.items()
        if p[0] in kept_ids and p[1] in kept_ids
    }
    assert restricted == want
    assert len(restricted) < len(full)


# --- q323: persisted band index round-trip (round-7 VERDICT item 6) ----------


def test_band_index_round_trip(spark, oracle_sf_dir, tmp_path):
    """Save → load must reproduce the trained band rows exactly, and the
    probe over the LOADED index must equal the probe over the trained
    one row-for-row."""
    from snowflake_stock_dbt_spark.operators.textdedup import (
        banded_signatures,
        minhash_index_probe,
    )
    from snowflake_stock_dbt_spark.sinks.band_index import (
        load_band_index,
        save_band_index,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, oracle_sf_dir, "documents")
    history = docs.where("doc_id % 10 != 0")
    batch = docs.where("doc_id % 10 = 0")
    trained = banded_signatures(history, "doc_id", "text").persist()
    path = str(tmp_path / "band_index")
    info = save_band_index(spark, trained, path, meta={"source": "test"})
    loaded, meta = load_band_index(spark, path)
    assert meta["n_rows"] == info["n_rows"] == trained.count()
    t_rows = {tuple(r) for r in trained.collect()}
    l_rows = {
        (r["doc_id"], r["band_id"], r["band_hash"]) for r in loaded.collect()
    }
    assert l_rows == t_rows
    from_trained = sorted(
        tuple(r)
        for r in minhash_index_probe(history, batch).collect()
    )
    from_loaded = sorted(
        tuple(r)
        for r in minhash_index_probe(
            None, batch, history_index=loaded
        ).collect()
    )
    assert from_loaded == from_trained
    trained.unpersist()


def test_band_index_refuses_family_mismatch(spark, oracle_sf_dir, tmp_path):
    from snowflake_stock_dbt_spark.operators.textdedup import (
        banded_signatures,
    )
    from snowflake_stock_dbt_spark.sinks.band_index import (
        load_band_index,
        save_band_index,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, oracle_sf_dir, "documents").limit(50)
    path = str(tmp_path / "band_index")
    save_band_index(
        spark, banded_signatures(docs, "doc_id", "text"), path
    )
    with pytest.raises(ValueError, match="hash family"):
        load_band_index(spark, path, n_hashes=32)


# --- probe_to_md: partial factor coverage (round-7 ADVICE) -------------------


def test_probe_to_md_handles_partial_factors():
    from tools.probe_to_md import exponents_table

    times = {
        "qA": {1: 1.0, 2: 2.0, 4: 4.0},
        "qB": {1: 1.0, 2: 2.1},  # missing factor 4
        "qC": {1: 0.0, 4: 0.0},  # degenerate timings
    }
    rows = exponents_table(times, [1, 2, 4])
    byq = {r[0]: r for r in rows}
    assert byq["qA"][-1] == pytest.approx(1.0, abs=0.01)
    assert "qB" in byq  # present, from its own factor subset
    assert "qC" in byq  # degenerate timings must not raise


# --- round-8 additions: q324-q328 oracle differentials -----------------------


@pytest.mark.parametrize(
    "name",
    [
        "q324_feature_asof",
        "q325_negative_sampling",
        "q326_heavy_hitters",
        "q327_prefix_sharing",
        "q328_padding_waste",
    ],
)
def test_round8_new_queries_match_oracle(spark, oracle_sf_dir, name):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


# --- q326 machinery: Misra-Gries guarantees ----------------------------------


def test_misra_gries_candidates_are_superset_and_bounded(spark):
    """Any key with global count > N/(capacity+1) MUST appear among the
    candidates (zero false negatives), and each partition emits at most
    `capacity` candidates — on an adversarially skewed frame."""
    from snowflake_stock_dbt_spark.operators.sketch import (
        misra_gries_candidates,
    )

    # 3 heavy keys drowned in a long tail of singletons, over 4 partitions.
    rows = (
        [(1,)] * 400 + [(2,)] * 300 + [(3,)] * 200
        + [(1000 + i,) for i in range(1100)]
    )
    df = spark.createDataFrame(rows, "k long").repartition(4)
    cap = 8
    cands = {
        r["k"] for r in misra_gries_candidates(df, "k", cap).collect()
    }
    n = len(rows)
    for heavy in (1, 2, 3):
        assert heavy in cands, f"true heavy hitter {heavy} was dropped"
    # Bounded output: <= capacity per partition.
    per_part = (
        misra_gries_candidates(df, "k", cap)
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    assert all(r["count"] <= cap for r in per_part)
    assert n == 2000


def test_heavy_hitters_exact_is_partitioning_invariant(spark):
    """The recount filter makes the composition's OUTPUT independent of
    partitioning, even though the candidate set is not."""
    from snowflake_stock_dbt_spark.operators.sketch import heavy_hitters_exact

    rows = [(i % 7,) for i in range(700)] + [(99,)] * 50
    base = spark.createDataFrame(rows, "k long")
    out1 = sorted(
        tuple(r) for r in heavy_hitters_exact(base.repartition(2), "k", 8).collect()
    )
    out2 = sorted(
        tuple(r) for r in heavy_hitters_exact(base.repartition(13), "k", 8).collect()
    )
    assert out1 == out2 and out1  # non-empty and partition-invariant


# --- q325 machinery: negative-sampling invariants ----------------------------


def test_negative_sampling_never_emits_a_positive(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans.curation import (
        q325_negative_sampling,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    neg = q325_negative_sampling(spark, oracle_sf_dir)
    orders = load_table(spark, oracle_sf_dir, "orders")
    li = load_table(spark, oracle_sf_dir, "lineitem")
    pos = (
        orders.join(
            li, orders.o_orderkey == li.l_orderkey
        )
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("l_partkey").alias("neg_partkey"),
        )
        .distinct()
    )
    leaked = neg.join(pos, ["c_custkey", "neg_partkey"], "inner").count()
    assert leaked == 0
    # Every emitted slot is one of the declared slots, at most once.
    from snowflake_stock_dbt_spark.plans.curation import _NEG_SLOTS

    bad = neg.where(
        (F.col("slot") < 0) | (F.col("slot") >= _NEG_SLOTS)
    ).count()
    assert bad == 0
    dup = (
        neg.groupBy("c_custkey", "slot").count().where(F.col("count") > 1)
    ).count()
    assert dup == 0


# --- q324 machinery: leakage guard -------------------------------------------


def test_feature_asof_never_reads_the_future(spark, oracle_sf_dir):
    """No attached event may postdate its spine row's order instant."""
    from snowflake_stock_dbt_spark.plans.curation import q324_feature_asof

    df = q324_feature_asof(spark, oracle_sf_dir)
    leaks = df.where(F.col("last_event_ts") > F.col("o_orderdate")).count()
    assert leaks == 0
    # And the spine survives intact: one output row per order.
    from snowflake_stock_dbt_spark.sources.tables import load_table

    assert df.count() == load_table(spark, oracle_sf_dir, "orders").count()


# --- q329: persisted SimHash slice index (index-as-artifact family) ----------


def test_q329_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q329_simhash_index_roundtrip"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_simhash_index_round_trip(spark, oracle_sf_dir, tmp_path):
    """Probe-from-loaded must equal probe-from-trained bit-for-bit."""
    from snowflake_stock_dbt_spark.operators.textdedup import (
        simhash_index_probe,
        simhash_slices,
    )
    from snowflake_stock_dbt_spark.sinks.simhash_index import (
        load_simhash_index,
        save_simhash_index,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, oracle_sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "shidx")
    save_simhash_index(
        spark, simhash_slices(history, "doc_id", "text"), path
    )
    loaded, meta = load_simhash_index(spark, path)
    assert meta["n_rows"] == loaded.count()
    from_loaded = sorted(
        tuple(r)
        for r in simhash_index_probe(
            None, batch, history_index=loaded
        ).collect()
    )
    from_trained = sorted(
        tuple(r) for r in simhash_index_probe(history, batch).collect()
    )
    assert from_loaded == from_trained and from_loaded


def test_simhash_index_refuses_family_mismatch(spark, oracle_sf_dir, tmp_path):
    import pytest as _pytest

    from snowflake_stock_dbt_spark.operators.textdedup import simhash_slices
    from snowflake_stock_dbt_spark.sinks.simhash_index import (
        load_simhash_index,
        save_simhash_index,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, oracle_sf_dir, "documents").limit(40)
    path = str(tmp_path / "shidx2")
    save_simhash_index(spark, simhash_slices(docs, "doc_id", "text"), path)
    with _pytest.raises(ValueError, match="signature family"):
        load_simhash_index(spark, path, n_bands=6)


def test_simhash_pairs_unchanged_by_slice_refactor(spark, oracle_sf_dir):
    """simhash_pairs now builds on simhash_slices — its output must still
    equal the Q24 oracle semantics (banded == brute force by pigeonhole)."""
    from snowflake_stock_dbt_spark.operators.textdedup import (
        simhash_pairs,
        simhash_signatures,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, oracle_sf_dir, "documents").limit(120)
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(docs, "doc_id", "text").collect()
    }
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(docs, "doc_id", "text").collect()
    }
    ids = sorted(sigs)
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert got == brute


# --- q330: band-index compaction (merge) --------------------------------------


def test_q330_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q330_band_index_merge"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_merge_band_indexes_equals_single_build(spark, oracle_sf_dir, tmp_path):
    """Merged artifact content == one-shot index over the unioned corpus."""
    from snowflake_stock_dbt_spark.operators.textdedup import (
        banded_signatures,
    )
    from snowflake_stock_dbt_spark.sinks.band_index import (
        load_band_index,
        merge_band_indexes,
        save_band_index,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, oracle_sf_dir, "documents").limit(100)
    a = docs.where("doc_id % 2 = 0")
    b = docs.where("doc_id % 2 = 1")
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    pm, ps = str(tmp_path / "merged"), str(tmp_path / "single")
    save_band_index(spark, banded_signatures(a, "doc_id", "text"), pa)
    save_band_index(spark, banded_signatures(b, "doc_id", "text"), pb)
    info = merge_band_indexes(spark, [pa, pb], pm)
    save_band_index(spark, banded_signatures(docs, "doc_id", "text"), ps)
    merged, _ = load_band_index(spark, pm)
    single, _ = load_band_index(spark, ps)
    m_rows = {tuple(r) for r in merged.collect()}
    s_rows = {tuple(r) for r in single.collect()}
    assert m_rows == s_rows
    assert info["n_rows"] == len(m_rows)
    assert info["merged_from"] == 2


def test_merge_band_indexes_refuses_family_mix(spark, oracle_sf_dir, tmp_path):
    import json

    from snowflake_stock_dbt_spark.operators.textdedup import (
        banded_signatures,
    )
    from snowflake_stock_dbt_spark.sinks.band_index import (
        merge_band_indexes,
        save_band_index,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, oracle_sf_dir, "documents").limit(30)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    save_band_index(spark, banded_signatures(docs, "doc_id", "text"), pa)
    save_band_index(spark, banded_signatures(docs, "doc_id", "text"), pb)
    meta = json.load(open(f"{pb}/_META.json"))
    meta["bands"] = meta["bands"] - 1
    json.dump(meta, open(f"{pb}/_META.json", "w"))
    with pytest.raises(ValueError, match="hash family"):
        merge_band_indexes(spark, [pa, pb], str(tmp_path / "m"))


# --- q331: incremental SCD2 fold (rebuild parity) -----------------------------


def test_q331_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q331_scd2_incremental"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_scd2_extend_parity_for_any_cutoff(spark, oracle_sf_dir):
    """extend(scd2(log < t), log >= t) == scd2(log) for EVERY cutoff —
    the operator contract q331 relies on, checked at three split points
    including one that slices mid-run for many users."""
    from snowflake_stock_dbt_spark.operators.scd2 import (
        scd2_extend_from_log,
        scd2_history_from,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    ev = load_table(spark, oracle_sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    full = sorted(
        tuple(r) for r in scd2_history_from(ev).drop("run_id").collect()
    )
    lo, hi = ev.selectExpr(
        "min(unix_micros(ts))", "max(unix_micros(ts))"
    ).first()
    for frac in (0.25, 0.5, 0.9):
        cut = lo + int((hi - lo) * frac)
        base = ev.where(F.expr(f"unix_micros(ts) < {cut}"))
        tail = ev.where(F.expr(f"unix_micros(ts) >= {cut}"))
        inc = scd2_extend_from_log(scd2_history_from(base), tail)
        got = sorted(tuple(r) for r in inc.drop("run_id").collect())
        assert got == full, f"parity broke at cutoff fraction {frac}"


def test_scd2_extend_handles_brand_new_users(spark):
    """A batch user with no history gets runs numbered from 1 and the
    seedless path must not drop or duplicate anything."""
    from snowflake_stock_dbt_spark.operators.scd2 import (
        scd2_extend_from_log,
        scd2_history_from,
    )

    base = spark.createDataFrame(
        [(1, "a", 10, "2024-01-01 00:00:00")],
        "user_id long, event_type string, event_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    tail = spark.createDataFrame(
        [
            (1, "b", 20, "2024-01-02 00:00:00"),
            (2, "x", 30, "2024-01-03 00:00:00"),
            (2, "x", 31, "2024-01-04 00:00:00"),
        ],
        "user_id long, event_type string, event_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = scd2_extend_from_log(scd2_history_from(base), tail)
    rows = {
        (r["user_id"], r["run_id"], r["event_type"], r["n_events"])
        for r in out.collect()
    }
    assert (1, 1, "a", 1) in rows and (1, 2, "b", 1) in rows
    assert (2, 1, "x", 2) in rows
    assert len(rows) == 3


# --- q332: IVF index APPEND maintenance (index-as-artifact family) -----------


def test_q332_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q332_ivf_index_append"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_append_ivf_postings_idempotent_per_tag(spark, tmp_path):
    """Same (artifact, tag) twice = one append; a new tag appends again.
    The marker-file guard is what makes sweep/bench re-runs of q332 safe."""
    from snowflake_stock_dbt_spark.sinks.ann_index import (
        append_ivf_postings,
        load_ivf_index,
        save_ivf_index,
    )

    path = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1)], "vec_id long, bucket int"
    )
    save_ivf_index(
        spark,
        [(0, [1, 2]), (1, [3, 4])],
        base,
        path,
        meta={"n_postings": 3},
    )
    batch = spark.createDataFrame([(10, 1), (11, 0)], "vec_id long, bucket int")
    append_ivf_postings(spark, batch, path, tag="b1", n_new=2)
    append_ivf_postings(spark, batch, path, tag="b1", n_new=2)
    _, postings, meta = load_ivf_index(spark, path)
    assert postings.count() == 5
    assert meta["n_postings"] == 5
    append_ivf_postings(spark, batch, path, tag="b2", n_new=2)
    _, postings, meta = load_ivf_index(spark, path)
    assert postings.count() == 7
    assert meta["n_postings"] == 7


def test_append_ivf_postings_refuses_missing_artifact(spark, tmp_path):
    import pytest as _pytest

    from snowflake_stock_dbt_spark.sinks.ann_index import append_ivf_postings

    batch = spark.createDataFrame([(1, 0)], "vec_id long, bucket int")
    with _pytest.raises(FileNotFoundError):
        append_ivf_postings(
            spark, batch, str(tmp_path / "nope"), tag="b", n_new=1
        )


def test_q332_oracle_restricts_training_population():
    """The specialized oracle must gate seeding and the per-iteration
    CTEs on the base predicate but leave the FINAL assignment global."""
    from snowflake_stock_dbt_spark.plans.vectors import (
        _MAINT_TRAIN_PRED,
        Q106_SQL,
        Q332_SQL,
    )

    assert Q332_SQL != Q106_SQL
    # seeds + iters 1..2 are gated (3 WHEREs), the final dist3 is not.
    assert Q332_SQL.count(f"({_MAINT_TRAIN_PRED})") == 3
    tail = Q332_SQL.split("dist3 AS", 1)[1].split("asgf AS", 1)[0]
    assert _MAINT_TRAIN_PRED not in tail


# --- q333: day-granular temporal split -----------------------------------------


def test_q333_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q333_temporal_split"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_q333_split_properties(spark, oracle_sf_dir):
    """Day granularity never bisects a user-day; every user keeps a
    non-empty train slice; the three splits partition the corpus."""
    from snowflake_stock_dbt_spark.plans.curation import q333_temporal_split
    from snowflake_stock_dbt_spark.sources.tables import load_table

    df = q333_temporal_split(spark, oracle_sf_dir)
    rows = df.collect()
    total = sum(r["n_events"] for r in rows)
    ev = load_table(spark, oracle_sf_dir, "events")
    assert total == ev.count()
    by_split = {}
    for r in rows:
        by_split.setdefault(r["split"], 0)
        by_split[r["split"]] += r["n_events"]
    assert set(by_split) == {"train", "valid", "test"}
    # temporal split: train dominates, and day-rounding moved SOMETHING
    # (the audit column must not be vacuous on the oracle corpus).
    assert by_split["train"] > by_split["valid"]
    assert sum(r["n_moved"] for r in rows) > 0
    assert all(r["n_moved"] == 0 for r in rows if r["split"] == "test")


def test_q333_single_user_shuffle(spark, oracle_sf_dir):
    """The (user_id, day) windows must reuse the user_id exchange —
    exactly ONE hashpartitioning(user_id) and no (user_id, day) one."""
    from snowflake_stock_dbt_spark.plans.curation import q333_temporal_split

    plan = (
        q333_temporal_split(spark, oracle_sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    # no exchange keyed on the day column: subset partitioning satisfied
    # the (user_id, day) windows' clustered distribution.
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        keys = seg.split(")")[0]
        # the raw per-event `day` column (day#NN) must never be a shuffle
        # key; the day_split AGGREGATE key is a different (tiny) exchange.
        assert "day#" not in keys, f"unexpected day-keyed shuffle: {keys}"


# --- q334: MMR diversified retrieval ------------------------------------------


def test_q334_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q334_mmr_rerank"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_mmr_rerank_python_replay(spark):
    """The unrolled-DataFrame greedy loop must equal a literal Python
    MMR over the same integer grids, including tie behavior."""
    from snowflake_stock_dbt_spark.operators.similarity import mmr_rerank

    cand_rows = [
        (1, 10, 900), (1, 11, 890), (1, 12, 880), (1, 13, 500),
        (2, 20, 700), (2, 21, 700), (2, 22, 100),
    ]
    sim_rows = [
        # query 1: 10 and 11 are near-duplicates; 13 is far from all.
        (1, 10, 11, 990), (1, 11, 10, 990),
        (1, 10, 12, 300), (1, 12, 10, 300),
        (1, 11, 12, 310), (1, 12, 11, 310),
        (1, 10, 13, 10), (1, 13, 10, 10),
        (1, 11, 13, 20), (1, 13, 11, 20),
        (1, 12, 13, 30), (1, 13, 12, 30),
        # query 2: tie on relevance (20 vs 21) -> smallest id first.
        (2, 20, 21, 500), (2, 21, 20, 500),
        (2, 20, 22, 400), (2, 22, 20, 400),
        (2, 21, 22, 600), (2, 22, 21, 600),
    ]
    cand = spark.createDataFrame(
        cand_rows, "query_id long, cand_id long, rel_n long"
    )
    sim = spark.createDataFrame(
        sim_rows, "query_id long, a_id long, b_id long, sim_n long"
    )
    got = {
        (r["query_id"], r["sel_rank"]): r["cand_id"]
        for r in mmr_rerank(cand, sim, k=3).collect()
    }

    def replay(q):
        cands = {c: r for qq, c, r in cand_rows if qq == q}
        sims = {(a, b): s for qq, a, b, s in sim_rows if qq == q}
        sel = [min(cands, key=lambda c: (-cands[c], c))]
        while len(sel) < 3 and len(sel) < len(cands):
            rest = [c for c in cands if c not in sel]
            sel.append(
                min(
                    rest,
                    key=lambda c: (
                        -(7 * cands[c] - 3 * max(sims[(c, s)] for s in sel)),
                        c,
                    ),
                )
            )
        return sel

    for q in (1, 2):
        exp = replay(q)
        assert [got[(q, t + 1)] for t in range(len(exp))] == exp
    # diversification is real: query 1 skips the near-dup 11 at rank 2.
    assert got[(1, 1)] == 10 and got[(1, 2)] == 12
    # relevance tie at rank 1 goes to the smallest cand_id.
    assert got[(2, 1)] == 20


def test_q334_differs_from_pure_topk(spark, oracle_sf_dir):
    """Non-vacuity on the oracle corpus: MMR's selection order must not
    be identical to pure relevance ranking for every query."""
    from snowflake_stock_dbt_spark.operators.similarity import (
        cosine_topk_exact,
    )
    from snowflake_stock_dbt_spark.plans.retrieval import (
        MMR_K,
        MMR_NQ,
        q334_mmr_rerank,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < MMR_NQ)
    pure = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk_exact(queries, emb, k=MMR_K).collect()
    }
    mmr = {
        (r["query_id"], r["sel_rank"]): r["cand_id"]
        for r in q334_mmr_rerank(spark, oracle_sf_dir).collect()
    }
    assert set(pure) == set(mmr)
    assert any(pure[key] != mmr[key] for key in pure)


# --- q335: matryoshka truncated-dim funnel audit -------------------------------


def test_q335_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q335_matryoshka_funnel"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_q335_full_width_prefilter_is_perfect(spark, oracle_sf_dir):
    """Sanity anchor: with the truncation widened to the FULL dimension,
    the two-stage funnel must recover the exact top-k (recall 1000) —
    the audit measures the truncation, not the funnel plumbing."""
    import snowflake_stock_dbt_spark.plans.vectors as V

    old = V.MAT_DIMS
    V.MAT_DIMS = V.EMBED_DIM
    try:
        rows = V.q335_matryoshka_funnel(spark, oracle_sf_dir).collect()
    finally:
        V.MAT_DIMS = old
    assert rows and all(r["recall_milli"] == 1000 for r in rows)


def test_q335_truncated_recall_is_lossy_here(spark, oracle_sf_dir):
    """Non-vacuity: on the synthetic corpus (uncorrelated dims) the
    16-dim prefilter must actually lose ground truth."""
    import snowflake_stock_dbt_spark.plans.vectors as V

    rows = V.q335_matryoshka_funnel(spark, oracle_sf_dir).collect()
    assert all(r["n_truth"] == V.TOP_K for r in rows)
    assert any(r["recall_milli"] < 1000 for r in rows)


# --- q336: deterministic HLL distinct sketch ------------------------------------


def test_q336_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q336_hll_distinct"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_hll_registers_merge_and_partition_invariance(spark, oracle_sf_dir):
    """sketch(A ∪ B) must equal the cell-wise MAX of sketch(A) and
    sketch(B) — the mergeable-summaries property that makes the sketch a
    shuffle-bounded replacement for countDistinct — and the registers
    must not depend on partitioning."""
    from snowflake_stock_dbt_spark.operators.sketch import hll_registers
    from snowflake_stock_dbt_spark.sources.tables import load_table

    ev = load_table(spark, oracle_sf_dir, "events")
    whole = {
        (r["grp"], r["bucket"]): r["mreg"]
        for r in hll_registers(ev, "event_type", "user_id").collect()
    }
    a = hll_registers(
        ev.where("event_id % 2 = 0"), "event_type", "user_id"
    ).collect()
    b = hll_registers(
        ev.where("event_id % 2 = 1"), "event_type", "user_id"
    ).collect()
    merged: dict = {}
    for r in list(a) + list(b):
        key = (r["grp"], r["bucket"])
        merged[key] = max(merged.get(key, 0), r["mreg"])
    assert merged == whole
    repart = {
        (r["grp"], r["bucket"]): r["mreg"]
        for r in hll_registers(
            ev.repartition(17, "value"), "event_type", "user_id"
        ).collect()
    }
    assert repart == whole


def test_q336_estimate_is_in_hll_error_band(spark, oracle_sf_dir):
    """m=64 gives ~13% standard error; every group must land well inside
    a 4-sigma band (and the estimate must be positive)."""
    from snowflake_stock_dbt_spark.plans.scale import q336_hll_distinct

    rows = q336_hll_distinct(spark, oracle_sf_dir).collect()
    assert rows
    for r in rows:
        assert r["est"] > 0
        assert abs(r["err_ppm"]) < 520_000, dict(r.asDict())


# --- micro_bench: scoped runs merge, never clobber ------------------------------


def test_micro_bench_scoped_run_merges(tmp_path):
    import json

    from tools.micro_bench import merged_results

    out = tmp_path / "MICRO_BENCH.json"
    out.write_text(
        json.dumps({"queries": {"qA": {"median": 1.0}, "qB": {"median": 2.0}}})
    )
    got = merged_results({"qA": {"median": 1.5}}, True, str(out))
    assert got == {"qA": {"median": 1.5}, "qB": {"median": 2.0}}
    # full-rotation runs still replace wholesale
    assert merged_results({"qA": {"median": 9.0}}, False, str(out)) == {
        "qA": {"median": 9.0}
    }


# --- q337: bucketed co-located join ---------------------------------------------


def test_q337_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q337_bucketed_join"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_q337_join_is_exchange_free(spark, oracle_sf_dir):
    """The whole point: both join inputs come from bucketed scans, so the
    sort-merge join runs with NO shuffle on the join key — the plan must
    contain bucketed FileScans and no Exchange on either key."""
    from snowflake_stock_dbt_spark.plans.ops_diag import q337_bucketed_join

    plan = (
        q337_bucketed_join(spark, oracle_sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Bucketed: true" in plan


# --- q338: snapshot diff (CDC derivation) ---------------------------------------


def test_q338_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q338_snapshot_diff"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_q338_diff_applied_reproduces_v2(spark, oracle_sf_dir):
    """Round-trip with the q202 discipline: applying the derived diff
    back onto v1 must reproduce v2 exactly — diff and apply are inverse
    operators."""
    from snowflake_stock_dbt_spark.plans.retrieval import (
        _DIFF_DEL_MOD,
        _DIFF_INS_MOD,
        _DIFF_INS_OFFSET,
        _DIFF_UPD_MOD,
        q338_snapshot_diff,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    v1 = {
        r["k"]: r["p"]
        for r in load_table(spark, oracle_sf_dir, "orders")
        .selectExpr("o_orderkey AS k", "o_totalprice AS p")
        .collect()
    }
    v2 = {}
    for k, p in v1.items():
        if k % _DIFF_DEL_MOD != 0:
            v2[k] = p + 5.0 if k % _DIFF_UPD_MOD == 0 else p
        if k % _DIFF_INS_MOD == 0:
            v2[k + _DIFF_INS_OFFSET] = p
    applied = dict(v1)
    for r in q338_snapshot_diff(spark, oracle_sf_dir).collect():
        if r["change_type"] == "D":
            applied.pop(r["o_orderkey"])
        else:
            applied[r["o_orderkey"]] = r["new_price"]
    assert applied == v2


# --- q339: hard-negative mining -------------------------------------------------


def test_q339_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q339_hard_negatives"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_q339_never_emits_a_positive_and_fills_k(spark, oracle_sf_dir):
    """Every mined negative must carry a label different from its
    anchor's, and the candidate-stage filter must still fill all k slots
    per anchor (a post-ranking filter would come up short)."""
    from snowflake_stock_dbt_spark.plans.vectors import (
        HN_ANCHORS,
        TOP_K,
        q339_hard_negatives,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, oracle_sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    rows = q339_hard_negatives(spark, oracle_sf_dir).collect()
    assert len(rows) == HN_ANCHORS * TOP_K
    for r in rows:
        assert labels[r["query_id"]] != labels[r["neighbor_id"]]


# --- q340: streaming windowed HLL ------------------------------------------------


def test_q340_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q340_streaming_hll"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_q340_stream_equals_batch_fold(spark, oracle_sf_dir):
    """Register MAX is batching-independent, so the drained stream folded
    to estimates must equal the same fold computed purely in batch."""
    from snowflake_stock_dbt_spark.functions.text import hash60
    from snowflake_stock_dbt_spark.operators.sketch import (
        HLL_M,
        hll_estimate,
        hll_rho_sql,
    )
    from snowflake_stock_dbt_spark.plans.streaming_plans import (
        WINDOW_S,
        q340_streaming_hll,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    got = sorted(
        tuple(r) for r in q340_streaming_hll(spark, oracle_sf_dir).collect()
    )
    ev = load_table(spark, oracle_sf_dir, "events")
    h = hash60(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    base = (
        ev.select(
            F.expr(
                f"unix_micros(ts) div {WINDOW_S * 1_000_000}"
                f" * {WINDOW_S * 1_000_000}"
            ).alias("window_start_us"),
            "event_type",
            h.alias("h"),
        )
        .select(
            "window_start_us",
            "event_type",
            F.expr(f"h % {HLL_M}").cast("int").alias("bucket"),
            F.expr(f"h div {HLL_M}").alias("w"),
        )
        .withColumn("rho", F.expr(hll_rho_sql("w")).cast("int"))
        .groupBy("window_start_us", "event_type", "bucket")
        .agg(F.max("rho").alias("mreg"))
    )
    want = sorted(
        tuple(r)
        for r in hll_estimate(
            base, group_cols=("window_start_us", "event_type")
        )
        .orderBy("window_start_us", "event_type")
        .collect()
    )
    assert got == want


# --- streaming reader: directory-shaped corpora ----------------------------------


def test_stream_events_reads_directory_corpus(spark, oracle_sf_dir, tmp_path):
    """Spark-written corpora ship events.parquet as a DIRECTORY of part
    files; the file-source must stream the same rows it streams from the
    single-file shape (the pre-round-8 glob streamed ZERO rows and every
    streaming scale probe timed an empty drain)."""
    from snowflake_stock_dbt_spark.sources.tables import load_table
    from snowflake_stock_dbt_spark.streaming.pipeline import (
        run_streaming_query,
        stream_events,
    )

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    ev = load_table(spark, oracle_sf_dir, "events").limit(1000)
    ev.write.parquet(str(corpus / "events.parquet"))
    streamed = run_streaming_query(
        spark,
        stream_events(spark, str(corpus)).groupBy("event_type").count(),
        output_mode="complete",
        state_partitions=4,
    )
    got = {(r["event_type"], r["count"]) for r in streamed.collect()}
    want = {
        (r["event_type"], r["count"])
        for r in ev.groupBy("event_type").count().collect()
    }
    assert got == want and got


# --- q341: persisted daily HLL rollup ---------------------------------------------


def test_q341_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q341_hll_rollup"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_hll_store_round_trip_and_geometry_guard(spark, oracle_sf_dir, tmp_path):
    """Save → load must reproduce the daily register rows exactly, and a
    mismatched register geometry must refuse to load."""
    from snowflake_stock_dbt_spark.operators.sketch import hll_registers
    from snowflake_stock_dbt_spark.sinks.sketch_store import (
        load_hll_registers,
        save_hll_registers,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    ev = load_table(spark, oracle_sf_dir, "events").withColumn(
        "day", F.expr("unix_micros(ts) div 86400000000")
    )
    daily = hll_registers(ev, ("day", "event_type"), "user_id")
    path = str(tmp_path / "hll_store")
    info = save_hll_registers(spark, daily, path)
    loaded, meta = load_hll_registers(spark, path)
    assert meta["n_rows"] == info["n_rows"] == loaded.count()
    want = {tuple(r) for r in daily.collect()}
    got = {
        (r["day"], r["event_type"], r["bucket"], r["mreg"])
        for r in loaded.collect()
    }
    assert got == want
    with pytest.raises(ValueError, match="geometry"):
        load_hll_registers(spark, path, p=10)


def test_hll_daily_merge_equals_union_sketch(spark, oracle_sf_dir):
    """Mergeable-summaries exactness: MAX-merging per-day registers must
    equal the registers computed directly on the unioned days."""
    from snowflake_stock_dbt_spark.operators.sketch import hll_registers
    from snowflake_stock_dbt_spark.sources.tables import load_table

    ev = load_table(spark, oracle_sf_dir, "events").withColumn(
        "day", F.expr("unix_micros(ts) div 86400000000")
    )
    daily = hll_registers(ev, ("day", "event_type"), "user_id")
    merged = {
        (r["event_type"], r["bucket"]): r["mreg"]
        for r in daily.groupBy("event_type", "bucket")
        .agg(F.max("mreg").alias("mreg"))
        .collect()
    }
    direct = {
        (r["grp"], r["bucket"]): r["mreg"]
        for r in hll_registers(ev, "event_type", "user_id").collect()
    }
    assert merged == direct


# --- q342: hybrid retrieval capstone ----------------------------------------------


def test_q342_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q342_hybrid_mmr"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_q342_selects_from_fused_list_and_leads_with_top(spark, oracle_sf_dir):
    """Every MMR selection must come from q211's fused top list, and
    selection 1 must be the fused argmax (pure relevance first)."""
    from snowflake_stock_dbt_spark.plans.retrieval import (
        MMRH_K,
        q211_rrf_hybrid,
        q342_hybrid_mmr,
    )

    fused = {
        r["id"]: (r["rrf_ppb"], r["rank"])
        for r in q211_rrf_hybrid(spark, oracle_sf_dir).collect()
    }
    sel = q342_hybrid_mmr(spark, oracle_sf_dir).collect()
    assert len(sel) == MMRH_K
    assert all(r["id"] in fused for r in sel)
    top_fused = min(fused, key=lambda i: (-fused[i][0], i))
    assert sel[0]["id"] == top_fused and sel[0]["sel_rank"] == 1


# --- q343: salted skewed join ------------------------------------------------------


def test_q343_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q343_salted_join"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_q343_join_actually_salts(spark, oracle_sf_dir):
    """The physical join key must include the salt column — otherwise the
    query silently degrades to the plain (hot-reducer) join."""
    from snowflake_stock_dbt_spark.plans.ops_diag import q343_salted_join

    plan = (
        q343_salted_join(spark, oracle_sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "__salt" in plan


# --- q344: ORC round-trip parity ----------------------------------------------------


def test_q344_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q344_orc_roundtrip"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_q344_orc_content_identical_to_parquet(spark, oracle_sf_dir):
    """Row-level: the ORC copy must hold exactly the parquet rows
    (timestamps included), not merely agree on aggregates."""
    from snowflake_stock_dbt_spark.plans.ops_diag import _orc_lineitem_path
    from snowflake_stock_dbt_spark.sources.formats import read_table
    from snowflake_stock_dbt_spark.sources.tables import load_table

    orc = read_table(spark, _orc_lineitem_path(spark, oracle_sf_dir), fmt="orc")
    pq = load_table(spark, oracle_sf_dir, "lineitem")
    assert orc.count() == pq.count()
    assert orc.exceptAll(pq.select(*orc.columns)).isEmpty()
    assert pq.select(*orc.columns).exceptAll(orc).isEmpty()


# --- MMR: arrow path == unrolled relational reference -------------------------------


def test_mmr_arrow_equals_unrolled_reference(spark, oracle_sf_dir):
    """The cogrouped-applyInPandas execution must reproduce the
    unrolled-join reference row-for-row on real candidates (the SNM
    windowed-vs-bucketed discipline applied to MMR)."""
    from snowflake_stock_dbt_spark.operators.similarity import (
        cosine_topk_exact,
        mmr_rerank,
        mmr_rerank_arrow,
    )
    from snowflake_stock_dbt_spark.plans.retrieval import (
        MMR_K,
        MMR_M,
        MMR_NQ,
        _candidate_pairsim,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    topm = cosine_topk_exact(
        emb.where(F.col("vec_id") < MMR_NQ), emb, k=MMR_M
    )
    cand = topm.select(
        "query_id",
        F.col("neighbor_id").alias("cand_id"),
        F.round(F.col("cosine") * F.lit(1e9)).cast("long").alias("rel_n"),
    ).localCheckpoint()
    pairsim = _candidate_pairsim(emb, cand)
    ref = sorted(tuple(r) for r in mmr_rerank(cand, pairsim, k=MMR_K).collect())
    arrow = sorted(
        tuple(r) for r in mmr_rerank_arrow(cand, pairsim, k=MMR_K).collect()
    )
    assert arrow == ref and len(ref) == MMR_NQ * MMR_K


def test_mmr_arrow_matches_reference_with_simless_candidates(spark):
    """A hybrid list can carry ids with NO pair-sim rows (lexical-only,
    no embedding): both executions must let them win the pure-relevance
    round 1 but exclude them from diversity rounds (inner-join
    semantics), identically."""
    from snowflake_stock_dbt_spark.operators.similarity import (
        mmr_rerank,
        mmr_rerank_arrow,
    )

    # 99 is most relevant but has no sims; 1/2/3 are fully connected.
    cand = spark.createDataFrame(
        [(0, 99, 1000), (0, 1, 900), (0, 2, 890), (0, 3, 100)],
        "query_id long, cand_id long, rel_n long",
    )
    sims = spark.createDataFrame(
        [
            (0, 1, 2, 950), (0, 2, 1, 950),
            (0, 1, 3, 10), (0, 3, 1, 10),
            (0, 2, 3, 20), (0, 3, 2, 20),
            (0, 1, 99, 0), (0, 2, 99, 0), (0, 3, 99, 0),
        ],
        "query_id long, a_id long, b_id long, sim_n long",
    )
    ref = sorted(tuple(r) for r in mmr_rerank(cand, sims, k=3).collect())
    arrow = sorted(
        tuple(r) for r in mmr_rerank_arrow(cand, sims, k=3).collect()
    )
    assert arrow == ref
    # 99 wins round 1 (pure relevance); rounds 2-3 pick only connected ids.
    by_rank = {r[2]: r[1] for r in arrow}
    assert by_rank[1] == 99 and set(by_rank.values()) <= {99, 1, 2, 3}


# --- q345: explicit bloom filter audit ----------------------------------------------


def test_q345_matches_oracle(spark, oracle_sf_dir):
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
    from tests.oracle_utils import compare_query

    name = "q345_bloom_filter_audit"
    compare_query(
        spark, oracle_sf_dir, ALL_QUERIES[name], ALL_ORACLES[name], name
    )


def test_q345_bloom_never_false_negative_and_fp_nonvacuous(spark, oracle_sf_dir):
    """Every present key must probe positive (the Bloom guarantee), and
    on this corpus the filter must actually produce false positives —
    otherwise the audit is vacuous."""
    from snowflake_stock_dbt_spark.plans.scale import q345_bloom_filter_audit

    rows = q345_bloom_filter_audit(spark, oracle_sf_dir).collect()
    assert rows
    # no false negatives: positives cover at least every present key
    assert all(r["n_positive"] >= r["n_present"] for r in rows)
    assert sum(r["n_false_pos"] for r in rows) > 0
    total_absent = sum(r["n_probes"] - r["n_present"] for r in rows)
    total_fp = sum(r["n_false_pos"] for r in rows)
    # sanity: measured fpp within a loose factor of theory (~14% here)
    assert 0 < total_fp / total_absent < 0.5


def test_bloom_filters_or_merge(spark, oracle_sf_dir):
    """Two half-corpus filters OR-merged must equal the single-build
    filter — the mergeable-summaries property (stream/batch unions)."""
    from snowflake_stock_dbt_spark.operators.sketch import bloom_build
    from snowflake_stock_dbt_spark.sources.tables import load_table

    keys = (
        load_table(spark, oracle_sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    whole = {
        (r["word"], r["bits"]) for r in bloom_build(keys, "k").collect()
    }
    a = bloom_build(keys.where("k % 2 = 0"), "k").collect()
    b = bloom_build(keys.where("k % 2 = 1"), "k").collect()
    merged: dict = {}
    for r in list(a) + list(b):
        merged[r["word"]] = merged.get(r["word"], 0) | r["bits"]
    assert set(merged.items()) == whole
