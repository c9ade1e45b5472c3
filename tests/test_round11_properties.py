"""Round-11 regression pins: the five ADVICE-r10 fixes.

1. SPARK_GRAFT_FORCE_EXACT + SPARK_GRAFT_FLAT_ASSIGN together must NOT
   raise — the flat scan is exact at any k, which is exactly what the
   escape hatch exists for.
2. The SQL BQ packing (_BQ_HI) bounds pos < 64 so dims beyond the
   64-bit signature never alias onto bits 32-63 (pack_sign_words parity
   on >64-dim vectors).
3. ORC sibling pruning keys on basename + full-path hash (pinned in
   test_round10_properties.test_orc_cache_prunes_stale_siblings).
4. _stabilize_assigned prunes dead (uncached) registry handles.
5. knn_graph / knn_graph_bq exclude NULL-embedding rows from the edge
   population on both sides, like the SQL twins' unnest does.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_force_exact_allows_forced_flat_assign(spark, monkeypatch):
    """FLAT_ASSIGN=1 forces the exact flat scan at every k; under
    FORCE_EXACT that combination is legitimate (exact assignment on a
    large parity corpus) and must not raise (ADVICE r10)."""
    from snowflake_stock_dbt_spark.operators.similarity import (
        TWO_LEVEL_MIN_K,
        _with_probes,
    )

    monkeypatch.setenv("SPARK_GRAFT_FORCE_EXACT", "1")
    monkeypatch.setenv("SPARK_GRAFT_FLAT_ASSIGN", "1")
    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3, 0.4])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = [(b, [b * 100000, b * 100000]) for b in range(TWO_LEVEL_MIN_K)]
    out = _with_probes(df, cents, "embedding", nprobe=1)
    rows = {r["vec_id"]: r["__probes"][0]["bucket"] for r in out.collect()}

    # The flat path is an exact argmin — verify against the argmin
    # computed directly over the quantized integers.
    def argmin(vec):
        q = [int(v * 1e7 // 1) for v in vec]
        return min(
            range(TWO_LEVEL_MIN_K),
            key=lambda b: sum((x - b * 100000) ** 2 for x in q),
        )

    assert rows == {1: argmin([0.1, 0.2]), 2: argmin([0.3, 0.4])}


def test_bq_sql_packing_ignores_dims_past_64():
    """DuckDB twin of pack_sign_words on a 96-dim vector: positions
    64..95 must contribute NO bits (the engine's signature hard-caps at
    64 dims); without the pos < 64 bound they aliased onto bits 32-63
    via pos % 32 (ADVICE r10)."""
    import duckdb

    from snowflake_stock_dbt_spark.plans.vectors import _BQ_HI, _BQ_LO

    con = duckdb.connect()
    # One vector: dims 0..63 all NEGATIVE (no bits), dims 64..95 all
    # POSITIVE — any set bit can only come from aliasing.
    con.sql(
        "CREATE TABLE u AS SELECT 1 AS vec_id, CAST(r.range AS INT) AS pos, "
        "CASE WHEN r.range >= 64 THEN 1.0 ELSE -1.0 END AS v "
        "FROM range(0, 96) r"
    )
    lo, hi = con.sql(
        f"SELECT {_BQ_LO} AS lo, {_BQ_HI} AS hi FROM u GROUP BY vec_id"
    ).fetchone()
    assert (lo, hi) == (0, 0), (
        f"dims past 64 leaked into the signature: lo={lo:#x} hi={hi:#x}"
    )
    # Control: a positive dim INSIDE the window does set its bit.
    con.sql("UPDATE u SET v = 1.0 WHERE pos IN (3, 40)")
    lo2, hi2 = con.sql(
        f"SELECT {_BQ_LO} AS lo, {_BQ_HI} AS hi FROM u GROUP BY vec_id"
    ).fetchone()
    assert lo2 == 1 << 3 and hi2 == 1 << (40 % 32)


def test_stabilize_prunes_dead_registry_handles(spark):
    """clearCache() frees the blocks but used to leave dead DataFrame
    references in _PERSISTED_FRAMES for the whole session (ADVICE r10):
    the next _stabilize_assigned call must prune them."""
    from snowflake_stock_dbt_spark.operators import similarity as S

    S.release_persisted_frames()
    df = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.1), F.lit(0.2)).alias("embedding"),
    )
    S._stabilize_assigned(df, k=S.TWO_LEVEL_MIN_K)
    assert len(S._PERSISTED_FRAMES) == 1
    spark.catalog.clearCache()  # blocks gone, handle now dead
    out2 = S._stabilize_assigned(
        spark.range(3).select(F.col("id").alias("vec_id")),
        k=S.TWO_LEVEL_MIN_K,
    )
    assert S._PERSISTED_FRAMES == [out2], (
        "dead handle must be pruned when the next frame registers"
    )
    S.release_persisted_frames()


# --- q351: balanced assignment as a registered query ------------------------


def test_q351_spills_are_non_vacuous(spark, oracle_sf_dir):
    """The demo cap sits below the trained max bucket on the oracle
    corpus, so the value-oracle comparison must cover REAL spills —
    a q351 run with zero spilled rows would pin nothing."""
    import __spark_entry__ as E

    rows = E.queries()["q351_balanced_assign"](spark, oracle_sf_dir).collect()
    spilled = [r for r in rows if r["spill_level"] > 0]
    assert len(rows) > 0 and len(spilled) > 0, "no spills exercised"
    for r in spilled:
        assert r["balanced_bucket"] != r["natural_bucket"], (
            "a spilled row must have moved buckets"
        )
    stay = [r for r in rows if r["spill_level"] == 0]
    assert all(
        r["balanced_bucket"] == r["natural_bucket"] for r in stay
    ), "an unspilled row must keep its argmin bucket"


# --- q350 recall vs brute-force TRUTH (round-11 VERDICT item 4) -------------


def test_q350_recall_floor_vs_brute_force_truth(spark, oracle_sf_dir):
    """Round-10's floor was overlap-with-q151 — itself an nprobe
    approximation. Pin q350's recall against exact kNN ground truth:
    what a user actually loses to IVF+BQ at the production margin
    (measured 0.92-0.99 at probe scale, tools/bq_recall_probe.py)."""
    import numpy as np
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    t = pq.read_table(
        f"{oracle_sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = np.asarray(t["vec_id"].to_pylist(), dtype=np.int64)
    X = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    sims = X @ X.T
    np.fill_diagonal(sims, -np.inf)
    truth = set()
    for i in range(len(ids)):
        top = np.argpartition(-sims[i], 4)[:4]
        for j in top:
            truth.add((int(ids[i]), int(ids[j])))

    qs = E.queries()
    bq = {
        (r["src_id"], r["dst_id"])
        for r in qs["q350_knn_graph_bq"](spark, oracle_sf_dir).collect()
    }
    e151 = {
        (r["src_id"], r["dst_id"])
        for r in qs["q151_knn_graph"](spark, oracle_sf_dir).collect()
    }
    r_bq = len(bq & truth) / len(truth)
    r_151 = len(e151 & truth) / len(truth)
    # On the uniform-sphere oracle corpus the IVF nprobe=2 restriction
    # itself caps truth recall near 0.49 (measured: q151 0.488) — the
    # honest floor for the BQ stage is RELATIVE: it may cost at most 3
    # points on top of the IVF baseline (measured cost: 1.1 pts here,
    # 0-2 pts at probe scale on clusterable geometry).
    assert r_bq >= r_151 - 0.03, (
        f"BQ prerank cost too high: q350 truth recall {r_bq:.3f} vs "
        f"q151 {r_151:.3f}"
    )
    assert r_bq >= 0.40, f"absolute truth-recall sanity floor: {r_bq:.3f}"


# --- balanced IVF assignment (round-11 VERDICT item 1) ----------------------


@pytest.fixture(scope="module")
def two_level_knn_setup(request):
    """A forced-two-level corpus + trained codebook shared by the
    balanced-assignment tests (n=2000, k=125 — the flip-floor test's
    geometry, where buckets genuinely overflow the 1.3x capacity)."""
    import snowflake_stock_dbt_spark.operators.similarity as sim
    from snowflake_stock_dbt_spark.session import get_spark
    from tools.scale_probe import _gauss_embedding

    spark = get_spark(app_name="tests")
    n, k = 2000, 125
    base = spark.range(n).select(F.col("id").alias("vec_id"))
    emb_expr, _lab = _gauss_embedding(F.col("vec_id"))
    corpus = base.withColumn("embedding", emb_expr).localCheckpoint()
    old_min = sim.TWO_LEVEL_MIN_K
    sim.TWO_LEVEL_MIN_K = 16
    bucketed, cent = sim.kmeans_assign(
        corpus, k=k, iters=2, return_centroids=True
    )
    bucketed = bucketed.localCheckpoint()

    def fin():
        sim.TWO_LEVEL_MIN_K = old_min
        sim.release_persisted_frames()

    request.addfinalizer(fin)
    return spark, sim, bucketed, cent, n, k


def _edges(df):
    return sorted(
        (r["src_id"], r["dst_id"], round(r["cosine"], 9), r["rank"])
        for r in df.collect()
    )


def test_balanced_posting_exactness_witness(two_level_knn_setup, monkeypatch):
    """With capacity >= the largest natural bucket, no row ever spills,
    so the balanced path must reproduce the unbalanced beam path EDGE
    FOR EDGE — the degenerate-config witness (the beam/BQ discipline
    applied to the capacity stage)."""
    spark, sim, bucketed, cent, n, k = two_level_knn_setup
    monkeypatch.setenv("SPARK_GRAFT_BALANCED_ASSIGN", "0")
    ref = _edges(sim.knn_graph(bucketed, cent, k=4, nprobe=2))
    monkeypatch.setenv("SPARK_GRAFT_BALANCED_ASSIGN", "1")
    monkeypatch.setattr(sim, "BALANCE_CAP_FACTOR", 1e9)
    wit = _edges(sim.knn_graph(bucketed, cent, k=4, nprobe=2))
    assert wit == ref and len(ref) > 0


def test_balanced_posting_caps_bucket_sizes(two_level_knn_setup):
    """Every posting list must hold <= cap rows once the spill passes
    settle (this geometry has global slack; the soft last-level
    residual only appears when a whole neighborhood saturates), and the
    assignment must be deterministic across runs. The cap here is set
    BELOW the fixture's natural max bucket so real spills are
    exercised regardless of the production BALANCE_CAP_FACTOR."""
    spark, sim, bucketed, cent, n, k = two_level_knn_setup
    cap = 20  # natural max on this fixture is ~27 — genuine overflow
    pr = sim._with_probes(
        bucketed, cent, "embedding", max(2, sim.BALANCE_SPILL_DEPTH)
    )
    posting = sim.balanced_posting(pr, "vec_id", cap)
    sizes = {
        r["__bbucket"]: r["cnt"]
        for r in posting.groupBy("__bbucket").agg(
            F.count("*").alias("cnt")
        ).collect()
    }
    assert sum(sizes.values()) == n, "every row must keep exactly one seat"
    # The bound is soft by design: inflow landing in the FINAL pass has
    # no further pass to re-settle, so a bucket can end a few rows over
    # (observed: exactly +1 on this fixture). What must hold is the
    # near-cap bound and a real reduction of the natural tail.
    assert max(sizes.values()) <= cap + 2, (
        f"posting over capacity: max={max(sizes.values())} cap={cap}"
    )
    # Natural assignment on this geometry DOES overflow (that's the
    # point); prove the test exercises real spills.
    natural = {
        r["bucket"]: r["cnt"]
        for r in bucketed.groupBy("bucket").agg(
            F.count("*").alias("cnt")
        ).collect()
    }
    assert max(natural.values()) > cap, "fixture geometry must overflow"
    again = sorted(tuple(r) for r in posting.collect())
    once = sorted(tuple(r) for r in sim.balanced_posting(pr, "vec_id", cap).collect())
    assert again == once, "balanced assignment must be deterministic"


def test_balanced_knn_recall_floor_vs_truth(two_level_knn_setup):
    """Capping posting lists moves overflow rows to next-best buckets —
    the query side can miss them, so recall vs brute-force truth is the
    honest cost metric (the beam-12 discipline). Floor: balanced recall
    within 3 points of the unbalanced arm on clusterable geometry."""
    import numpy as np

    spark, sim, bucketed, cent, n, k = two_level_knn_setup
    rows = bucketed.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    sims = X @ X.T
    np.fill_diagonal(sims, -np.inf)
    truth = set()
    for i in range(len(ids)):
        top = np.argpartition(-sims[i], 4)[:4]
        for j in top:
            truth.add((int(ids[i]), int(ids[j])))

    os.environ["SPARK_GRAFT_BALANCED_ASSIGN"] = "0"
    try:
        e0 = {
            (r["src_id"], r["dst_id"])
            for r in sim.knn_graph(bucketed, cent, k=4, nprobe=2).collect()
        }
    finally:
        os.environ["SPARK_GRAFT_BALANCED_ASSIGN"] = "1"
    e1 = {
        (r["src_id"], r["dst_id"])
        for r in sim.knn_graph(bucketed, cent, k=4, nprobe=2).collect()
    }
    r0 = len(e0 & truth) / len(truth)
    r1 = len(e1 & truth) / len(truth)
    assert r1 >= r0 - 0.03, (
        f"balanced recall {r1:.3f} fell more than 3 points below "
        f"unbalanced {r0:.3f}"
    )


def test_bench_summary_line_fits_driver_tail():
    """The driver records only the final 2000 chars of bench.py output;
    the one-line summary must stay under that at any realistic suite
    size so BENCH_r{N}.json finally ships parsed != null (VERDICT r10
    item 3). The full per-query map goes to BENCH_FULL.json instead."""
    import json

    import bench

    micro = {f"q{300 + i}_some_long_query_name_here": 123.4567 for i in range(30)}
    micro["_commit"] = "abcdef0"
    movers = {f"q{100 + i}_another_long_query_name": "123.45->678.90" for i in range(10)}
    times = {f"q{i:03d}_some_long_query_name_here": 0.01 * i for i in range(350)}
    line = bench.build_summary_line(412.63, 0.1, 350, "abcdef0", movers, micro, times)
    assert len(line) < 2000
    d = json.loads(line)
    assert d["n_queries"] == 350 and d["full"] == "BENCH_FULL.json"
    # VERDICT r11 item 1 (supersedes r10's "never ride the line"): the
    # driver's PERF comparison consumes a queries map parsed from the
    # line, so the slowest-that-fit ride it, omission declared.
    assert d["queries"] and d["queries_omitted"] == 350 - len(d["queries"])


def test_bench_baseline_prefers_committed_full(tmp_path, monkeypatch):
    """Once BENCH_FULL.json is committed, the regression baseline is its
    complete per-query map; without one the comparison is skipped."""
    import bench

    got = bench._committed_full()
    if got is None:
        assert bench.compare_to_previous_round({"q93_pagerank": 1.0}) == {}
    else:
        qs, micro, label = got
        assert len(qs) >= 300 and label.startswith("BENCH_FULL.json@")


@pytest.mark.parametrize("op_name", ["knn_graph", "knn_graph_bq"])
def test_knn_family_excludes_null_embeddings(spark, op_name):
    """A NULL-embedding row must appear neither as src nor dst — the SQL
    twins' unnest drops NULL arrays, so the engine dropping them too
    keeps the edge populations identical (ADVICE r10)."""
    import snowflake_stock_dbt_spark.operators.similarity as sim

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.0, 1.0], 1),
        (4, [0.1, 0.9], 1),
        (99, None, 0),  # NULL embedding lands in a small bucket
    ]
    df = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, bucket INT"
    )
    cents = [(0, [9000000, 1000000]), (1, [1000000, 9000000])]
    op = getattr(sim, op_name)
    out = op(df, cents, k=3, nprobe=2).collect()
    touched = {r["src_id"] for r in out} | {r["dst_id"] for r in out}
    assert 99 not in touched, f"{op_name} leaked a NULL-embedding row"
    assert {1, 2, 3, 4} <= touched, "real rows must keep their edges"
