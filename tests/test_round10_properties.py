"""Round-10 regression pins: the five ADVICE-r9 fixes.

1. Oracle-parity exact-mode guard (SPARK_GRAFT_FORCE_EXACT) raises loudly
   when the two-level beam / block-split approximations would activate.
2. mmr_rerank_arrow mirrors the relational NULL semantics exactly,
   including the all-NULL last-resort edge.
3. _stabilize_assigned persists are registered and releasable.
4. _orc_lineitem_path prunes superseded sibling ORC trees.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# --- exact-mode guard (ADVICE r9 medium) ----------------------------------


def test_force_exact_guard_raises_on_two_level(spark, monkeypatch):
    """With SPARK_GRAFT_FORCE_EXACT=1 a codebook at or above
    TWO_LEVEL_MIN_K must raise at plan time — never silently hand the
    exact SQL oracle the beam approximation's output."""
    from snowflake_stock_dbt_spark.operators.similarity import (
        TWO_LEVEL_MIN_K,
        _with_probes,
    )

    monkeypatch.setenv("SPARK_GRAFT_FORCE_EXACT", "1")
    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3, 0.4])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    cents = [(b, [b, b]) for b in range(TWO_LEVEL_MIN_K)]
    with pytest.raises(RuntimeError, match="TWO_LEVEL_MIN_K"):
        _with_probes(df, cents, "embedding", nprobe=1)


def test_force_exact_guard_inactive_below_threshold(spark, monkeypatch):
    """Below the threshold the guard must not perturb the exact flat
    path — the sf0.01 oracle corpus keeps working under the flag."""
    from snowflake_stock_dbt_spark.operators.similarity import (
        _with_probes,
    )

    monkeypatch.setenv("SPARK_GRAFT_FORCE_EXACT", "1")
    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.9, 0.8])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    cents = [(0, [1000000, 2000000]), (1, [9000000, 8000000])]
    out = _with_probes(df, cents, "embedding", nprobe=1)
    assert out.count() == 2


def test_force_exact_guard_blocks_oversized_split(spark, monkeypatch):
    """split_oversized_blocks under the flag: blocks within cap pass
    through unchanged; a block that WOULD split fails the job loudly."""
    from snowflake_stock_dbt_spark.operators.similarity import (
        split_oversized_blocks,
    )

    monkeypatch.setenv("SPARK_GRAFT_FORCE_EXACT", "1")
    small = spark.createDataFrame(
        [(i, 0) for i in range(4)], "vec_id LONG, bucket INT"
    )
    ok = split_oversized_blocks(small, cap=8)
    assert ok.select("__blk").distinct().count() == 1

    big = spark.createDataFrame(
        [(i, 0) for i in range(20)], "vec_id LONG, bucket INT"
    )
    with pytest.raises(Exception, match="SPARK_GRAFT_FORCE_EXACT"):
        split_oversized_blocks(big, cap=8).collect()


# --- MMR all-NULL edge parity (ADVICE r9 low) ------------------------------


def _mmr_both(spark, cand_rows, sim_rows, k):
    from snowflake_stock_dbt_spark.operators.similarity import (
        mmr_rerank,
        mmr_rerank_arrow,
    )

    cand = spark.createDataFrame(
        cand_rows, "query_id LONG, cand_id LONG, rel_n LONG"
    )
    sims = spark.createDataFrame(
        sim_rows, "query_id LONG, a_id LONG, b_id LONG, sim_n LONG"
    )
    ref = sorted(tuple(r) for r in mmr_rerank(cand, sims, k=k).collect())
    arrow = sorted(
        tuple(r) for r in mmr_rerank_arrow(cand, sims, k=k).collect()
    )
    return ref, arrow


def test_mmr_arrow_all_null_relevance_matches_reference(spark):
    """Every candidate NULL-relevance (zero-norm vectors upstream): the
    relational unroll still emits a ranking — NULLS LAST ordering falls
    through to the cand_id tie-break — and the Arrow seam must emit the
    identical one rather than dropping the group (the r9 dropna bug)."""
    cand_rows = [(0, 30, None), (0, 10, None), (0, 20, None)]
    sim_rows = [
        (0, a, b, None) for a in (10, 20, 30) for b in (10, 20, 30) if a != b
    ]
    ref, arrow = _mmr_both(spark, cand_rows, sim_rows, k=3)
    assert arrow == ref
    by_rank = {r[2]: r[1] for r in ref}
    assert by_rank[1] == 10, "all-NULL round 1 falls to smallest cand_id"
    assert set(by_rank.values()) == {10, 20, 30}


def test_mmr_arrow_null_sim_keeps_candidate_eligible(spark):
    """A candidate whose only pairs to the selected set carry NULL sims
    stays inner-join-eligible (relational max() -> NULL score, last
    resort) — the Arrow path must not drop those pair rows."""
    cand_rows = [(0, 1, 100), (0, 2, 90), (0, 3, None)]
    sim_rows = [
        (0, 2, 1, 50), (0, 1, 2, 50),
        (0, 3, 1, None), (0, 1, 3, None),
        (0, 3, 2, None), (0, 2, 3, None),
    ]
    ref, arrow = _mmr_both(spark, cand_rows, sim_rows, k=3)
    assert arrow == ref
    by_rank = {r[2]: r[1] for r in ref}
    # Rounds: 1 -> id 1 (rel 100); 2 -> id 2 (score 7*90-3*50); 3 -> id 3
    # selected as the NULL-score last resort, NOT dropped.
    assert by_rank == {1: 1, 2: 2, 3: 3}
    rel_of_3 = {r[1]: r[3] for r in ref}[3]
    assert rel_of_3 is None, "NULL relevance must survive to the output"


def test_mmr_arrow_mixed_null_never_beats_scored(spark):
    """NULLS LAST: a NULL-scored candidate must lose every round where a
    non-NULL score exists, identically on both executions."""
    cand_rows = [(0, 5, None), (0, 6, 10), (0, 7, 9)]
    sim_rows = [
        (0, 6, 7, 1), (0, 7, 6, 1),
        (0, 5, 6, 999), (0, 6, 5, 999),
        (0, 5, 7, 999), (0, 7, 5, 999),
    ]
    ref, arrow = _mmr_both(spark, cand_rows, sim_rows, k=2)
    assert arrow == ref
    assert [r[1] for r in sorted(ref, key=lambda r: r[2])] == [6, 7]


# --- persisted-frame registry (ADVICE r9 low) ------------------------------


def test_release_persisted_frames_drains_registry(spark):
    from snowflake_stock_dbt_spark.operators import similarity as S

    df = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.1), F.lit(0.2)).alias("embedding"),
    )
    before = len(S._PERSISTED_FRAMES)
    out = S._stabilize_assigned(df, k=S.TWO_LEVEL_MIN_K)
    assert len(S._PERSISTED_FRAMES) == before + 1
    assert out.storageLevel.useMemory
    released = S.release_persisted_frames()
    assert released >= 1 and not S._PERSISTED_FRAMES
    assert not out.storageLevel.useMemory


def test_stabilize_below_threshold_is_passthrough(spark):
    from snowflake_stock_dbt_spark.operators import similarity as S

    df = spark.range(3)
    out = S._stabilize_assigned(df, k=8)
    assert out is df and not S._PERSISTED_FRAMES


# --- verdict-level beam floor (round-9 VERDICT item 1) ----------------------


def test_two_level_beam_verdict_flip_floor(spark):
    """The user-visible semantic of the two-level beam approximation is
    keep/drop VERDICTS, not bucket ids — the round-9 floor pinned
    assignment agreement (>= 70%) but left verdict flips unmeasured.
    Pin them here on clusterable mixture-of-Gaussians geometry (the
    realistic case) at the PRODUCTION beam. Round-10 measurement
    (tools/beam_agreement.py, shared-codebook isolation) drove
    TWO_LEVEL_BEAM 4 -> 12: at beam 4 this config flipped 5.7% of
    keep/drop verdicts (x8 probe corpora: 2.0-3.6%); at beam 12 it
    flips 0.0% here and 0.06-0.9% at probe scale. Floor: < 3%."""
    import snowflake_stock_dbt_spark.operators.similarity as sim
    from snowflake_stock_dbt_spark.operators.similarity import (
        cosine_neardup_pairs,
    )
    from tools.scale_probe import _gauss_embedding

    n, k = 2000, 125  # ~16 vectors per target cluster -> G ~15 groups,
    # beam 4 of them: a genuinely partial beam (not the exact full-beam
    # degenerate case the exactness witness covers).
    base = spark.range(n).select(F.col("id").alias("vec_id"))
    emb_expr, _lab = _gauss_embedding(F.col("vec_id"))
    corpus = base.withColumn("embedding", emb_expr).localCheckpoint()

    def verdicts(assigned):
        pairs = cosine_neardup_pairs(
            assigned, block_col="bucket", threshold=0.3
        )
        dropped = {r["id_b"] for r in pairs.select("id_b").distinct().collect()}
        return {
            r["vec_id"]: r["vec_id"] not in dropped
            for r in assigned.select("vec_id").collect()
        }

    old_min, old_env = sim.TWO_LEVEL_MIN_K, dict()
    try:
        sim.TWO_LEVEL_MIN_K = 10**9
        flat_assigned, cent = sim.kmeans_assign(
            corpus, k=k, iters=2, return_centroids=True
        )
        flat = verdicts(flat_assigned)

        sim.TWO_LEVEL_MIN_K = 16
        beam_assigned = sim._cached_assign(corpus, cent, "embedding", False)
        beam = verdicts(beam_assigned)
    finally:
        sim.TWO_LEVEL_MIN_K = old_min
        sim.release_persisted_frames()

    ids = set(flat) | set(beam)
    flips = sum(1 for i in ids if flat.get(i) != beam.get(i))
    rate = flips / len(ids)
    assert rate <= 0.03, (
        f"beam verdict flip rate {rate:.3f} ({flips}/{len(ids)}) exceeds "
        "the 3% floor on clusterable geometry at the production beam"
    )


# --- q349: curation composite from persisted artifacts ---------------------


def test_q349_row_for_row_parity_with_q346(spark, sf_dir):
    """The from-artifacts composite is the same relational program as
    q346 over lake-resident inputs — it must reproduce q346 row-for-row
    (which is why the two share one oracle)."""
    import __spark_entry__ as E

    qs = E.queries()
    a = sorted(tuple(r) for r in qs["q346_multimodal_curation"](spark, sf_dir).collect())
    b = sorted(
        tuple(r)
        for r in qs["q349_curation_from_artifacts"](spark, sf_dir).collect()
    )
    assert a == b and len(a) > 0


def test_verdict_store_family_mismatch_raises(spark, tmp_path):
    """A family-mismatched artifact must refuse to load loudly (the
    q347/q329 discipline), and a missing artifact must say how to make
    one."""
    import json

    from snowflake_stock_dbt_spark.sinks.verdict_store import (
        load_modality_verdicts,
    )

    with pytest.raises(FileNotFoundError, match="save_modality_verdicts"):
        load_modality_verdicts(spark, str(tmp_path / "absent"))

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "_META.json").write_text(json.dumps({"modalities": ["text"]}))
    with pytest.raises(ValueError, match="family-mismatched"):
        load_modality_verdicts(spark, str(bad))


# --- q350: kNN graph with binary-quantized candidate stage -----------------


def test_q350_equals_q151_when_margin_covers_buckets(spark, oracle_sf_dir):
    """With prerank >= the largest posting list, the Hamming pre-rank
    keeps EVERY in-bucket candidate, so the exact re-rank must reproduce
    q151's edges exactly — the degenerate-config exactness witness (the
    beam's full-beam witness, applied to the BQ stage)."""
    import snowflake_stock_dbt_spark.operators.similarity as sim
    from snowflake_stock_dbt_spark.plans.vectors import (
        IVF_NPROBE,
        KMEANS_ITERS,
        KNN_GRAPH_K,
        _size_derived_k,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    k = _size_derived_k(spark, oracle_sf_dir, emb)
    b, cent = sim.kmeans_assign(
        emb, k=k, iters=KMEANS_ITERS, return_centroids=True
    )
    b = b.localCheckpoint()
    max_bucket = b.groupBy("bucket").count().agg(F.max("count")).collect()[0][0]
    # knn_graph_bq rounds its cosine to 9 decimals (the q151 PLAN does
    # the same rounding one level up); round the raw operator's output
    # identically for the comparison.
    ref = sorted(
        (r["src_id"], r["dst_id"], round(r["cosine"], 9), r["rank"])
        for r in sim.knn_graph(b, cent, k=KNN_GRAPH_K, nprobe=IVF_NPROBE).collect()
    )
    bq = sorted(
        (r["src_id"], r["dst_id"], round(r["cosine"], 9), r["rank"])
        for r in sim.knn_graph_bq(
            b, cent, k=KNN_GRAPH_K, nprobe=IVF_NPROBE,
            prerank=int(max_bucket) * IVF_NPROBE,
        ).collect()
    )
    assert bq == ref and len(ref) > 0


def test_q350_recall_floor_at_production_margin(spark, oracle_sf_dir):
    """At BQ_PRERANK the edge overlap with q151 must stay >= 0.9 on the
    oracle corpus (measured 0.97-0.99 at probe scale on clusterable /
    salted geometry at prerank 64; the pre-rank is a documented
    approximation, this floor keeps it honest)."""
    import __spark_entry__ as E

    qs = E.queries()
    ref = {
        (r["src_id"], r["dst_id"])
        for r in qs["q151_knn_graph"](spark, oracle_sf_dir).collect()
    }
    bq = {
        (r["src_id"], r["dst_id"])
        for r in qs["q350_knn_graph_bq"](spark, oracle_sf_dir).collect()
    }
    assert len(ref & bq) / len(ref) >= 0.9


# --- ORC cache pruning (ADVICE r9 low) -------------------------------------


def test_orc_cache_prunes_stale_siblings(spark, tmp_path):
    """A regenerated corpus (new digest) must evict the superseded ORC
    tree for the same corpus basename — never strand it in /tmp."""
    import snowflake_stock_dbt_spark.plans.ops_diag as D

    sf = "/root/testdata/sf0.001"
    path = D._orc_lineitem_path(spark, sf)
    assert os.path.exists(f"{path}/_SUCCESS")
    root = os.path.dirname(os.path.dirname(path))
    # Prune prefix = basename + full-path hash (ADVICE r10): derive it
    # from the returned path so the test pins the production naming.
    prefix = os.path.basename(os.path.dirname(path)).rsplit("-", 1)[0]
    base = os.path.basename(os.path.abspath(sf))
    assert prefix.startswith(f"{base}.") and prefix != base, (
        "prune prefix must carry a full-path hash, not the bare basename"
    )
    stale = os.path.join(root, f"{prefix}-deadbeef0000")
    os.makedirs(os.path.join(stale, "lineitem.orc"), exist_ok=True)
    other = os.path.join(root, "sfother-cafe00000000")
    os.makedirs(other, exist_ok=True)
    # A DIFFERENT corpus that shares the basename (e.g. /elsewhere/
    # sf0.001) hashes to a different prefix — regeneration here must
    # never evict it (the ADVICE r10 alternating-corpora bug).
    same_basename = os.path.join(root, f"{base}.0000cafe-feed00000000")
    os.makedirs(same_basename, exist_ok=True)
    try:
        # Force a rebuild pass by removing the current _SUCCESS marker.
        os.remove(f"{path}/_SUCCESS")
        path2 = D._orc_lineitem_path(spark, sf)
        assert path2 == path and os.path.exists(f"{path}/_SUCCESS")
        assert not os.path.exists(stale), "stale sibling must be pruned"
        assert os.path.exists(other), "other corpora are untouched"
        assert os.path.exists(same_basename), (
            "a same-basename corpus at another path must not be evicted"
        )
    finally:
        import shutil

        shutil.rmtree(other, ignore_errors=True)
        shutil.rmtree(stale, ignore_errors=True)
        shutil.rmtree(same_basename, ignore_errors=True)
