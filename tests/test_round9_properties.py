"""Round-9 property tests: two-level coarse-quantizer exactness
(flat-scan parity on forced two-level paths), the q341 trusted-store
flag, the q346 multimodal curation verdict, the HLL rho clamp, and the
MMR Arrow seam's null tolerance."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# --- two-level coarse quantizer: EXACT by construction ------------------


@pytest.fixture()
def _force_two_level():
    """Force the two-level probe path at any k >= 16 for the duration of
    a test (the production threshold is TWO_LEVEL_MIN_K=64; these tests
    exercise the pruning machinery at test-corpus sizes)."""
    import snowflake_stock_dbt_spark.operators.similarity as sim

    old = sim.TWO_LEVEL_MIN_K
    sim.TWO_LEVEL_MIN_K = 16
    yield sim
    sim.TWO_LEVEL_MIN_K = old


def _flat_only():
    import snowflake_stock_dbt_spark.operators.similarity as sim

    sim.TWO_LEVEL_MIN_K = 10**9
    return sim


def test_two_level_exact_at_full_beam(spark, sf_dir, _force_two_level):
    """Exactness witness: with beam >= G every group's children are
    re-ranked with exact integer distances, so the two-level machinery
    must reproduce the flat scan BIT-IDENTICALLY (buckets, sq_err,
    winning centroid) — any divergence would be a machinery bug, not
    the documented beam approximation."""
    import snowflake_stock_dbt_spark.operators.similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = max(16, math.ceil(emb.count() / 16))

    sim.TWO_LEVEL_MIN_K = 10**9
    a1, cent = sim.kmeans_assign(
        emb, k=k, iters=2, attach_centroid=True, return_centroids=True
    )
    rows1 = {
        r["vec_id"]: (r["bucket"], r["sq_err"], tuple(r["centroid_q"]))
        for r in a1.select("vec_id", "bucket", "sq_err", "centroid_q").collect()
    }

    sim.TWO_LEVEL_MIN_K = 16
    old_beam = sim.TWO_LEVEL_BEAM
    sim.TWO_LEVEL_BEAM = 10**6
    try:
        a2 = sim._cached_assign(emb, cent, "embedding", attach=True)
        rows2 = {
            r["vec_id"]: (r["bucket"], r["sq_err"], tuple(r["centroid_q"]))
            for r in a2.select(
                "vec_id", "bucket", "sq_err", "centroid_q"
            ).collect()
        }
    finally:
        sim.TWO_LEVEL_BEAM = old_beam
    assert rows1 == rows2, "full-beam two-level must equal the flat scan"


def test_two_level_beam_agreement_floor(spark, sf_dir, _force_two_level):
    """Quality gate on the pinned approximation: at the production beam,
    assignments agree with the flat exact argmin on >= 70% of rows even
    on the worst case (uniform synthetic embeddings; measured 71% at
    beam=2 / 87% at beam=4 on the x16 probe corpus), and every assigned
    bucket must be a bucket of one of the beam's groups — i.e. a valid
    trained centroid id."""
    import snowflake_stock_dbt_spark.operators.similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = max(16, math.ceil(emb.count() / 16))

    sim.TWO_LEVEL_MIN_K = 10**9
    a1, cent = sim.kmeans_assign(emb, k=k, iters=2, return_centroids=True)
    flat = {r["vec_id"]: r["bucket"] for r in a1.select("vec_id", "bucket").collect()}

    sim.TWO_LEVEL_MIN_K = 16
    a2 = sim._cached_assign(emb, cent, "embedding", attach=False)
    two = {r["vec_id"]: r["bucket"] for r in a2.select("vec_id", "bucket").collect()}

    valid = {b for b, _ in cent}
    assert set(two.values()) <= valid
    agree = sum(1 for v in flat if flat[v] == two[v]) / len(flat)
    assert agree >= 0.70, f"beam agreement {agree:.3f} below floor"


@pytest.mark.parametrize("nprobe", [1, 2])
def test_two_level_knn_probes_structure(spark, sf_dir, _force_two_level, nprobe):
    """Probe selection under the beam returns nprobe DISTINCT valid
    buckets per row, ascending by exact distance — and with beam >= G it
    equals the flat top-nprobe exactly."""
    import snowflake_stock_dbt_spark.operators.similarity as sim
    from pyspark.sql import functions as SF

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = max(16, math.ceil(emb.count() / 16))
    a, cent = sim.kmeans_assign(emb, k=k, iters=2, return_centroids=True)

    p = sim._with_probes(emb, cent, "embedding", nprobe=nprobe)
    rows = p.select(
        SF.col("__probes")["bucket"].alias("b"),
        SF.col("__probes")["d"].alias("d"),
    ).collect()
    valid = {b for b, _ in cent}
    for r in rows:
        assert len(r["b"]) == min(nprobe, len(cent))
        assert len(set(r["b"])) == len(r["b"])
        assert set(r["b"]) <= valid
        assert list(r["d"]) == sorted(r["d"])

    sim.TWO_LEVEL_MIN_K = 10**9
    flat = sim._with_probes(emb, cent, "embedding", nprobe=nprobe)
    fl = {
        r["vec_id"]: tuple(r["pb"])
        for r in flat.select("vec_id", SF.col("__probes")["bucket"].alias("pb")).collect()
    }
    sim.TWO_LEVEL_MIN_K = 16
    old_beam = sim.TWO_LEVEL_BEAM
    sim.TWO_LEVEL_BEAM = 10**6
    try:
        full = sim._with_probes(emb, cent, "embedding", nprobe=nprobe)
        fu = {
            r["vec_id"]: tuple(r["pb"])
            for r in full.select("vec_id", SF.col("__probes")["bucket"].alias("pb")).collect()
        }
    finally:
        sim.TWO_LEVEL_BEAM = old_beam
    assert fl == fu, "full-beam probes must equal the flat top-nprobe"


def test_group_centroids_structure():
    """Driver-side grouping invariants: dense gids, every centroid in
    exactly one group, min-children honored, radius covers every child
    (so the triangle-inequality bound is valid)."""
    from snowflake_stock_dbt_spark.operators.similarity import (
        _group_centroids,
    )

    centroids = [
        (b, [((b * 7 + j * 13) % 100) * 10_000 for j in range(8)])
        for b in range(64)
    ]
    groups = _group_centroids(centroids, min_children=4)
    assert [g[0] for g in groups] == list(range(len(groups)))
    seen = sorted(b for _, _, _, ch in groups for b, _ in ch)
    assert seen == list(range(64)), "every centroid in exactly one group"
    for _, scq, rad, children in groups:
        assert len(children) >= 4 or len(groups) <= 2
        for _, cv in children:
            d = math.sqrt(
                sum((a - b) ** 2 for a, b in zip(scq, cv))
            )
            assert d <= rad, "radius must cover every child"


# --- q341: trusted-store flag (round-8 VERDICT item 3) -------------------


def test_q341_trusted_mode_skips_recount_and_matches(spark, sf_dir):
    """verify_store=False must build the SERVE plan — no eager count
    action on the loaded register store — and return exactly the rows
    the loud default returns."""
    from unittest import mock

    from pyspark.sql import DataFrame

    from snowflake_stock_dbt_spark.plans.scale import q341_hll_rollup

    loud = sorted(map(tuple, q341_hll_rollup(spark, sf_dir).collect()))

    counts: list[int] = []
    orig = DataFrame.count

    def counting(self):
        counts.append(1)
        return orig(self)

    with mock.patch.object(DataFrame, "count", counting):
        trusted_df = q341_hll_rollup(spark, sf_dir, verify_store=False)
    assert not counts, "trusted mode must not run the recount action"
    assert sorted(map(tuple, trusted_df.collect())) == loud


# --- HLL rho clamp (round-8 ADVICE) --------------------------------------


def test_hll_rho_clamps_zero_word(spark):
    """w = 0 (all-zero hash suffix) must yield rho = WBITS, not WBITS+1:
    mreg = WBITS+1 would make hll_estimate shift by -1, which Spark
    silently wraps while DuckDB raises — a latent engine divergence."""
    import duckdb

    from snowflake_stock_dbt_spark.operators.sketch import (
        HLL_WBITS,
        hll_rho_sql,
    )

    expr = hll_rho_sql("w")
    s = spark.createDataFrame(
        [(0,), (1,), (1 << (HLL_WBITS - 1),)], "w LONG"
    ).selectExpr("w", f"{expr} AS rho")
    got = {r["w"]: r["rho"] for r in s.collect()}
    assert got[0] == HLL_WBITS
    assert got[1] == HLL_WBITS
    assert got[1 << (HLL_WBITS - 1)] == 1

    con = duckdb.connect()
    for w, want in got.items():
        assert con.execute(f"SELECT {expr.replace('w', str(w))}").fetchone()[0] == want
    con.close()


def test_hll_estimate_survives_zero_word(spark):
    """A register table containing the clamped rho=WBITS cell must fold
    to a positive estimate (the old WBITS+1 corrupted s_used via the
    wrapped shift)."""
    from snowflake_stock_dbt_spark.operators.sketch import (
        HLL_WBITS,
        hll_estimate,
    )

    regs = spark.createDataFrame(
        [("g", 0, HLL_WBITS), ("g", 1, 3)], "grp STRING, bucket INT, mreg INT"
    )
    row = hll_estimate(regs).collect()[0]
    assert row["n_used"] == 2
    assert row["est"] > 0


# --- MMR Arrow seam: null sim/rel tolerance (round-8 ADVICE) -------------


def test_mmr_arrow_drops_null_scores(spark):
    """NULL rel_n / sim_n rows (the zero-norm NULLIF path) must be
    ignored — not crash int(NaN) — matching the relational operator's
    max()-skips-nulls semantics."""
    from snowflake_stock_dbt_spark.operators.similarity import (
        mmr_rerank_arrow,
    )

    cand = spark.createDataFrame(
        [(1, 10, 100), (1, 11, 90), (1, 12, None), (1, 13, 80)],
        "query_id LONG, cand_id LONG, rel_n LONG",
    )
    pairsim = spark.createDataFrame(
        [(1, 10, 11, 50), (1, 10, 13, None), (1, 11, 13, 10),
         (1, 13, 11, 10), (1, 11, 10, 50), (1, 13, 10, None)],
        "query_id LONG, a_id LONG, b_id LONG, sim_n LONG",
    )
    rows = mmr_rerank_arrow(cand, pairsim, k=3).collect()
    ids = [r["cand_id"] for r in rows]
    assert 12 not in ids, "null-relevance candidate must never be selected"
    assert ids[0] == 10, "pure-relevance round 1"
    assert len(ids) == 3


# --- q346: multimodal curation verdict -----------------------------------


def test_q346_verdict_consistency(spark, sf_dir):
    """Keep/drop must be the AND of the three modality verdicts and the
    reasons column must name exactly the dissenting modalities."""
    import __spark_entry__ as E

    df = E.queries()["q346_multimodal_curation"](spark, sf_dir)
    rows = df.collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == docs, "one verdict per document"
    for r in rows:
        if r["keep"]:
            assert r["reasons"] == "keep"
        else:
            assert r["reasons"] != "keep" and r["reasons"] != ""
            if "semantic_dup" in r["reasons"]:
                assert r["sem_kept"] is False


def test_q346_oracle_parity(spark, oracle_sf_dir):
    import __spark_entry__ as E

    from .oracle_utils import compare_query

    compare_query(
        spark,
        oracle_sf_dir,
        E.queries()["q346_multimodal_curation"],
        E.oracle_sql()["q346_multimodal_curation"],
        "q346_multimodal_curation",
    )


# --- q347: persisted pHash band index ------------------------------------


def test_phash_index_family_mismatch_raises(spark, sf_dir, tmp_path, monkeypatch):
    """A probe against an index built with a different hash family must
    raise loudly instead of silently matching nothing."""
    import json

    from snowflake_stock_dbt_spark.operators.multimodal import phash_bands
    from snowflake_stock_dbt_spark.plans.multimodal_plans import _phash_media
    from snowflake_stock_dbt_spark.sinks import phash_index as PI

    media = _phash_media(spark, sf_dir).limit(30)
    path = str(tmp_path / "idx")
    PI.save_phash_index(spark, phash_bands(media), path)
    loaded, meta = PI.load_phash_index(spark, path)
    assert meta["bands"] == 4 and meta["n_rows"] > 0
    meta_bad = dict(meta, bands=8)
    with open(f"{path}/_META.json", "w") as f:
        json.dump(meta_bad, f)
    with pytest.raises(ValueError, match="family"):
        PI.load_phash_index(spark, path)


def test_phash_melt_layout(spark, sf_dir):
    """The melted index layout carries the FULL signature on every band
    row (probe needs no second lookup), 4 rows per media item, band
    values matching the wide frame."""
    from pyspark.sql import functions as SF

    from snowflake_stock_dbt_spark.operators.multimodal import phash_bands
    from snowflake_stock_dbt_spark.plans.multimodal_plans import _phash_media
    from snowflake_stock_dbt_spark.sinks.phash_index import melt_phash_bands

    wide = phash_bands(_phash_media(spark, sf_dir).limit(40))
    wrows = {r["media_id"]: r for r in wide.collect()}
    melted = melt_phash_bands(wide).collect()
    per = {}
    for r in melted:
        per.setdefault(r["media_id"], []).append(r)
        w = wrows[r["media_id"]]
        assert r["bv"] == w[f"b{r['band_id']}"]
        for i in range(4):
            assert r[f"b{i}"] == w[f"b{i}"]
    assert all(len(v) == 4 for v in per.values())


def test_q347_probe_finds_twins_and_recrawls(spark, sf_dir):
    """The planted re-encode twins must match history at Hamming <= 1 and
    verbatim re-crawls at Hamming 0 — the audit is non-vacuous."""
    import __spark_entry__ as E

    rows = E.queries()["q347_phash_index_roundtrip"](spark, sf_dir).collect()
    twins = [r for r in rows if r["media_id"] >= 10_000_000]
    recrawls = [r for r in rows if r["media_id"] < 10_000_000]
    assert twins and recrawls
    for t in twins:
        assert t["is_dup"] and t["matched_min_id"] is not None
    for rc in recrawls:
        # the re-crawled item exists in history verbatim: Hamming-0 self
        assert rc["is_dup"] and rc["matched_min_id"] <= rc["media_id"]


def test_q347_oracle_parity(spark, oracle_sf_dir):
    import __spark_entry__ as E

    from .oracle_utils import compare_query

    compare_query(
        spark,
        oracle_sf_dir,
        E.queries()["q347_phash_index_roundtrip"],
        E.oracle_sql()["q347_phash_index_roundtrip"],
        "q347_phash_index_roundtrip",
    )


# --- q348: incremental semantic dedup from the persisted IVF index -------


def test_q348_probe_is_frozen_and_asymmetric(spark, sf_dir):
    """The probe output covers exactly the batch population, every
    candidate count reflects only same-bucket HISTORY vectors, and a dup
    always names a history id (never another batch vector)."""
    import __spark_entry__ as E

    rows = E.queries()["q348_semantic_index_probe"](spark, sf_dir).collect()
    batch_ids = {r["vec_id"] for r in rows}
    assert batch_ids and all(v % 10 == 7 for v in batch_ids)
    for r in rows:
        if r["is_dup"]:
            assert r["matched_min_id"] is not None
            assert r["matched_min_id"] % 10 != 7, "dup must point at history"
            assert r["n_dups"] <= r["n_candidates"]


def test_q348_oracle_parity(spark, oracle_sf_dir):
    import __spark_entry__ as E

    from .oracle_utils import compare_query

    compare_query(
        spark,
        oracle_sf_dir,
        E.queries()["q348_semantic_index_probe"],
        E.oracle_sql()["q348_semantic_index_probe"],
        "q348_semantic_index_probe",
    )
