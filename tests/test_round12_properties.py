"""Round-12 optimization properties: ADVICE r11 robustness fixes
(schema-memo fingerprint depth + conf key, local_frame strictness,
band_id width, dot_exact_lits non-finite fallback)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_fingerprint_sees_nested_partition_writes(spark, tmp_path):
    """A file rewritten one level down (partition-dir layout) must re-key
    the schema memo — the top-level entry's mtime doesn't change when a
    leaf two levels deep does (ADVICE r11)."""
    from snowflake_stock_dbt_spark.sources.tables import _fingerprint

    root = tmp_path / "t.parquet"
    part = root / "part=a"
    part.mkdir(parents=True)
    leaf = part / "f0.parquet"
    leaf.write_bytes(b"x" * 10)
    k1 = _fingerprint(spark, str(root))
    # Same-size rewrite with a bumped mtime only at the LEAF.
    st = leaf.stat()
    os.utime(leaf, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    k2 = _fingerprint(spark, str(root))
    assert k1 != k2


def test_fingerprint_keys_on_schema_affecting_confs(spark, tmp_path):
    from snowflake_stock_dbt_spark.sources.tables import _fingerprint

    p = tmp_path / "t.parquet"
    p.write_bytes(b"x")
    prior = spark.conf.get("spark.sql.caseSensitive")
    k1 = _fingerprint(spark, str(p))
    try:
        spark.conf.set("spark.sql.caseSensitive", "true")
        k2 = _fingerprint(spark, str(p))
    finally:
        spark.conf.set("spark.sql.caseSensitive", prior)
    assert k1 != k2


def test_arrow_frame_rejects_short_and_dict_rows(spark):
    """Malformed rows must raise inside the Arrow path (so local_frame
    falls back to createDataFrame's strict semantics) instead of being
    silently null-padded or mis-zipped (ADVICE r11)."""
    from snowflake_stock_dbt_spark.functions.localframe import _arrow_frame

    with pytest.raises(ValueError):
        _arrow_frame(spark, [(1,)], "a long, b string")
    with pytest.raises(TypeError):
        _arrow_frame(spark, [{"a": 1, "b": "x"}], "a long, b string")
    # local_frame itself falls back and still errors loudly via Spark.
    from snowflake_stock_dbt_spark.functions.localframe import local_frame

    with pytest.raises(Exception):
        local_frame(spark, [(1,)], "a long, b string").collect()


def test_band_id_stays_bigint(spark):
    """banded_signatures' parsed-SQL struct must keep band_id BIGINT —
    the width every pre-r11 artifact was written with (ADVICE r11)."""
    from snowflake_stock_dbt_spark.operators.textdedup import (
        banded_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "b c d e f g")], "doc_id long, body string"
    )
    out = banded_signatures(docs, "doc_id", "body")
    assert dict(out.dtypes)["band_id"] == "bigint"


def test_passed_signatures_must_match_n_hashes(spark):
    """A signatures= frame without exactly h0..h{n_hashes-1} is rejected
    at plan build instead of banding the wrong components (ADVICE r12)."""
    from snowflake_stock_dbt_spark.operators.textdedup import (
        banded_signatures,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "b c d e f g")], "doc_id long, body string"
    )
    sig = minhash_signatures(docs, "doc_id", "body", n_hashes=8)
    banded_signatures(docs, "doc_id", "body", n_hashes=8, bands=4, signatures=sig)
    with pytest.raises(ValueError, match="missing.*h8"):
        banded_signatures(docs, "doc_id", "body", n_hashes=16, bands=4, signatures=sig)
    with pytest.raises(ValueError, match="unexpected.*h7"):
        minhash_lsh_pairs(docs, "doc_id", "body", n_hashes=4, bands=2, signatures=sig)
    with pytest.raises(ValueError, match="missing.*h3"):
        minhash_lsh_pairs(
            docs, "doc_id", "body", n_hashes=8, bands=4, signatures=sig.drop("h3")
        )


def test_dot_exact_lits_nonfinite_falls_back(spark):
    from snowflake_stock_dbt_spark.functions.vectors import (
        dot_exact,
        dot_exact_lits,
    )

    df = spark.createDataFrame([([1.0, 2.0],)], "v array<double>")
    # Finite literals: parsed-SQL path, value identical to dot_exact.
    got = df.select(dot_exact_lits("v", [0.5, 0.25]).alias("d")).first()["d"]
    want = df.select(
        dot_exact(F.col("v"), F.array(F.lit(0.5), F.lit(0.25))).alias("d")
    ).first()["d"]
    assert got == want
    # Non-finite literals must not fail at plan build ('infD' has no SQL
    # literal form); the fallback keeps dot_exact's own semantics (the
    # exact-decimal cast nulls non-finite, non-ANSI).
    row = df.select(
        dot_exact_lits("v", [float("inf"), 1.0]).alias("d")
    ).first()
    want_inf = df.select(
        dot_exact(
            F.col("v"), F.array(F.lit(float("inf")), F.lit(1.0))
        ).alias("d")
    ).first()["d"]
    assert row["d"] == want_inf


def test_kcore_converged_input_costs_no_peel_and_returns_fixpoint(spark):
    """The fused observe-based convergence probe (optimization r12) must
    detect an already-k-core graph in the first round and return it
    untouched — same early-exit semantics as the pre-fusion count probe."""
    from snowflake_stock_dbt_spark.operators.graph import k_core

    # K4: every node has degree 3 — already a 3-core.
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "src long, dst long",
    )
    stats: dict = {}
    out = {
        (r["node_id"], r["core_degree"])
        for r in k_core(edges, k=3, _stats=stats).collect()
    }
    assert out == {(i, 3) for i in range(4)}
    assert stats["rounds"] == 0


def test_connected_components_converges_before_max_iter(spark):
    """Label-prop CC with the observe-fused changed-count must still
    stop at the fixpoint (diameter rounds), not run to max_iter."""
    from snowflake_stock_dbt_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(10, 11)], "src long, dst long"
    )
    out = {
        (r["id"], r["component"])
        for r in connected_components(edges, max_iter=25).collect()
    }
    assert out == {(i, 0) for i in range(6)} | {(10, 10), (11, 10)}


def test_pagerank_lazy_rounds_match_reference_across_checkpoint_guard(spark):
    """Rounds are lazy since opt r12 (linear recurrence, checkpoint only
    every 4th round): iters=6 crosses the lineage-guard boundary, so this
    pins both the guard path and the multi-round single-plan evaluation
    against a brute-force Python PageRank on a known graph."""
    from snowflake_stock_dbt_spark.operators.graph import pagerank

    pairs = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(edges, iters=6, edges_distinct=True).collect()
    }

    # Reference: same quantized update rule, pure Python.
    import math
    from collections import defaultdict

    n, damping = 4, 0.85
    deg = defaultdict(int)
    for u, _ in pairs:
        deg[u] += 1
    ranks = {i: 1.0 / n for i in range(n)}
    for _ in range(6):
        acc = defaultdict(int)
        for u, v in pairs:
            acc[v] += math.floor(ranks[u] / deg[u] * 1e12)
        ranks = {
            i: (1 - damping) / n + damping * (acc[i] / 1e12)
            for i in range(n)
        }
    assert set(got) == set(ranks)
    for i in ranks:
        assert got[i] == ranks[i], (i, got[i], ranks[i])


def test_label_propagation_lazy_rounds_match_eager_semantics(spark):
    """LPA with iters crossing the every-4 lineage guard keeps the
    synchronous min-tie-break semantics: on a 4-cycle plus a pendant,
    six rounds must produce the same labels as the documented update
    rule simulated in Python."""
    from snowflake_stock_dbt_spark.operators.graph import label_propagation

    und = [(0, 1), (1, 2), (2, 3), (3, 0), (3, 4)]
    pairs = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["id"]: r["community"]
        for r in label_propagation(edges, iters=6).collect()
    }

    from collections import Counter, defaultdict

    inn = defaultdict(list)
    for u, v in pairs:
        inn[v].append(u)
    labels = {i: i for i in range(5)}
    for _ in range(6):
        new = {}
        for v in labels:
            if inn[v]:
                c = Counter(labels[u] for u in inn[v])
                best = min((-cnt, lab) for lab, cnt in c.items())[1]
                new[v] = best
            else:
                new[v] = v
        labels = new
    assert got == labels
