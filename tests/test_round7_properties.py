"""Round-7 property tests: sorted-suffix dedup (q317), persisted ANN
index round-trip (q318), frame-level video near-dup (q319), unigram-LM
tokenizer train/encode (q320/q321), the module-size split guard, and
the hardened STDDEV rewrite."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# --- q317 sorted-suffix dedup ----------------------------------------------


def test_lcp_expr_matches_python(spark):
    """The unrolled binary-search LCP must equal Python's commonprefix
    on adversarial cases: equal strings, empty, prefix-of, divergence at
    every binary-search boundary (31/32/33, 47/48, 63/64)."""
    from snowflake_stock_dbt_spark.plans.llm_text import _lcp_expr

    cases = [
        ("", ""),
        ("a", ""),
        ("abc", "abc"),
        ("abc", "abd"),
        ("abc", "abcdef"),
        ("x" * 64, "x" * 64),
        ("x" * 64, "x" * 63 + "y"),
        ("x" * 63, "x" * 64),
        ("x" * 31 + "a" + "z" * 20, "x" * 31 + "b" + "z" * 20),
        ("x" * 32 + "a", "x" * 32 + "b"),
        ("x" * 33 + "a", "x" * 33 + "b"),
        ("x" * 47 + "a", "x" * 47 + "b"),
        ("x" * 48 + "a", "x" * 48 + "b"),
    ]
    df = spark.createDataFrame(cases, "suffix string, p_suffix string")
    got = df.select(
        "suffix", "p_suffix",
        F.expr(_lcp_expr("suffix", "p_suffix")).alias("lcp"),
    ).collect()
    for r in got:
        a, b = r["suffix"], r["p_suffix"]
        want = len(os.path.commonprefix([a, b]))
        assert r["lcp"] == want, (a, b, r["lcp"], want)


def test_suffix_dedup_finds_planted_repeat(spark, oracle_sf_dir):
    """Two docs sharing a >=30-char token-boundary substring must be
    reported as a pair with max_match_chars >= 30; the q115 repeated
    passages guarantee such pairs exist in the corpus."""
    from snowflake_stock_dbt_spark.plans.llm_text import q317_suffix_dedup

    rows = q317_suffix_dedup(spark, oracle_sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["doc_lo"] < r["doc_hi"]
        assert 30 <= r["max_match_chars"] <= 64
        assert r["n_matching_sites"] >= 1


def test_suffix_bucket_prefix_shorter_than_min_match():
    """The bucketed sort is exact ONLY while the partition prefix is
    shorter than the minimum reported match — pin the invariant."""
    from snowflake_stock_dbt_spark.plans import llm_text as lt

    assert lt._SX_BUCKET < lt._SX_MIN
    # 33 one-char tokens + 32 separators >= the 64-char key
    assert lt._SX_TOKS + (lt._SX_TOKS - 1) >= lt._SX_K


# --- q318 persisted ANN index ------------------------------------------------


def test_ann_index_round_trip(spark, oracle_sf_dir, tmp_path):
    """Save → load must reproduce the trained centroids exactly and the
    postings bijectively (integers through parquet are lossless)."""
    from snowflake_stock_dbt_spark.operators.similarity import kmeans_assign
    from snowflake_stock_dbt_spark.plans.vectors import KMEANS_ITERS, KMEANS_K
    from snowflake_stock_dbt_spark.sinks.ann_index import (
        load_ivf_index,
        save_ivf_index,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    bucketed, cent = kmeans_assign(
        emb,
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        cache_key=(oracle_sf_dir, "full"),
        return_centroids=True,
    )
    path = str(tmp_path / "ivf")
    save_ivf_index(spark, cent, bucketed.select("vec_id", "bucket"), path)
    loaded_cent, postings, meta = load_ivf_index(spark, path)
    assert loaded_cent == cent
    assert meta["k"] == KMEANS_K
    want = {
        (r["vec_id"], r["bucket"])
        for r in bucketed.select("vec_id", "bucket").collect()
    }
    got = {(r["vec_id"], r["bucket"]) for r in postings.collect()}
    assert got == want


def test_ann_saved_index_search_parity(spark, oracle_sf_dir):
    """search-from-loaded == search-from-trained, row for row."""
    from snowflake_stock_dbt_spark.plans.vectors import (
        q106_ann_ivf_trained,
        q318_ann_saved_index,
    )

    trained = {
        tuple(r)
        for r in q106_ann_ivf_trained(spark, oracle_sf_dir).collect()
    }
    loaded = {
        tuple(r) for r in q318_ann_saved_index(spark, oracle_sf_dir).collect()
    }
    assert trained == loaded and len(trained) > 0


def test_ann_index_load_missing_raises(spark, tmp_path):
    from snowflake_stock_dbt_spark.sinks.ann_index import load_ivf_index

    with pytest.raises(FileNotFoundError):
        load_ivf_index(spark, str(tmp_path / "absent"))


def test_pq_index_round_trip(spark, oracle_sf_dir, tmp_path):
    """Coarse + all m PQ codebooks must survive the parquet round-trip
    exactly, and a corrupt meta must raise."""
    import json

    from snowflake_stock_dbt_spark.operators.similarity import kmeans_assign
    from snowflake_stock_dbt_spark.plans.vectors import (
        EMBED_DIM,
        KMEANS_K,
        PQ_ITERS,
        PQ_K,
        PQ_M,
    )
    from snowflake_stock_dbt_spark.sinks.ann_index import (
        load_pq_index,
        save_pq_index,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    base = (oracle_sf_dir,)
    width = EMBED_DIM // PQ_M
    _, coarse = kmeans_assign(
        emb, k=KMEANS_K, iters=PQ_ITERS, return_centroids=True,
        cache_key=(*base, "full"),
    )
    subs = []
    for j in range(PQ_M):
        from pyspark.sql import functions as SF

        sub = emb.select(
            "vec_id",
            SF.slice("embedding", j * width + 1, width).alias("__sub"),
        )
        _, cent = kmeans_assign(
            sub, vec_col="__sub", k=PQ_K, iters=PQ_ITERS,
            return_centroids=True, cache_key=(*base, f"sub{j}"),
        )
        subs.append(cent)
    path = str(tmp_path / "pq")
    save_pq_index(spark, coarse, subs, path)
    lcoarse, lsubs, meta = load_pq_index(spark, path)
    assert lcoarse == coarse
    assert lsubs == subs
    assert meta["m"] == PQ_M and meta["pq_k"] == PQ_K
    # corrupt meta -> loud failure
    bad = json.load(open(f"{path}/_META.json"))
    bad["coarse_k"] += 1
    json.dump(bad, open(f"{path}/_META.json", "w"))
    from snowflake_stock_dbt_spark.sinks import artifact

    artifact._SAVED.pop(path, None)
    with pytest.raises(ValueError, match="corrupt"):
        load_pq_index(spark, path)


# --- q319 frame-level video near-dup ----------------------------------------


def test_video_neardup_finds_planted_twins(spark, oracle_sf_dir):
    """Every planted twin that keeps >=2 sampled frames (one perturbed)
    must pair with its base at >=50% Jaccard; the perturbed frame keeps
    the pair strictly below 100% unless frame 0's content repeats."""
    from snowflake_stock_dbt_spark.plans.multimodal_plans import (
        _VF_TWIN_OFFSET,
        q319_video_neardup,
    )

    rows = q319_video_neardup(spark, oracle_sf_dir).collect()
    assert rows, "no near-dup pairs found"
    twin_pairs = {
        (r["video_lo"], r["video_hi"])
        for r in rows
        if r["video_hi"] - r["video_lo"] == _VF_TWIN_OFFSET
    }
    assert twin_pairs, "no base/twin pairs detected"
    for r in rows:
        assert 500_000 <= r["jaccard_ppm"] <= 1_000_000
        assert r["n_shared_frames"] >= 1


# --- q320/q321 unigram-LM tokenizer ------------------------------------------


def test_unigram_token_gate(spark, oracle_sf_dir):
    """The q132-style cross-operator gate: the encoder's corpus token
    total equals the trainer's summed piece usage EXACTLY."""
    from snowflake_stock_dbt_spark.plans.tokenizers import (
        q320_unigram_train,
        q321_unigram_encode,
    )

    usage_total = (
        q320_unigram_train(spark, oracle_sf_dir)
        .agg(F.sum("usage"))
        .first()[0]
    )
    token_total = (
        q321_unigram_encode(spark, oracle_sf_dir)
        .agg(F.sum("n_tokens"))
        .first()[0]
    )
    assert usage_total == token_total > 0


def test_unigram_viterbi_optimality(spark, oracle_sf_dir):
    """Independent optimality check: against an arbitrary score table,
    viterbi_segment's np must equal the brute-force minimum piece count
    and its sc the best score among minimal segmentations."""
    import itertools

    from snowflake_stock_dbt_spark.operators.unigram_lm import (
        UL_PIECE_MAX,
        unigram_words,
        viterbi_segment,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, oracle_sf_dir, "documents")
    words = unigram_words(docs)
    # adversarial vocab: all chars + a few planted multi pieces with
    # scores that make the greedy-longest choice suboptimal
    chars = {
        r["c"]
        for r in words.select(
            F.explode(F.split("word", "")).alias("c")
        ).collect()
        if r["c"]
    }
    vocab = {c: 1 for c in chars}
    some = [r["word"] for r in words.limit(10).collect() if len(r["word"]) >= 4]
    for w in some:
        vocab[w[:2]] = 50
        vocab[w[1:4]] = 500  # overlaps w[:2]; forces a real choice
    segs = {r["word"]: r for r in viterbi_segment(words, vocab).collect()}

    def brute(w):
        best = None
        # enumerate all segmentations via cut masks (words are short)
        for mask in itertools.product(
            *[[0, 1]] * (len(w) - 1)
        ) if len(w) > 1 else [()]:
            cuts = [0] + [i + 1 for i, m in enumerate(mask) if m] + [len(w)]
            ps = [w[a:b] for a, b in zip(cuts, cuts[1:])]
            if any(len(p) > UL_PIECE_MAX or p not in vocab for p in ps):
                continue
            key = (len(ps), -sum(vocab[p] for p in ps))
            if best is None or key < best:
                best = key
        return best

    checked = 0
    for w, r in segs.items():
        if len(w) > 10:
            continue  # keep the 2^(n-1) enumeration cheap
        want = brute(w)
        assert want is not None
        assert (r["np"], -r["sc"]) == want, (w, r["np"], r["sc"], want)
        assert "".join(r["pieces"]) == w
        checked += 1
    assert checked > 0


# --- module-size split guard --------------------------------------------------


def test_no_plans_module_over_3k_lines():
    """Round-6 VERDICT item 8: no plans/ module above 3k lines. Guard so
    growth pressure doesn't silently regress the split."""
    import snowflake_stock_dbt_spark.plans as plans

    root = os.path.dirname(plans.__file__)
    offenders = {}
    for fn in os.listdir(root):
        if fn.endswith(".py"):
            n = sum(1 for _ in open(os.path.join(root, fn)))
            if n > 3000:
                offenders[fn] = n
    assert not offenders, offenders


def test_moved_queries_still_registered():
    from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES

    moved = [
        "q154_ewma_revenue", "q173_weekday_seasonality",
        "q177_frequent_pairs", "q219_markov_transitions",
        "q231_var_cvar", "q237_weighted_median", "q238_decile_lift",
        "q242_time_to_convert", "q245_ks_drift", "q246_mann_whitney",
        "q247_histogram_intersection", "q248_control_chart",
        "q256_km_survival", "q266_quantile_mapping", "q93_pagerank",
        "q117_triangle_counts", "q141_k_core",
        "q167_clustering_coefficient", "q191_hits_scores",
        "q204_lpa_communities", "q207_bfs_hops", "q215_weighted_paths",
        "q251_item_item_cf",
    ]
    for q in moved:
        assert q in ALL_QUERIES and q in ALL_ORACLES, q


# --- hardened STDDEV rewrite ---------------------------------------------------


def test_stddev_rewrite_skips_string_literals():
    from snowflake_stock_dbt_spark.sqldialect import rewrite_stddev_exact

    sql = "SELECT 'doc says STDDEV (x) here' AS note, STDDEV(volume) FROM t"
    out = rewrite_stddev_exact(sql)
    assert "'doc says STDDEV (x) here'" in out
    assert out.count("SQRT") == 1


def test_stddev_rewrite_rejects_non_whitelisted_arg():
    from snowflake_stock_dbt_spark.sqldialect import rewrite_stddev_exact

    with pytest.raises(ValueError, match="STDDEV_INTEGER_ARGS"):
        rewrite_stddev_exact("SELECT STDDEV(price) FROM t")


def test_rate_limit_constants_shared():
    """q301's processor constants must BE q265's (round-6 ADVICE)."""
    from snowflake_stock_dbt_spark.plans import insights
    from snowflake_stock_dbt_spark.streaming import stateful

    assert stateful._RL_QUOTA is insights._RATE_QUOTA
    assert stateful._RL_WINDOW_US is insights._RATE_WINDOW_US
