"""Independent re-proofs for the round-6 additions (q251-q260).

Each test recomputes the claimed semantics with a DIFFERENT mechanism
(Python folds, math.sqrt replays, brute-force scans) than either the
Spark plan or its DuckDB oracle, so a bug shared by both engines' SQL
formulations still gets caught.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F


def test_item_item_cf_matches_bruteforce(spark, sf_dir):
    """q251's cosine neighbor lists must equal a raw-row Python replay
    (dict-of-sets co-occurrence, math.sqrt cosine, same tiebreaks)."""
    from snowflake_stock_dbt_spark.plans.warehouse import (
        _CF_MIN_ITEM,
        _CF_MIN_PAIR,
        _CF_TOP_K,
        q251_item_item_cf,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets = defaultdict(set)
    for r in rows:
        baskets[r.l_orderkey].add(r.l_partkey)
    supp = defaultdict(int)
    for parts in baskets.values():
        for p in parts:
            supp[p] += 1
    freq = {p for p, n in supp.items() if n >= _CF_MIN_ITEM}
    pair = defaultdict(int)
    for parts in baskets.values():
        fp = sorted(p for p in parts if p in freq)
        for i, a in enumerate(fp):
            for b in fp[i + 1 :]:
                pair[(a, b)] += 1
    neighbors = defaultdict(list)
    for (a, b), n_ab in pair.items():
        if n_ab < _CF_MIN_PAIR:
            continue
        cos = n_ab / (math.sqrt(supp[a]) * math.sqrt(supp[b]))
        neighbors[a].append((-cos, b, n_ab))
        neighbors[b].append((-cos, a, n_ab))
    expect = set()
    for part, cands in neighbors.items():
        for rank, (negcos, nb, n_ab) in enumerate(sorted(cands), 1):
            if rank <= _CF_TOP_K:
                expect.add((part, nb, n_ab, round(-negcos, 9), rank))
    got = {
        (r.part, r.neighbor, r.co_orders, r.cosine, r.rank)
        for r in q251_item_item_cf(spark, sf_dir).collect()
    }
    assert got == expect


def test_interval_islands_cover_and_disjoint(spark, sf_dir):
    """q252's islands must (a) reproduce a sequential Python sweep
    exactly and (b) be non-overlapping and ordered per user."""
    from snowflake_stock_dbt_spark.plans.insights import (
        _ISLAND_MIN_S,
        _ISLAND_MOD_S,
        q252_interval_islands,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("us"),
            "value",
        )
        .collect()
    )
    spans = defaultdict(list)
    for r in ev:
        v = 0.0 if r.value is None or math.isnan(r.value) else r.value
        dur = (
            _ISLAND_MIN_S + int(math.floor(abs(v) * 60)) % _ISLAND_MOD_S
        ) * 1_000_000
        spans[r.user_id].append((r.us, r.event_id, r.us + dur))
    expect = set()
    for uid, lst in spans.items():
        lst.sort()
        idx, max_end, start, n = 0, None, None, 0
        for us, _eid, end in lst:
            if max_end is None or us > max_end:
                if idx:
                    expect.add((uid, idx, start, max_end, n))
                idx += 1
                start, max_end, n = us, end, 1
            else:
                max_end = max(max_end, end)
                n += 1
        if idx:
            expect.add((uid, idx, start, max_end, n))
    got_rows = q252_interval_islands(spark, sf_dir).collect()
    got = {
        (r.user_id, r.island, r.island_start_us, r.island_end_us, r.n_events)
        for r in got_rows
    }
    assert got == expect
    by_user = defaultdict(list)
    for r in got_rows:
        by_user[r.user_id].append((r.island_start_us, r.island_end_us))
    for uid, islands in by_user.items():
        islands.sort()
        for (s1, e1), (s2, _e2) in zip(islands, islands[1:]):
            assert e1 < s2, f"user {uid}: islands overlap or touch"


def test_ratio_to_parent_shares_multiply_and_sum(spark, sf_dir):
    """q253: child shares sum to 1 within every parent, and the product
    share_sup x share_nat x share_reg equals the supplier's global
    share (checked against independently-recomputed decimals)."""
    from snowflake_stock_dbt_spark.plans.warehouse import (
        q253_ratio_to_parent,
    )

    rows = q253_ratio_to_parent(spark, sf_dir).collect()
    by_nation = defaultdict(float)
    for r in rows:
        by_nation[(r.r_name, r.n_name)] += r.share_of_nation
    for key, s in by_nation.items():
        assert abs(s - 1.0) < 1e-6, f"{key}: supplier shares sum {s}"
    total = sum(r.revenue for r in rows)
    for r in rows:
        global_share = (
            r.share_of_nation
            * r.nation_share_of_region
            * r.region_share_of_total
        )
        assert abs(global_share - r.revenue / total) < 1e-6


def test_temperature_mixture_conserves_and_flattens(spark, sf_dir):
    """q254: quotas sum exactly to the budget, and temperature sampling
    FLATTENS the mix (tempered shares closer to uniform than raw, in
    max-share terms) whenever the raw mix is non-uniform."""
    from snowflake_stock_dbt_spark.plans.curation import (
        TEMP_MIX_BUDGET,
        q254_temperature_mixture,
    )

    rows = q254_temperature_mixture(spark, sf_dir).collect()
    assert sum(r.quota for r in rows) == TEMP_MIX_BUDGET
    max_raw = max(r.raw_share for r in rows)
    max_temp = max(r.tempered_share for r in rows)
    uniform = 1.0 / len(rows)
    assert max_temp <= max_raw + 1e-9
    assert max_temp >= uniform - 1e-3  # can't flatten past uniform


def test_phrase_search_matches_bruteforce(spark, sf_dir):
    """q255 must equal a raw-text Python scan for every query phrase."""
    from snowflake_stock_dbt_spark.plans.retrieval import (
        PHRASE_QUERIES,
        q255_phrase_search,
    )

    import duckdb

    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    expect = set()
    for pid, t1, t2 in PHRASE_QUERIES:
        for doc_id, text in docs:
            toks = [t for t in text.strip().split() if t]
            n = sum(
                1
                for i in range(len(toks) - 1)
                if toks[i] == t1 and toks[i + 1] == t2
            )
            if n:
                expect.add((pid, doc_id, n))
    got = {
        (r.phrase_id, r.doc_id, r.n_matches)
        for r in q255_phrase_search(spark, sf_dir).collect()
    }
    assert got == expect


def test_km_survival_matches_python_replay(spark, sf_dir):
    """q256 must equal a sequential Python Kaplan-Meier over the same
    subjects, and S(t) must be nonincreasing from 1."""
    from snowflake_stock_dbt_spark.plans.insights import q256_km_survival
    from snowflake_stock_dbt_spark.sources.tables import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", "event_type", F.unix_micros("ts").alias("us"),
            "event_id",
        )
        .collect()
    )
    horizon = max(r.us for r in ev)
    by_user = defaultdict(list)
    for r in ev:
        if r.event_type in ("purchase", "error"):
            by_user[r.user_id].append((r.us, r.event_id, r.event_type))
    subjects = []  # (duration_hours, censored)
    for lst in by_user.values():
        lst.sort()
        for i, (us, _eid, et) in enumerate(lst):
            if et != "purchase":
                continue
            nxt = next(
                (u for u, _e, t in lst[i + 1 :] if t == "error"), None
            )
            if nxt is None:
                subjects.append(((horizon - us) // 3_600_000_000, True))
            else:
                subjects.append(((nxt - us) // 3_600_000_000, False))
    per_t = defaultdict(lambda: [0, 0])  # t -> [d, c]
    for t, censored in subjects:
        per_t[t][1 if censored else 0] += 1
    s, expect = 1.0, []
    at_risk = len(subjects)
    for t in sorted(per_t):
        d, c = per_t[t]
        if d > 0:
            s = s * (1.0 - d / at_risk)
            expect.append((t, at_risk, d, round(s, 9)))
        at_risk -= d + c
    got = [
        (r.t_days, r.n_at_risk, r.deaths, r.s_hat)
        for r in q256_km_survival(spark, sf_dir)
        .orderBy("t_days")
        .collect()
    ]
    assert got == expect
    s_vals = [s for _, _, _, s in got]
    assert all(a >= b for a, b in zip(s_vals, s_vals[1:]))
    assert s_vals[0] <= 1.0


def test_ushape_credit_conserves_per_user(spark, sf_dir):
    """q257: the credit rule hands out exactly 100 units per converting
    user with >= 1 touch — checked by replaying journeys in Python and
    comparing the per-channel totals."""
    from snowflake_stock_dbt_spark.plans.events import (
        q257_ushape_attribution,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", "event_type", F.unix_micros("ts").alias("us"),
            "event_id",
        )
        .collect()
    )
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.us, r.event_id, r.event_type))
    totals = defaultdict(int)
    n_converting = 0
    for lst in by_user.values():
        lst.sort()
        purchases = [x for x in lst if x[2] == "purchase"]
        if not purchases:
            continue
        conv = purchases[-1]
        touches = [
            x for x in lst if x[2] != "purchase" and (x[0], x[1]) < conv[:2]
        ]
        k = len(touches)
        if k == 0:
            continue
        n_converting += 1
        user_sum = 0
        for pos, (_us, _eid, et) in enumerate(touches, 1):
            if k == 1:
                cr = 100
            elif k == 2:
                cr = 50
            elif pos in (1, k):
                cr = 40
            else:
                cr = 20 // (k - 2) + (1 if pos - 1 <= 20 % (k - 2) else 0)
            totals[et] += cr
            user_sum += cr
        assert user_sum == 100
    got = {
        r.event_type: r.total_credit
        for r in q257_ushape_attribution(spark, sf_dir).collect()
    }
    assert got == dict(totals)
    assert sum(got.values()) == 100 * n_converting


def test_pca_power_iteration_matches_numpy_integer_replay(spark, sf_dir):
    """q258 must equal an integer-arithmetic Python replay of the same
    two power-iteration rounds, and the final loading vector must be
    max-normalized (exactly one component at +-1e6)."""
    import numpy as np

    from snowflake_stock_dbt_spark.operators.similarity import KMEANS_SCALE
    from snowflake_stock_dbt_spark.plans.vectors import (
        PCA_ITERS,
        PCA_WSCALE,
        q258_pca_power_iteration,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    X = np.array(
        [
            [math.floor(float(v) * KMEANS_SCALE) for v in r.embedding]
            for r in emb
        ],
        dtype=object,
    )
    n, dim = X.shape
    # Spark `div` / DuckDB `//`-on-ints truncate toward zero — Python's
    # floor-div differs on negatives, so replicate trunc explicitly.
    mean = [int(sum(int(x) for x in X[:, j])) for j in range(dim)]
    mean = [m // n if m >= 0 else -((-m) // n) for m in mean]
    C = [[int(X[i][j]) - mean[j] for j in range(dim)] for i in range(n)]
    w = [PCA_WSCALE] * dim
    for _ in range(PCA_ITERS):
        s = [sum(C[i][j] * w[j] for j in range(dim)) for i in range(n)]
        r = [sum(s[i] * C[i][j] for i in range(n)) for j in range(dim)]
        m = max(abs(x) for x in r)
        # float() first: the engines CAST the big decimals to double and
        # divide those (two roundings); Python's exact int/int division
        # rounds once and can land one ulp away near a floor boundary.
        w = [math.floor(float(x) / float(m) * PCA_WSCALE) for x in r]
    got = {
        row.pos: row.loading9
        for row in q258_pca_power_iteration(spark, sf_dir).collect()
    }
    assert got == {j: w[j] for j in range(dim)}
    assert max(abs(v) for v in got.values()) == PCA_WSCALE


def test_mutual_nn_symmetric_and_unique(spark, sf_dir):
    """q259: mutual pairs must be consistent with the rank-1 kNN edges
    (each side is the other's top-1), and no vector appears in more
    than one mutual pair."""
    from snowflake_stock_dbt_spark.operators.similarity import (
        kmeans_assign,
        knn_graph,
    )
    from snowflake_stock_dbt_spark.plans.vectors import (
        IVF_NPROBE,
        KMEANS_ITERS,
        SEMDEDUP_TARGET_CLUSTER,
        q259_mutual_nn,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # The same size-derived cluster count q259 itself uses (q118's
    # k = ceil(n/target) contract).
    k = max(1, math.ceil(emb.count() / SEMDEDUP_TARGET_CLUSTER))
    bucketed, cent = kmeans_assign(
        emb, k=k, iters=KMEANS_ITERS,
        cache_key=(sf_dir, "full"), return_centroids=True,
    )
    top1 = {
        r.src_id: r.dst_id
        for r in knn_graph(
            bucketed, cent, bucket_col="bucket", k=1, nprobe=IVF_NPROBE
        ).collect()
    }
    expect = {
        (a, b)
        for a, b in ((a, top1[a]) for a in top1)
        if a < b and top1.get(b) == a
    }
    rows = q259_mutual_nn(spark, sf_dir).collect()
    got = {(r.id_a, r.id_b) for r in rows}
    assert got == expect
    seen: set[int] = set()
    for a, b in got:
        assert a not in seen and b not in seen
        seen.update((a, b))


def test_cluster_quality_inertia_matches_assignment(spark, sf_dir):
    """q260's per-bucket inertia must equal the sum of each member's
    exact integer squared distance to its assigned centroid, recomputed
    in Python from the trained codebook."""
    from snowflake_stock_dbt_spark.operators.similarity import (
        KMEANS_SCALE,
        kmeans_assign,
    )
    from snowflake_stock_dbt_spark.plans.vectors import (
        KMEANS_ITERS,
        KMEANS_K,
        q260_cluster_quality,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cent = kmeans_assign(
        emb, k=KMEANS_K, iters=KMEANS_ITERS,
        cache_key=(sf_dir, "full"), return_centroids=True,
    )
    cent_map = {b: cv for b, cv in cent}
    rows = assigned.select("vec_id", "bucket", "embedding").collect()
    inertia = defaultdict(int)
    counts = defaultdict(int)
    for r in rows:
        q = [math.floor(float(v) * KMEANS_SCALE) for v in r.embedding]
        c = cent_map[r.bucket]
        inertia[r.bucket] += sum((a - b) ** 2 for a, b in zip(q, c))
        counts[r.bucket] += 1
    got = {r.bucket: r for r in q260_cluster_quality(spark, sf_dir).collect()}
    assert set(got) == set(counts)
    for b, row in got.items():
        assert row.n == counts[b]
        assert row.inertia == float(inertia[b])
        assert row.nearest_d2 > 0
        assert row.db_ratio == pytest.approx(
            (inertia[b] / counts[b]) / row.nearest_d2, rel=1e-6
        )


def test_kendall_tau_matches_python_pairs(spark, sf_dir):
    """q261 must equal an O(n^2) Python pair scan with the same tie
    rules, and tau_b must sit in [-1, 1]."""
    import duckdb

    from snowflake_stock_dbt_spark.plans.scale import q261_kendall_tau

    con = duckdb.connect()
    daily = con.sql(
        f"""SELECT l_returnflag, CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS x,
               SUM(CAST(l_quantity AS BIGINT)) AS y
           FROM '{sf_dir}/lineitem.parquet' GROUP BY 1, 2"""
    ).fetchall()
    series = defaultdict(list)
    for flag, day, x, y in daily:
        series[flag].append((day, int(x), int(y)))
    expect = {}
    for flag, pts in series.items():
        pts.sort()
        c = d = tx = ty = n0 = 0
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                dx = pts[j][1] - pts[i][1]
                dy = pts[j][2] - pts[i][2]
                n0 += 1
                if dx == 0:
                    tx += 1
                if dy == 0:
                    ty += 1
                if (dx > 0 and dy > 0) or (dx < 0 and dy < 0):
                    c += 1
                elif (dx > 0 and dy < 0) or (dx < 0 and dy > 0):
                    d += 1
        tau = (c - d) / (math.sqrt(n0 - tx) * math.sqrt(n0 - ty))
        expect[flag] = (n0, c, d, round(tau, 9))
    got = {
        r.l_returnflag: (r.n_pairs, r.concordant, r.discordant, r.tau_b)
        for r in q261_kendall_tau(spark, sf_dir).collect()
    }
    assert got == expect
    assert all(-1.0 <= t[3] <= 1.0 for t in got.values())


def test_span_dedup_first_occurrence_and_reassembly(spark, sf_dir):
    """q262: every surviving chunk is the global first occurrence of its
    token sequence; cleaned text is the ordered join of survivors; the
    union of all survivors covers every distinct chunk exactly once."""
    from snowflake_stock_dbt_spark.plans.llm_text import (
        _SPAN_CHUNK_TOKENS,
        q262_span_dedup_rewrite,
    )

    import duckdb

    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    first = {}
    chunks_of = {}
    for doc_id, text in sorted(docs):
        toks = [t for t in text.strip().split() if t]
        cs = [
            " ".join(toks[i : i + _SPAN_CHUNK_TOKENS])
            for i in range(0, len(toks), _SPAN_CHUNK_TOKENS)
        ]
        chunks_of[doc_id] = cs
        for idx, ch in enumerate(cs):
            if ch not in first or (doc_id, idx) < first[ch]:
                first[ch] = (doc_id, idx)
    rows = q262_span_dedup_rewrite(spark, sf_dir).collect()
    survivors = 0
    for r in rows:
        cs = chunks_of[r.doc_id]
        kept = [
            ch
            for idx, ch in enumerate(cs)
            if first[ch] == (r.doc_id, idx)
        ]
        assert r.n_chunks == len(cs)
        assert r.n_kept == len(kept)
        assert r.n_dropped == len(cs) - len(kept)
        assert r.cleaned_text == " ".join(kept)
        survivors += len(kept)
    assert survivors == len(first)  # each distinct chunk survives once


def test_forget_blast_radius_matches_python_cascade(spark, sf_dir):
    """q263's per-table counts must equal a Python set cascade."""
    import duckdb

    from snowflake_stock_dbt_spark.plans.relational import (
        _FORGET_MOD,
        q263_forget_blast_radius,
    )

    con = duckdb.connect()
    custkeys = {
        k
        for (k,) in con.sql(
            f"SELECT c_custkey FROM '{sf_dir}/customer.parquet'"
        ).fetchall()
    }
    subjects = {k for k in custkeys if k % _FORGET_MOD == 0}
    orders = con.sql(
        f"SELECT o_orderkey, o_custkey FROM '{sf_dir}/orders.parquet'"
    ).fetchall()
    aff_orders = {ok for ok, ck in orders if ck in subjects}
    li = con.sql(
        f"SELECT l_orderkey FROM '{sf_dir}/lineitem.parquet'"
    ).fetchall()
    aff_li = sum(1 for (ok,) in li if ok in aff_orders)
    ev = con.sql(
        f"SELECT user_id FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    aff_ev = sum(1 for (u,) in ev if u in subjects)
    got = {
        r.table_name: (r.affected_rows, r.total_rows, r.share_ppm)
        for r in q263_forget_blast_radius(spark, sf_dir).collect()
    }
    assert got["customer"][0] == len(subjects)
    assert got["orders"][0] == len(aff_orders)
    assert got["lineitem"][0] == aff_li
    assert got["events"][0] == aff_ev
    for name, (a, t, ppm) in got.items():
        assert ppm == a * 1_000_000 // t


def test_join_size_profiler_predicts_actual_join(spark, sf_dir):
    """q264's total_out must equal the ACTUAL row count of the join it
    profiles (the whole point), and per-key contributions must match."""
    from snowflake_stock_dbt_spark.plans.ops_diag import (
        q264_join_size_profiler,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    actual = o.join(ev, o.o_custkey == ev.user_id).count()
    rows = q264_join_size_profiler(spark, sf_dir).collect()
    assert rows and rows[0].total_out == actual
    for r in rows:
        assert r.out_rows == r.n_orders * r.n_events
        assert r.share_ppm == r.out_rows * 1_000_000 // r.total_out


def test_rate_limiter_matches_python_sliding_window(spark, sf_dir):
    """q265 must equal a two-pointer Python sliding-window count."""
    from snowflake_stock_dbt_spark.plans.insights import (
        _RATE_QUOTA,
        _RATE_WINDOW_US,
        q265_rate_limiter_audit,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.unix_micros("ts").alias("us"))
        .collect()
    )
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r.us)
    expect = {}
    for uid, times in by_user.items():
        times.sort()
        throttled = 0
        peak = 0
        lo = 0
        for i, t in enumerate(times):
            while times[lo] < t - (_RATE_WINDOW_US - 1):
                lo += 1
            # RANGE frame counts ALL rows with us in window, including
            # ties after i — count by value, not index.
            hi = i
            while hi + 1 < len(times) and times[hi + 1] == t:
                hi += 1
            rolling = hi - lo + 1
            peak = max(peak, rolling)
            if rolling > _RATE_QUOTA:
                throttled += 1
        expect[uid] = (len(times), throttled, peak)
    got = {
        r.user_id: (r.n_events, r.n_throttled, r.peak_rate)
        for r in q265_rate_limiter_audit(spark, sf_dir).collect()
    }
    assert got == expect


def test_quantile_mapping_is_monotone_and_quantile_correct(spark, sf_dir):
    """q266: the mapping must be monotone in the supplier value, and
    each mapped value must be the exact empirical customer quantile for
    the supplier value's percentile bucket."""
    import duckdb

    from snowflake_stock_dbt_spark.plans.insights import (
        _QMAP_Q,
        q266_quantile_mapping,
    )

    con = duckdb.connect()
    cust = sorted(
        v
        for (v,) in con.sql(
            f"SELECT c_acctbal FROM '{sf_dir}/customer.parquet'"
        ).fetchall()
    )
    n_c = len(cust)

    def empirical_quantile(b: int) -> float:
        # smallest customer value with cum*Q >= b*n_c
        for i, v in enumerate(cust):
            if (i + 1) * _QMAP_Q >= b * n_c:
                return v
        return cust[-1]

    rows = q266_quantile_mapping(spark, sf_dir).collect()
    prev_v, prev_m = None, None
    for r in sorted(rows, key=lambda r: r.supplier_balance):
        assert r.mapped_customer_balance == empirical_quantile(r.bucket)
        if prev_v is not None:
            assert r.mapped_customer_balance >= prev_m
        prev_v, prev_m = r.supplier_balance, r.mapped_customer_balance


def test_growth_accounting_identity_and_python_replay(spark, sf_dir):
    """q267: active = new + retained + resurrected per week, and every
    status count must equal a Python set-per-week replay (ISO-Monday
    truncation recomputed with datetime.weekday, not date_trunc)."""
    from datetime import timedelta

    from snowflake_stock_dbt_spark.plans.events import q267_growth_accounting
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("timestamp").alias("t"))
        .collect()
    )
    weeks = defaultdict(set)
    user_weeks = defaultdict(set)
    for r in rows:
        d = r.t.date()
        wk = d - timedelta(days=d.weekday())
        weeks[wk].add(r.user_id)
        user_weeks[r.user_id].add(wk)
    expect = {}
    for wk, users in weeks.items():
        prev = wk - timedelta(days=7)
        new = retained = resurrected = 0
        for u in users:
            first = min(user_weeks[u])
            if wk == first:
                new += 1
            elif prev in user_weeks[u]:
                retained += 1
            else:
                resurrected += 1
        churned = sum(
            1
            for u, uws in user_weeks.items()
            if prev in uws and wk not in uws
        )
        expect[wk] = (len(users), new, retained, resurrected, churned)
    got = {
        r.week: (r.n_active, r.n_new, r.n_retained, r.n_resurrected, r.n_churned)
        for r in q267_growth_accounting(spark, sf_dir).collect()
    }
    assert got == expect
    for n_active, n_new, n_ret, n_res, _ in got.values():
        assert n_active == n_new + n_ret + n_res


def test_chi2_terms_match_exact_integer_replay(spark, sf_dir):
    """q268: χ²·1000 must equal a Python big-int contingency replay
    (arbitrary-precision — no overflow or rounding by construction),
    with the same top-5 ranking and tiebreak."""
    import re

    from snowflake_stock_dbt_spark.plans.llm_text import (
        _CHI2_MIN_DF,
        _CHI2_TOP,
        q268_chi2_terms,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    )
    pres = set()
    for r in docs:
        for tok in set(re.split(r"\s+", r.text.strip())):
            if tok:
                pres.add((r.doc_id, r.lang, tok))
    n_docs = len({(d, l) for d, l, _ in pres})
    tl = defaultdict(int)
    tt = defaultdict(int)
    lt = defaultdict(set)
    for d, l, t in pres:
        tl[(t, l)] += 1
        tt[t] += 1
        lt[l].add(d)
    scored = defaultdict(list)
    for (t, l), a in tl.items():
        n_t = tt[t]
        if n_t < _CHI2_MIN_DF or n_t >= n_docs:
            continue
        n_l = len(lt[l])
        b, c = n_t - a, n_l - a
        d = n_docs - n_t - n_l + a
        num = 1000 * n_docs * (a * d - b * c) ** 2
        den = (a + b) * (c + d) * (a + c) * (b + d)
        scored[l].append((-(num // den), t, a))
    expect = set()
    for lang, cands in scored.items():
        for rank, (negchi, term, a) in enumerate(sorted(cands), 1):
            if rank <= _CHI2_TOP:
                expect.add((lang, rank, term, a, -negchi))
    got = {
        (r.lang, r.rank, r.term, r.df_in_lang, r.chi2_milli)
        for r in q268_chi2_terms(spark, sf_dir).collect()
    }
    assert got == expect


def test_shard_rebalance_matches_bisect_replay(spark, sf_dir):
    """q269: both schemes' moved counts must equal a hashlib+bisect
    Python replay, and the consistent-hash ring must move an order of
    magnitude less than mod placement."""
    import bisect
    import hashlib

    from snowflake_stock_dbt_spark.plans.scale import (
        _RING_SHARDS,
        _RING_VNODES,
        q269_shard_rebalance,
    )

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def ring(n: int):
        pts = sorted(
            (h60(f"vn:{s}:{v}"), s)
            for s in range(n)
            for v in range(_RING_VNODES)
        )
        keys = [p for p, _ in pts]
        return keys, [s for _, s in pts]

    ka, sa = ring(_RING_SHARDS)
    kb, sb = ring(_RING_SHARDS + 1)
    import duckdb

    con = duckdb.connect()
    ids = [
        i
        for (i,) in con.sql(
            f"SELECT doc_id FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]
    moved_mod = moved_ring = 0
    for doc_id in ids:
        h = h60(f"doc:{doc_id}")
        if h % _RING_SHARDS != h % (_RING_SHARDS + 1):
            moved_mod += 1
        ia = bisect.bisect_left(ka, h)
        ib = bisect.bisect_left(kb, h)
        if sa[ia % len(sa)] != sb[ib % len(sb)]:
            moved_ring += 1
    got = {
        r.scheme: (r.n_docs, r.n_moved)
        for r in q269_shard_rebalance(spark, sf_dir).collect()
    }
    assert got["mod"] == (len(ids), moved_mod)
    assert got["ring"] == (len(ids), moved_ring)
    assert moved_ring * 4 < moved_mod


def test_profile_drift_matches_python_counts(spark, sf_dir):
    """q270: per-column half counts and distincts must equal a raw-row
    Python replay with the same midpoint pivot."""
    from snowflake_stock_dbt_spark.plans.ops_diag import (
        _PROFILE_COLS,
        q270_profile_drift,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "orders").collect()
    days = [r.o_orderdate.date() for r in rows]
    d0, d1 = min(days), max(days)
    expect = {}
    for c in _PROFILE_COLS:
        vals = {"a": [], "b": []}
        for r in rows:
            half = "a" if (r.o_orderdate.date() - d0).days * 2 < (d1 - d0).days else "b"
            v = r[c]
            if v is not None:
                vals[half].append(v)
        expect[c] = (
            len(vals["a"]),
            len(vals["b"]),
            len(set(vals["a"])),
            len(set(vals["b"])),
        )
    got = {
        r.col: (r.n_a, r.n_b, r.d_a, r.d_b)
        for r in q270_profile_drift(spark, sf_dir).collect()
    }
    assert got == expect


def test_ann_recall_counts_exact_overlap(spark, sf_dir):
    """q271: per query, n_hits must equal |exact top-k ∩ ivf top-k| of
    the two underlying operators, and recall_ppm the exact integral
    quotient."""
    from snowflake_stock_dbt_spark.plans.vectors import (
        IVF_NPROBE,
        N_QUERY_VECS,
        TOP_K,
        q271_ann_recall,
    )
    from snowflake_stock_dbt_spark.operators.similarity import (
        cosine_topk_exact,
        ivf_topk_exact,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    exact = defaultdict(set)
    for r in cosine_topk_exact(queries, emb, k=TOP_K).collect():
        exact[r.query_id].add(r.neighbor_id)
    approx = defaultdict(set)
    for r in ivf_topk_exact(queries, emb, k=TOP_K, nprobe=IVF_NPROBE).collect():
        approx[r.query_id].add(r.neighbor_id)
    got = {r.query_id: r for r in q271_ann_recall(spark, sf_dir).collect()}
    assert set(got) == set(exact)
    for qid, nbrs in exact.items():
        hits = len(nbrs & approx[qid])
        assert got[qid].n_hits == hits
        assert got[qid].k == len(nbrs)
        assert got[qid].recall_ppm == hits * 1_000_000 // len(nbrs)
        assert got[qid].n_hits <= got[qid].k


def test_time_decay_attribution_matches_python_replay(spark, sf_dir):
    """q272: per-type totals must equal a Python replay of the capped
    power-of-two decay, and shares must sum to ~1e6 (within |types|
    truncation slack)."""
    from snowflake_stock_dbt_spark.plans.events import (
        _DECAY_CAP_DAYS,
        q272_time_decay_attribution,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
            "event_id",
        )
        .collect()
    )
    conv = {}
    for r in rows:
        if r.event_type == "purchase":
            key = (r.us, r.event_id)
            if r.user_id not in conv or key > conv[r.user_id]:
                conv[r.user_id] = key
    totals = defaultdict(int)
    counts = defaultdict(int)
    for r in rows:
        if r.user_id not in conv or r.event_type == "purchase":
            continue
        cus, cid = conv[r.user_id]
        if not (r.us < cus or (r.us == cus and r.event_id < cid)):
            continue
        d = min((cus - r.us) // 86_400_000_000, _DECAY_CAP_DAYS)
        totals[r.event_type] += 1 << (_DECAY_CAP_DAYS - d)
        counts[r.event_type] += 1
    got = {r.event_type: r for r in q272_time_decay_attribution(spark, sf_dir).collect()}
    assert {t: (r.total_weight, r.n_touches) for t, r in got.items()} == {
        t: (totals[t], counts[t]) for t in totals
    }
    grand = sum(totals.values())
    share_sum = sum(r.share_ppm for r in got.values())
    assert 1_000_000 - len(got) <= share_sum <= 1_000_000
    for t, r in got.items():
        assert r.share_ppm == totals[t] * 1_000_000 // grand


def test_cohens_kappa_matches_python_replay(spark, sf_dir):
    """q273: the contingency cells and κ ppm must equal a Python
    fractions-free integer replay of both raters."""
    import re

    from snowflake_stock_dbt_spark.plans.ops_diag import (
        _KAPPA_MIN_TOKENS,
        q273_cohens_kappa,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("lang", "text").collect()
    cells = defaultdict(lambda: [0, 0, 0, 0])  # n11 n10 n01 n00
    for r in docs:
        toks = re.split(r"\s+", r.text.strip())
        ra = len(toks) >= _KAPPA_MIN_TOKENS
        rb = 2 * len(set(toks)) >= len(toks)
        idx = (0 if rb else 1) if ra else (2 if rb else 3)
        cells[r.lang][idx] += 1
    got = {r.lang: r for r in q273_cohens_kappa(spark, sf_dir).collect()}
    assert set(got) == set(cells)
    for lang, (n11, n10, n01, n00) in cells.items():
        n = n11 + n10 + n01 + n00
        pe_num = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
        knum = 1_000_000 * (n * (n11 + n00) - pe_num)
        kden = n * n - pe_num
        if kden == 0:
            kappa = 1_000_000
        elif knum >= 0:
            kappa = knum // kden
        else:
            kappa = -((-knum) // kden)
        r = got[lang]
        assert (r.n11, r.n10, r.n01, r.n00) == (n11, n10, n01, n00)
        assert r.kappa_ppm == kappa


def test_vocab_oov_matches_python_replay(spark, sf_dir):
    """q274: per-source token totals, OOV counts and ppm must equal a
    Python counter replay of the min-count vocabulary."""
    import re
    from collections import Counter

    from snowflake_stock_dbt_spark.plans.llm_text import (
        _VOCAB_MIN_COUNT,
        q274_vocab_oov,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    per_src = defaultdict(Counter)
    glob = Counter()
    for r in docs:
        toks = [t for t in re.split(r"\s+", r.text.strip()) if t]
        per_src[r.source].update(toks)
        glob.update(toks)
    got = {r.source: r for r in q274_vocab_oov(spark, sf_dir).collect()}
    assert set(got) == set(per_src)
    for src, cnt in per_src.items():
        n_tokens = sum(cnt.values())
        n_oov = sum(c for t, c in cnt.items() if glob[t] < _VOCAB_MIN_COUNT)
        n_types = sum(1 for t in cnt if glob[t] < _VOCAB_MIN_COUNT)
        r = got[src]
        assert (r.n_tokens, r.n_oov, r.n_oov_types) == (n_tokens, n_oov, n_types)
        assert r.oov_ppm == n_oov * 1_000_000 // n_tokens


def test_heaps_law_matches_python_replay(spark, sf_dir):
    """q275: cumulative vocab/token counts at every decile checkpoint
    must equal a Python first-occurrence replay, and cum_vocab must be
    nondecreasing and <= cum_tokens."""
    import re

    from snowflake_stock_dbt_spark.plans.llm_text import (
        _HEAPS_BUCKETS,
        q275_heaps_law,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    n_ids = max(r.doc_id for r in docs) + 1
    per_bucket_tok = defaultdict(int)
    per_bucket_docs = defaultdict(int)
    first_bucket = {}
    for r in docs:
        b = r.doc_id * _HEAPS_BUCKETS // n_ids
        per_bucket_docs[b] += 1
        for t in re.split(r"\s+", r.text.strip()):
            if not t:
                continue
            per_bucket_tok[b] += 1
            if t not in first_bucket or b < first_bucket[t]:
                first_bucket[t] = b
    new_types = defaultdict(int)
    for t, b in first_bucket.items():
        new_types[b] += 1
    buckets = sorted(per_bucket_docs)
    cum_d = cum_t = cum_v = 0
    expect = {}
    for b in buckets:
        cum_d += per_bucket_docs[b]
        cum_t += per_bucket_tok[b]
        cum_v += new_types[b]
        expect[b] = (cum_d, cum_t, cum_v, cum_v * 1_000_000 // max(cum_t, 1))
    got = {
        r.bucket: (r.cum_docs, r.cum_tokens, r.cum_vocab, r.type_token_ppm)
        for r in q275_heaps_law(spark, sf_dir).collect()
    }
    assert got == expect
    vocabs = [got[b][2] for b in sorted(got)]
    assert vocabs == sorted(vocabs)
    for b in got:
        assert got[b][2] <= got[b][1]


def test_interleave_schedule_is_strided_and_gapless_prefix(spark, sf_dir):
    """q276: the first 50 global positions must be exactly the strided
    mixed-radix code — position r*K+idx for source-rank r — and form a
    gapless prefix 0..49 when every source is deep enough."""
    from snowflake_stock_dbt_spark.plans.curation import (
        _INTERLEAVE_HEAD,
        q276_interleave_schedule,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id").collect()
    sources = sorted({r.source for r in docs})
    idx = {s: i for i, s in enumerate(sources)}
    k = len(sources)
    by_src = defaultdict(list)
    for r in docs:
        by_src[r.source].append(r.doc_id)
    expect = []
    for s, ids in by_src.items():
        for rnk, did in enumerate(sorted(ids)):
            expect.append((rnk * k + idx[s], s, did))
    expect = sorted(expect)[:_INTERLEAVE_HEAD]
    got = [
        (r.global_pos, r.source, r.doc_id)
        for r in q276_interleave_schedule(spark, sf_dir).collect()
    ]
    assert got == expect
    # every source has >= HEAD/K docs in this corpus -> gapless prefix
    if all(len(v) >= _INTERLEAVE_HEAD // k + 1 for v in by_src.values()):
        assert [p for p, _, _ in got] == list(range(_INTERLEAVE_HEAD))


def test_event_trigrams_match_python_replay(spark, sf_dir):
    """q277: trigram counts and top-20 ranking must equal a Python
    per-user sequence replay with the same tiebreaks."""
    from snowflake_stock_dbt_spark.plans.events import (
        _TRIGRAM_TOP,
        q277_event_trigrams,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
        )
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.us, r.event_id, r.event_type))
    counts = defaultdict(int)
    for seq in by_user.values():
        seq.sort()
        types = [t for _, _, t in seq]
        for i in range(len(types) - 2):
            counts[(types[i], types[i + 1], types[i + 2])] += 1
    total = sum(counts.values())
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    expect = [
        (e1, e2, e3, n, n * 1_000_000 // total, rank)
        for rank, ((e1, e2, e3), n) in enumerate(ranked[:_TRIGRAM_TOP], 1)
    ]
    got = [
        (r.e1, r.e2, r.e3, r.n, r.support_ppm, r.rank)
        for r in q277_event_trigrams(spark, sf_dir).collect()
    ]
    assert got == expect


def test_drawdown_matches_python_replay(spark, sf_dir):
    """q278: max drawdown, underwater-day counts and longest streak
    must equal a sequential Python replay over the daily closes."""
    from snowflake_stock_dbt_spark.plans.insights import q278_drawdown
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.unix_micros("ts").alias("us"),
            "event_id",
            "value",
        )
        .collect()
    )
    last_tick = {}
    for r in rows:
        key = (r.event_type, r.day)
        tick = (r.us, r.event_id, r.value)
        if key not in last_tick or tick > last_tick[key]:
            last_tick[key] = tick
    series = defaultdict(list)
    for (et, day), (_, _, v) in last_tick.items():
        series[et].append((day, v))
    expect = {}
    for et, pts in series.items():
        pts.sort()
        peak = float("-inf")
        max_dd = 0.0
        uw_days = 0
        streak = best = 0
        for _, close in pts:
            peak = max(peak, close)
            dd = peak - close
            max_dd = max(max_dd, dd)
            if close < peak:
                uw_days += 1
                streak += 1
                best = max(best, streak)
            else:
                streak = 0
        expect[et] = (len(pts), max_dd, uw_days, best)
    got = {
        r.event_type: (
            r.n_days,
            r.max_drawdown,
            r.n_underwater_days,
            r.max_underwater_days,
        )
        for r in q278_drawdown(spark, sf_dir).collect()
    }
    assert got == expect


def test_sentence_stats_match_python_replay(spark, sf_dir):
    """q279: per-source sentence counts, ratios, and run-on flags must
    equal a Python re.split replay."""
    import re

    from snowflake_stock_dbt_spark.plans.llm_text import (
        _RUNON_TOKENS,
        q279_sentence_stats,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, sents, toks, runon
    for r in docs:
        sents = [s.strip() for s in re.split(r"[.!?]+", r.text) if s.strip()]
        toks = re.split(r"\s+", r.text.strip()) if r.text.strip() else []
        runon = any(
            len(re.split(r"\s+", s)) > _RUNON_TOKENS for s in sents
        )
        a = agg[r.source]
        a[0] += 1
        a[1] += len(sents)
        a[2] += len(toks)
        a[3] += 1 if runon else 0
    got = {r.source: r for r in q279_sentence_stats(spark, sf_dir).collect()}
    assert set(got) == set(agg)
    for src, (nd, ns, nt, nr) in agg.items():
        r = got[src]
        assert (r.n_docs, r.n_sentences, r.n_runon_docs) == (nd, ns, nr)
        assert r.sents_per_doc_milli == ns * 1000 // nd
        assert r.tokens_per_sent_milli == nt * 1000 // max(ns, 1)


def test_split_contamination_matches_python_replay(spark, sf_dir):
    """q280: the 3-row contamination matrix must equal a hashlib +
    set-intersection Python replay of q65's split rule and 3-gram
    shingles."""
    import hashlib
    import re

    from snowflake_stock_dbt_spark.plans.curation import (
        _CONTAM_PAIRS,
        q280_split_contamination,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    sets = defaultdict(set)
    for r in docs:
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16) % 100
        split = "train" if h < 80 else ("val" if h < 90 else "test")
        toks = re.split(r"\s+", r.text.strip())
        for i in range(len(toks) - 2):
            sets[split].add(" ".join(toks[i : i + 3]))
    expect = {}
    for a, b in _CONTAM_PAIRS:
        shared = len(sets[a] & sets[b])
        expect[(a, b)] = (
            shared,
            len(sets[b]),
            shared * 1_000_000 // len(sets[b]),
        )
    got = {
        (r.from_split, r.to_split): (
            r.n_shared,
            r.n_eval_shingles,
            r.contamination_ppm,
        )
        for r in q280_split_contamination(spark, sf_dir).collect()
    }
    assert got == expect


def test_boilerplate_affixes_find_injected_fixture(spark, sf_dir):
    """q281: counts must equal a Python replay of the injected
    header/footer fixture, and the injected affixes must be found in
    every source with >= MIN eligible carriers."""
    import re

    from snowflake_stock_dbt_spark.plans.llm_text import (
        _AFFIX_FOOTER,
        _AFFIX_HEADER,
        _AFFIX_MIN_DOCS,
        _AFFIX_TOKENS,
        q281_boilerplate_affixes,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .collect()
    )
    counts = defaultdict(int)
    eligible = defaultdict(int)
    for r in docs:
        parts = []
        if r.doc_id % 11 == 0:
            parts.append(_AFFIX_HEADER)
        parts.append(r.text)
        if r.doc_id % 5 == 0:
            parts.append(_AFFIX_FOOTER)
        toks = re.split(r"\s+", " ".join(parts).strip())
        if len(toks) < _AFFIX_TOKENS:
            continue
        eligible[r.source] += 1
        counts[(r.source, "prefix", " ".join(toks[:_AFFIX_TOKENS]))] += 1
        counts[(r.source, "suffix", " ".join(toks[-_AFFIX_TOKENS:]))] += 1
    expect = {
        k: (n, n * 1_000_000 // eligible[k[0]])
        for k, n in counts.items()
        if n >= _AFFIX_MIN_DOCS
    }
    got = {
        (r.source, r.kind, r.affix): (r.n_docs, r.share_ppm)
        for r in q281_boilerplate_affixes(spark, sf_dir).collect()
    }
    assert got == expect
    assert any(k[2].startswith("subscribe to") for k in got), (
        "injected footer not detected"
    )


def test_event_burstiness_matches_integer_replay(spark, sf_dir):
    """q282: the Fano milli must equal an exact big-int Python replay
    over daily counts."""
    from snowflake_stock_dbt_spark.plans.events import q282_event_burstiness
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .collect()
    )
    daily = defaultdict(int)
    for r in rows:
        daily[(r.event_type, r.day)] += 1
    per_type = defaultdict(list)
    for (et, _), x in daily.items():
        per_type[et].append(x)
    got = {r.event_type: r for r in q282_event_burstiness(spark, sf_dir).collect()}
    assert set(got) == set(per_type)
    for et, xs in per_type.items():
        n, sx, sxx = len(xs), sum(xs), sum(x * x for x in xs)
        r = got[et]
        assert (r.n_days, r.n_events) == (n, sx)
        assert r.fano_milli == 1000 * (n * sxx - sx * sx) // (n * sx)


def test_dedup_savings_match_injected_recrawl(spark, sf_dir):
    """q283: the histogram must be exactly the injected re-crawl
    arithmetic — size-2 clusters for %7-not-%21 docs, size-3 for %21 —
    with chars_saved = (size-1) * n_chars per cluster."""
    from snowflake_stock_dbt_spark.plans.llm_text import q283_dedup_savings
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    )
    by_size = defaultdict(lambda: [0, 0, 0])
    for r in docs:
        if r.doc_id % 21 == 0:
            s = 3
        elif r.doc_id % 7 == 0:
            s = 2
        else:
            continue
        b = by_size[s]
        b[0] += 1
        b[1] += s - 1
        b[2] += (s - 1) * r.n_chars
    got = {
        r.size: (r.n_clusters, r.docs_removed, r.chars_saved)
        for r in q283_dedup_savings(spark, sf_dir).collect()
    }
    assert got == {s: tuple(v) for s, v in by_size.items()}


def test_id_gap_audit_matches_python_replay(spark, sf_dir):
    """q284: per-day span/missing/dup arithmetic must equal a Python
    set replay."""
    from snowflake_stock_dbt_spark.plans.ops_diag import q284_id_gap_audit
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").cast("date").alias("day"), "event_id")
        .collect()
    )
    per_day = defaultdict(list)
    for r in rows:
        per_day[r.day].append(r.event_id)
    got = {r.day: r for r in q284_id_gap_audit(spark, sf_dir).collect()}
    assert set(got) == set(per_day)
    for day, ids in per_day.items():
        span = max(ids) - min(ids) + 1
        uniq = len(set(ids))
        r = got[day]
        assert (r.n_rows, r.n_ids, r.min_id, r.max_id) == (
            len(ids),
            uniq,
            min(ids),
            max(ids),
        )
        assert r.n_missing == span - uniq
        assert r.n_dup_ids == len(ids) - uniq
        assert r.gap_ppm == (span - uniq) * 1_000_000 // span


def test_event_runs_match_python_rle(spark, sf_dir):
    """q285: run counts and lengths must equal a Python RLE replay of
    each user's ordered journey."""
    from snowflake_stock_dbt_spark.plans.events import q285_event_runs
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
        )
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.us, r.event_id, r.event_type))
    runs = defaultdict(list)
    for seq in by_user.values():
        seq.sort()
        cur, n = None, 0
        for _, _, et in seq:
            if et == cur:
                n += 1
            else:
                if cur is not None:
                    runs[cur].append(n)
                cur, n = et, 1
        runs[cur].append(n)
    got = {r.event_type: r for r in q285_event_runs(spark, sf_dir).collect()}
    assert set(got) == set(runs)
    for et, lens in runs.items():
        r = got[et]
        assert (r.n_runs, r.n_events, r.max_run) == (
            len(lens),
            sum(lens),
            max(lens),
        )
        assert r.mean_run_milli == sum(lens) * 1000 // len(lens)
        assert r.compression_ppm == len(lens) * 1_000_000 // sum(lens)


def test_fill_rate_curve_is_monotone_and_matches_replay(spark, sf_dir):
    """q286: the within-k ppm must be nondecreasing in k and equal a
    Python datediff replay."""
    from snowflake_stock_dbt_spark.plans.warehouse import (
        _FILL_HORIZONS,
        q286_fill_rate_curve,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    orders = {
        r.o_orderkey: (r.o_orderpriority, r.o_orderdate.date())
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    lags = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .collect()
    ):
        prio, od = orders[r.l_orderkey]
        lags[prio].append((r.l_shipdate.date() - od).days)
    got = {r.o_orderpriority: r for r in q286_fill_rate_curve(spark, sf_dir).collect()}
    assert set(got) == set(lags)
    for prio, ds in lags.items():
        r = got[prio]
        assert r.n_items == len(ds)
        prev = -1
        for k in _FILL_HORIZONS:
            ppm = sum(1 for d in ds if d <= k) * 1_000_000 // len(ds)
            val = r[f"within_{k}d_ppm"]
            assert val == ppm
            assert val >= prev
            prev = val


def test_crosscorr_leadlag_matches_python_replay(spark, sf_dir):
    """q287: per-pair best lag and scaled covariance must equal a
    Python big-int replay with the same truncation and tiebreaks."""
    from snowflake_stock_dbt_spark.plans.events import (
        _XCORR_MAX_LAG,
        q287_crosscorr_leadlag,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .collect()
    )
    daily = defaultdict(int)
    for r in rows:
        daily[(r.event_type, r.day)] += 1
    types = sorted({et for et, _ in daily})
    by_type = defaultdict(dict)
    for (et, day), x in daily.items():
        by_type[et][day] = x

    def trunc_div(a: int, b: int) -> int:
        return a // b if a >= 0 else -((-a) // b)

    from datetime import timedelta

    expect = {}
    for a in types:
        for b in types:
            if a == b:
                continue
            best = None
            for lag in range(_XCORR_MAX_LAG + 1):
                pts = [
                    (x, by_type[b].get(d + timedelta(days=lag)))
                    for d, x in by_type[a].items()
                ]
                pts = [(x, y) for x, y in pts if y is not None]
                if not pts:
                    continue
                n = len(pts)
                sx = sum(x for x, _ in pts)
                sy = sum(y for _, y in pts)
                sxy = sum(x * y for x, y in pts)
                m = trunc_div(1000 * (n * sxy - sx * sy), n * n)
                key = (-m, lag)
                if best is None or key < best[0]:
                    best = (key, lag, n, m)
            expect[(a, b)] = (best[1], best[2], best[3])
    got = {
        (r.leader, r.follower): (r.best_lag, r.n_days, r.cov_milli)
        for r in q287_crosscorr_leadlag(spark, sf_dir).collect()
    }
    assert got == expect


def test_retention_halflife_matches_python_replay(spark, sf_dir):
    """q288: half-life days must equal a Python cohort replay with the
    cross-multiplied threshold and -1 right-censor sentinel."""
    from snowflake_stock_dbt_spark.plans.events import q288_retention_halflife
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .distinct()
        .collect()
    )
    user_days = defaultdict(set)
    for r in rows:
        user_days[r.user_id].add(r.day)
    cohorts = defaultdict(lambda: defaultdict(int))
    for u, days in user_days.items():
        first = min(days)
        for d in days:
            cohorts[first][(d - first).days] += 1
    expect = {}
    for cohort, ks in cohorts.items():
        size = ks[0]
        hl = min(
            (k for k, a in ks.items() if k >= 1 and a * 2 < size),
            default=-1,
        )
        expect[cohort] = (size, hl)
    got = {
        r.cohort: (r.cohort_size, r.half_life_days)
        for r in q288_retention_halflife(spark, sf_dir).collect()
    }
    assert got == expect


def test_embedding_hygiene_matches_python_replay(spark, sf_dir):
    """q289: every count must equal a Python per-vector replay (dims,
    zero vectors, null elements)."""
    from decimal import Decimal

    from snowflake_stock_dbt_spark.plans.vectors import q289_embedding_hygiene
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("label", "embedding")
        .collect()
    )
    agg = defaultdict(lambda: [0, set(), 0, 0, 0])
    eps = Decimal("0.000000000001")
    for r in rows:
        a = agg[r.label]
        a[0] += 1
        a[1].add(len(r.embedding))
        n2 = sum(
            (Decimal(repr(float(v) * float(v))).quantize(Decimal("1e-18")))
            for v in r.embedding
            if v is not None
        )
        if all(v == 0 for v in r.embedding if v is not None) and not any(
            v is None for v in r.embedding
        ):
            a[2] += 1
        if n2 < eps and not any(v is None for v in r.embedding):
            a[3] += 1
        if any(v is None for v in r.embedding):
            a[4] += 1
    got = {r.label: r for r in q289_embedding_hygiene(spark, sf_dir).collect()}
    assert set(got) == set(agg)
    for label, (n, dims, zeros, near, nulls) in agg.items():
        r = got[label]
        assert r.n_vecs == n
        assert r.n_dims == len(dims)
        assert (r.min_dim, r.max_dim) == (min(dims), max(dims))
        assert r.n_zero_vecs == zeros
        assert r.n_with_nulls == nulls
        # near-zero replay uses a quantized-per-term approximation;
        # pin only the invariant it must satisfy vs exact zeros.
        assert r.n_near_zero >= r.n_zero_vecs


def test_source_similarity_matches_python_replay(spark, sf_dir):
    """q290: dot products and ranking must equal a Counter replay with
    math.sqrt cosine and identical tiebreaks."""
    import math
    import re
    from collections import Counter

    from snowflake_stock_dbt_spark.plans.llm_text import (
        _SRCSIM_TOP,
        q290_source_similarity,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    tc = defaultdict(Counter)
    for r in docs:
        tc[r.source].update(t for t in re.split(r"\s+", r.text.strip()) if t)
    sources = sorted(tc)
    scored = []
    for i, a in enumerate(sources):
        for b in sources[i + 1 :]:
            shared = set(tc[a]) & set(tc[b])
            dot = sum(tc[a][t] * tc[b][t] for t in shared)
            na = math.sqrt(sum(c * c for c in tc[a].values()))
            nb = math.sqrt(sum(c * c for c in tc[b].values()))
            scored.append((round(dot / (na * nb), 9), a, b, dot))
    scored.sort(key=lambda x: (-x[0], x[1], x[2]))
    expect = [
        (rank, a, b, dot, cos)
        for rank, (cos, a, b, dot) in enumerate(scored[:_SRCSIM_TOP], 1)
    ]
    got = [
        (r.rank, r.a, r.b, r.dot, r.cosine)
        for r in q290_source_similarity(spark, sf_dir).collect()
    ]
    assert got == expect


def test_disorder_audit_matches_python_replay(spark, sf_dir):
    """q291: lateness distribution must equal a Python running-max
    replay over arrival (event_id) order."""
    from snowflake_stock_dbt_spark.plans.ops_diag import (
        _WM_HORIZONS_S,
        q291_disorder_audit,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id", F.expr("unix_micros(ts) DIV 1000000").alias("sec"))
        .collect()
    )
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append((r.event_id, r.sec))
    got = {r.event_type: r for r in q291_disorder_audit(spark, sf_dir).collect()}
    assert set(got) == set(by_type)
    for et, recs in by_type.items():
        recs.sort()
        seen = float("-inf")
        lates = []
        for _, sec in recs:
            seen = max(seen, sec)
            lates.append(seen - sec)
        r = got[et]
        assert r.n_events == len(lates)
        assert r.n_late == sum(1 for l in lates if l > 0)
        assert r.max_lateness_s == max(lates)
        for k in _WM_HORIZONS_S:
            assert r[f"within_{k}s_ppm"] == (
                sum(1 for l in lates if l <= k) * 1_000_000 // len(lates)
            )


def test_segmented_funnel_matches_python_replay(spark, sf_dir):
    """q292: per-nation funnel counts must equal a Python replay of the
    strictly-later step semantics, and sum to q67's global funnel."""
    from snowflake_stock_dbt_spark.plans.events import q292_segmented_funnel
    from snowflake_stock_dbt_spark.sources.tables import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts")
        .collect()
    )
    cust = {
        r.c_custkey: r.c_nationkey
        for r in load_table(spark, sf_dir, "customer").collect()
    }
    nation = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, sf_dir, "nation").collect()
    }
    per_user = defaultdict(lambda: defaultdict(list))
    for r in ev:
        per_user[r.user_id][r.event_type].append(r.ts)
    agg = defaultdict(lambda: [0, 0, 0])
    for uid, evs in per_user.items():
        if "signup" not in evs:
            continue
        s_ts = min(evs["signup"])
        nat = nation[cust[uid]]
        a = agg[nat]
        a[0] += 1
        clicks = [t for t in evs.get("click", []) if t > s_ts]
        if not clicks:
            continue
        a[1] += 1
        c_ts = min(clicks)
        if any(t > c_ts for t in evs.get("purchase", [])):
            a[2] += 1
    got = {r.nation: r for r in q292_segmented_funnel(spark, sf_dir).collect()}
    assert set(got) == set(agg)
    for nat, (ns, nc, np_) in agg.items():
        r = got[nat]
        assert (r.n_signup, r.n_click, r.n_purchase) == (ns, nc, np_)
        assert r.click_conv_ppm == nc * 1_000_000 // ns
        assert r.purchase_conv_ppm == (np_ * 1_000_000 // nc if nc else 0)


def test_brand_price_dispersion_matches_bigint_replay(spark, sf_dir):
    """q293: CV² milli must equal an arbitrary-precision cents replay."""
    from decimal import Decimal

    from snowflake_stock_dbt_spark.plans.warehouse import (
        q293_brand_price_dispersion,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "part")
        .select("p_brand", "p_retailprice")
        .collect()
    )
    per_brand = defaultdict(list)
    for r in rows:
        cents = int(
            Decimal(repr(r.p_retailprice)).quantize(Decimal("0.01")) * 100
        )
        per_brand[r.p_brand].append(cents)
    got = {r.p_brand: r for r in q293_brand_price_dispersion(spark, sf_dir).collect()}
    assert set(got) == set(per_brand)
    for brand, xs in per_brand.items():
        n, sx, sxx = len(xs), sum(xs), sum(x * x for x in xs)
        r = got[brand]
        assert r.n_parts == n
        assert r.mean_millicents == sx * 1000 // n
        assert r.cv2_milli == 1000 * (n * sxx - sx * sx) // (sx * sx)


def test_power_user_share_matches_python_replay(spark, sf_dir):
    """q294: the top-1% set and its share must equal a sorted replay."""
    from snowflake_stock_dbt_spark.plans.events import q294_power_user_share
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "events").select("user_id").collect()
    counts = defaultdict(int)
    for r in rows:
        counts[r.user_id] += 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    k = (len(ranked) + 99) // 100
    top = sum(n for _, n in ranked[:k])
    total = sum(counts.values())
    r = q294_power_user_share(spark, sf_dir).collect()[0]
    assert (r.n_users, r.k_top, r.top_events, r.total_events) == (
        len(ranked),
        k,
        top,
        total,
    )
    assert r.top1pct_share_ppm == top * 1_000_000 // total


def test_double_fire_audit_matches_python_replay(spark, sf_dir):
    """q295: suspect counts and same-µs bursts must equal a sequential
    per-(user,type) replay."""
    from snowflake_stock_dbt_spark.plans.events import (
        _DOUBLE_FIRE_S,
        q295_double_fire_audit,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
        )
        .collect()
    )
    streams = defaultdict(list)
    for r in rows:
        streams[(r.user_id, r.event_type)].append((r.us, r.event_id))
    suspects = defaultdict(int)
    totals = defaultdict(int)
    bursts = defaultdict(int)
    for (uid, et), recs in streams.items():
        recs.sort()
        same = defaultdict(int)
        for i, (us, _) in enumerate(recs):
            totals[et] += 1
            same[us] += 1
            if i > 0 and us - recs[i - 1][0] <= _DOUBLE_FIRE_S * 1_000_000:
                suspects[et] += 1
        for us, c in same.items():
            bursts[et] = max(bursts[et], c)
    got = {r.event_type: r for r in q295_double_fire_audit(spark, sf_dir).collect()}
    assert set(got) == set(totals)
    for et in totals:
        r = got[et]
        assert (r.n_events, r.n_suspect, r.max_same_us_burst) == (
            totals[et],
            suspects[et],
            bursts[et],
        )
        assert r.suspect_ppm == suspects[et] * 1_000_000 // totals[et]


def test_doclen_outliers_match_python_replay(spark, sf_dir):
    """q296: lower medians, MAD and fence counts must equal a sorted
    Python replay of the same convention."""
    from snowflake_stock_dbt_spark.plans.llm_text import (
        _MAD_K,
        q296_doclen_outliers,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "documents")
        .select("source", "n_chars")
        .collect()
    )
    per_src = defaultdict(list)
    for r in rows:
        per_src[r.source].append(r.n_chars)

    def lower_median(xs):
        xs = sorted(xs)
        # smallest value whose cumulative count covers half (2*cum >= n)
        return xs[(len(xs) - 1) // 2]

    got = {r.source: r for r in q296_doclen_outliers(spark, sf_dir).collect()}
    assert set(got) == set(per_src)
    for src, xs in per_src.items():
        med = lower_median(xs)
        mad = lower_median([abs(x - med) for x in xs])
        outl = sum(1 for x in xs if abs(x - med) > _MAD_K * mad)
        r = got[src]
        assert (r.n_docs, r.median_chars, r.mad_chars, r.n_outliers) == (
            len(xs),
            med,
            mad,
            outl,
        )


def test_independence_chi2_matches_bigint_replay(spark, sf_dir):
    """q297: per-weekday χ² contributions must equal an arbitrary-
    precision contingency replay with per-cell truncation."""
    from snowflake_stock_dbt_spark.plans.scale import q297_independence_chi2
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.dayofweek("o_orderdate").alias("weekday"),
            F.col("o_orderpriority").alias("prio"),
        )
        .collect()
    )
    obs = defaultdict(int)
    for r in rows:
        obs[(r.weekday, r.prio)] += 1
    row_m = defaultdict(int)
    col_m = defaultdict(int)
    for (w, p), o in obs.items():
        row_m[w] += o
        col_m[p] += o
    n = sum(obs.values())
    expect = defaultdict(lambda: [0, 0])
    for (w, p), o in obs.items():
        r, c = row_m[w], col_m[p]
        contrib = 1_000_000 * (o * n - r * c) ** 2 // (n * r * c)
        e = expect[w]
        e[0] += 1
        e[1] += contrib
    got = {r.weekday: r for r in q297_independence_chi2(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for w, (cells, chi2) in expect.items():
        assert (got[w].n_cells, got[w].chi2_micro) == (cells, chi2)


def test_cycle_time_matches_python_replay(spark, sf_dir):
    """q298: both lower medians must equal a sorted Python replay."""
    from snowflake_stock_dbt_spark.plans.warehouse import q298_cycle_time
    from snowflake_stock_dbt_spark.sources.tables import load_table

    ships = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .collect()
    ):
        ships[r.l_orderkey].append(r.l_shipdate.date())
    spans = defaultdict(lambda: ([], []))
    for r in load_table(spark, sf_dir, "orders").collect():
        ds = ships.get(r.o_orderkey)
        if not ds:
            continue
        first, last = min(ds), max(ds)
        a, b = spans[r.o_orderpriority]
        a.append((first - r.o_orderdate.date()).days)
        b.append((last - first).days)

    def lower_median(xs):
        return sorted(xs)[(len(xs) - 1) // 2]

    got = {r.o_orderpriority: r for r in q298_cycle_time(spark, sf_dir).collect()}
    assert set(got) == set(spans)
    for prio, (to_first, wdw) in spans.items():
        r = got[prio]
        assert r.n_orders == len(to_first)
        assert r.med_days_to_first_ship == lower_median(to_first)
        assert r.med_ship_window_days == lower_median(wdw)


def test_asof_late_impact_matches_python_replay(spark, sf_dir):
    """q299: the changed-match count must equal a bisect replay of both
    as-of joins, and every change must involve a late click."""
    import bisect

    from snowflake_stock_dbt_spark.plans.relational import (
        _LATE_MOD,
        q299_asof_late_impact,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
        )
        .collect()
    )
    clicks = defaultdict(list)
    purchases = []
    for r in rows:
        if r.event_type == "click":
            clicks[r.user_id].append((r.us, r.event_id))
        elif r.event_type == "purchase":
            purchases.append((r.user_id, r.event_id, r.us))

    def match(sorted_clicks, t):
        # latest click at/before t; (us, id) tuple order = tiebreak on id
        i = bisect.bisect_right(sorted_clicks, (t, float("inf")))
        return sorted_clicks[i - 1][1] if i else None

    n_changed = n_mb = n_mf = 0
    for uid, _, pus in purchases:
        full = sorted(clicks.get(uid, []))
        base = [c for c in full if c[1] % _LATE_MOD != 0]
        mb, mf = match(base, pus), match(full, pus)
        n_mb += mb is not None
        n_mf += mf is not None
        if mb != mf:
            n_changed += 1
            assert mf is not None and mf % _LATE_MOD == 0
    r = q299_asof_late_impact(spark, sf_dir).collect()[0]
    assert (r.n_purchases, r.n_matched_base, r.n_matched_full, r.n_changed) == (
        len(purchases),
        n_mb,
        n_mf,
        n_changed,
    )
    assert r.changed_ppm == n_changed * 1_000_000 // len(purchases)


def test_release_readiness_consistent_with_components(spark, sf_dir):
    """q300: every signal must agree with the standalone operators it
    composes (q274 OOV, q279 tokens/sentence), and the verdict must
    follow the pinned thresholds."""
    from snowflake_stock_dbt_spark.plans.curation import (
        _RR_DUP_MAX_PPM,
        _RR_OOV_MAX_PPM,
        _RR_TPS_MAX_MILLI,
        q300_release_readiness,
    )
    from snowflake_stock_dbt_spark.plans.llm_text import (
        q274_vocab_oov,
        q279_sentence_stats,
    )

    got = {r.source: r for r in q300_release_readiness(spark, sf_dir).collect()}
    oov = {r.source: r for r in q274_vocab_oov(spark, sf_dir).collect()}
    sent = {r.source: r for r in q279_sentence_stats(spark, sf_dir).collect()}
    assert set(got) == set(oov) == set(sent)
    for src, r in got.items():
        assert r.oov_ppm == oov[src].oov_ppm
        assert r.n_tokens == oov[src].n_tokens
        assert r.tokens_per_sent_milli == sent[src].tokens_per_sent_milli
        expect_pass = (
            r.oov_ppm < _RR_OOV_MAX_PPM
            and r.tokens_per_sent_milli < _RR_TPS_MAX_MILLI
            and r.dup_doc_ppm < _RR_DUP_MAX_PPM
        )
        assert r.verdict == ("PASS" if expect_pass else "HOLD")


def test_streaming_rate_limiter_equals_batch_audit(spark, sf_dir):
    """q301: the streaming TWS rate limiter must equal the batch q265
    audit row-for-row (stream state == batch RANGE-frame truth)."""
    import pytest as _pytest

    from snowflake_stock_dbt_spark.plans.streaming_plans import HAS_TWS

    if not HAS_TWS:
        _pytest.skip("transformWithState needs protobuf")
    from snowflake_stock_dbt_spark.plans.insights import (
        q265_rate_limiter_audit,
    )
    from snowflake_stock_dbt_spark.plans.streaming_plans import (
        q301_rate_limiter_tws,
    )

    batch = {
        r.user_id: (r.n_events, r.n_throttled, r.peak_rate)
        for r in q265_rate_limiter_audit(spark, sf_dir).collect()
    }
    stream = {
        r.user_id: (r.n_events, r.n_throttled, r.peak_rate)
        for r in q301_rate_limiter_tws(spark, sf_dir).collect()
    }
    assert stream == batch


def test_open_order_aging_matches_python_replay(spark, sf_dir):
    """q302: bucket counts must equal a raw-row replay against the same
    as-of anchor, and buckets must partition n_open."""
    from snowflake_stock_dbt_spark.plans.warehouse import q302_open_order_aging
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "orders").collect()
    asof = max(r.o_orderdate.date() for r in rows)
    agg = defaultdict(lambda: [0, 0, 0, 0, 0, -1])
    for r in rows:
        if r.o_orderstatus != "O":
            continue
        age = (asof - r.o_orderdate.date()).days
        a = agg[r.o_orderpriority]
        a[0] += 1
        if age <= 30:
            a[1] += 1
        elif age <= 60:
            a[2] += 1
        elif age <= 90:
            a[3] += 1
        else:
            a[4] += 1
        a[5] = max(a[5], age)
    got = {r.o_orderpriority: r for r in q302_open_order_aging(spark, sf_dir).collect()}
    assert set(got) == set(agg)
    for prio, (n, b1, b2, b3, b4, oldest) in agg.items():
        r = got[prio]
        assert (r.n_open, r.d0_30, r.d31_60, r.d61_90, r.d90_plus) == (
            n, b1, b2, b3, b4,
        )
        assert r.oldest_age_days == oldest
        assert r.n_open == r.d0_30 + r.d31_60 + r.d61_90 + r.d90_plus


def test_langid_confusion_consistent_with_q17(spark, sf_dir):
    """q303: the matrix must be exactly the grouped q17 predictions,
    rows must sum to each declared language's doc count, and share ppm
    must be the exact integral quotient."""
    from snowflake_stock_dbt_spark.plans.llm_text import (
        q17_lang_id,
        q303_langid_confusion,
    )

    preds = defaultdict(int)
    declared = defaultdict(int)
    for r in q17_lang_id(spark, sf_dir).collect():
        preds[(r.declared_lang, r.predicted_lang)] += 1
        declared[r.declared_lang] += 1
    got = {
        (r.declared_lang, r.predicted_lang): r
        for r in q303_langid_confusion(spark, sf_dir).collect()
    }
    assert set(got) == set(preds)
    for (dl, pl), r in got.items():
        assert r.n_docs == preds[(dl, pl)]
        assert r.share_ppm == preds[(dl, pl)] * 1_000_000 // declared[dl]
        assert r.is_correct == int(dl == pl)


def test_hourly_peaks_match_python_replay(spark, sf_dir):
    """q304: the argmax hour and ratios must equal a Counter replay
    with the hour-asc tiebreak."""
    from snowflake_stock_dbt_spark.plans.events import q304_hourly_peaks
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.hour("ts").alias("hr"))
        .collect()
    )
    counts = defaultdict(lambda: defaultdict(int))
    for r in rows:
        counts[r.event_type][r.hr] += 1
    got = {r.event_type: r for r in q304_hourly_peaks(spark, sf_dir).collect()}
    assert set(got) == set(counts)
    for et, hrs in counts.items():
        total = sum(hrs.values())
        peak_hr, peak_n = min(hrs.items(), key=lambda kv: (-kv[1], kv[0]))
        r = got[et]
        assert (r.n_events, r.peak_hour, r.peak_count) == (total, peak_hr, peak_n)
        assert r.peak_share_ppm == peak_n * 1_000_000 // total
        assert r.peak_to_mean_milli == peak_n * 24 * 1000 // total


def test_discount_lift_matches_python_replay(spark, sf_dir):
    """q305: band revenue/quantity arithmetic must equal an exact cents
    replay, and the zero band's lift must be exactly 1e6."""
    from decimal import Decimal

    from snowflake_stock_dbt_spark.plans.warehouse import q305_discount_lift
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_discount", "l_extendedprice", "l_quantity")
        .collect()
    )
    bands = defaultdict(lambda: [0, 0, 0])
    for r in rows:
        dp = int(Decimal(repr(r.l_discount)).quantize(Decimal("0.01")) * 100)
        price_c = int(
            Decimal(repr(r.l_extendedprice)).quantize(Decimal("0.01")) * 100
        )
        band = (
            "0_none" if dp == 0
            else "1_to5pct" if dp <= 5
            else "2_to10pct" if dp <= 10
            else "3_over10pct"
        )
        b = bands[band]
        b[0] += 1
        b[1] += price_c * (100 - dp)
        b[2] += int(r.l_quantity)
    z_n, _, z_sq = bands["0_none"]
    got = {r.band: r for r in q305_discount_lift(spark, sf_dir).collect()}
    assert set(got) == set(bands)
    for band, (n, rev, sq) in bands.items():
        r = got[band]
        assert (r.n_items, r.revenue_e4) == (n, rev)
        assert r.mean_qty_milli == sq * 1000 // n
        assert r.qty_lift_ppm == sq * z_n * 1_000_000 // (n * z_sq)
    assert got["0_none"].qty_lift_ppm == 1_000_000


def test_interevent_gaps_match_python_replay(spark, sf_dir):
    """q306: median and p90 gap seconds must equal a sorted replay of
    the same cross-multiplied conventions."""
    from snowflake_stock_dbt_spark.plans.events import q306_interevent_gaps
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
        )
        .collect()
    )
    streams = defaultdict(list)
    for r in rows:
        streams[(r.user_id, r.event_type)].append((r.us, r.event_id))
    gaps = defaultdict(list)
    for (uid, et), recs in streams.items():
        recs.sort()
        for i in range(1, len(recs)):
            gaps[et].append((recs[i][0] - recs[i - 1][0]) // 1_000_000)

    def quantile(xs, num, den):
        # smallest value with den*cum >= num*n
        xs = sorted(xs)
        n = len(xs)
        for i, v in enumerate(xs):
            if (i + 1) * den >= num * n:
                return v
        return xs[-1]

    got = {r.event_type: r for r in q306_interevent_gaps(spark, sf_dir).collect()}
    assert set(got) == set(gaps)
    for et, xs in gaps.items():
        r = got[et]
        assert r.n_gaps == len(xs)
        assert r.med_gap_s == quantile(xs, 1, 2)
        assert r.p90_gap_s == quantile(xs, 9, 10)


def test_single_source_risk_matches_python_replay(spark, sf_dir):
    """q307: single-source part counts must equal a set replay."""
    from snowflake_stock_dbt_spark.plans.warehouse import q307_single_source_risk
    from snowflake_stock_dbt_spark.sources.tables import load_table

    supp = defaultdict(set)
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .collect()
    ):
        supp[r.l_partkey].add(r.l_suppkey)
    brand = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, sf_dir, "part").collect()
    }
    agg = defaultdict(lambda: [0, 0])
    for pk, ss in supp.items():
        a = agg[brand[pk]]
        a[0] += 1
        a[1] += 1 if len(ss) == 1 else 0
    got = {r.p_brand: r for r in q307_single_source_risk(spark, sf_dir).collect()}
    assert set(got) == set(agg)
    for b, (n, single) in agg.items():
        r = got[b]
        assert (r.n_parts, r.n_single_source) == (n, single)
        assert r.risk_ppm == single * 1_000_000 // n


def test_return_rates_match_exact_cents_replay(spark, sf_dir):
    """q308: returned counts and cents must equal a Decimal replay."""
    from decimal import Decimal

    from snowflake_stock_dbt_spark.plans.warehouse import q308_return_rates
    from snowflake_stock_dbt_spark.sources.tables import load_table

    brand = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, sf_dir, "part").collect()
    }
    agg = defaultdict(lambda: [0, 0, 0])
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_returnflag", "l_extendedprice")
        .collect()
    ):
        a = agg[brand[r.l_partkey]]
        a[0] += 1
        if r.l_returnflag == "R":
            a[1] += 1
            a[2] += int(
                Decimal(repr(r.l_extendedprice)).quantize(Decimal("0.01"))
                * 100
            )
    got = {r.p_brand: r for r in q308_return_rates(spark, sf_dir).collect()}
    assert set(got) == set(agg)
    for b, (n, ret, cents) in agg.items():
        r = got[b]
        assert (r.n_items, r.n_returned, r.returned_cents) == (n, ret, cents)
        assert r.return_ppm == ret * 1_000_000 // n


def test_label_balance_matches_bigint_replay(spark, sf_dir):
    """q309: shares and uniform-χ² contributions must equal a big-int
    replay, and shares must sum to ~1e6."""
    from snowflake_stock_dbt_spark.plans.vectors import q309_label_balance
    from snowflake_stock_dbt_spark.sources.tables import load_table

    counts = defaultdict(int)
    for r in load_table(spark, sf_dir, "embeddings").select("label").collect():
        counts[r.label] += 1
    total = sum(counts.values())
    k = len(counts)
    got = {r.label: r for r in q309_label_balance(spark, sf_dir).collect()}
    assert set(got) == set(counts)
    for label, n in counts.items():
        r = got[label]
        assert r.n_vecs == n
        assert r.share_ppm == n * 1_000_000 // total
        assert r.chi2_uniform_micro == (
            1_000_000 * (n * k - total) ** 2 // (k * total)
        )
    share_sum = sum(r.share_ppm for r in got.values())
    assert 1_000_000 - k <= share_sum <= 1_000_000


def test_corpus_composition_shares_sum(spark, sf_dir):
    """q310: cells must equal a Counter replay; per-source shares and
    corpus char shares must sum to ~1e6 within truncation slack."""
    from snowflake_stock_dbt_spark.plans.curation import q310_corpus_composition
    from snowflake_stock_dbt_spark.sources.tables import load_table

    cells = defaultdict(lambda: [0, 0])
    for r in (
        load_table(spark, sf_dir, "documents")
        .select("source", "lang", "n_chars")
        .collect()
    ):
        c = cells[(r.source, r.lang)]
        c[0] += 1
        c[1] += r.n_chars
    got = {
        (r.source, r.lang): r
        for r in q310_corpus_composition(spark, sf_dir).collect()
    }
    assert set(got) == set(cells)
    src_docs = defaultdict(int)
    tot_chars = 0
    for (s, _), (nd, nc) in cells.items():
        src_docs[s] += nd
        tot_chars += nc
    for (s, l), (nd, nc) in cells.items():
        r = got[(s, l)]
        assert (r.n_docs, r.n_chars) == (nd, nc)
        assert r.share_of_source_ppm == nd * 1_000_000 // src_docs[s]
        assert r.share_of_corpus_chars_ppm == nc * 1_000_000 // tot_chars
    chars_sum = sum(r.share_of_corpus_chars_ppm for r in got.values())
    assert 1_000_000 - len(got) <= chars_sum <= 1_000_000


def test_mix_shift_decomposition_identities(spark, sf_dir):
    """q311: delta = growth + mix per nation exactly; Σ growth ≈ ΔR and
    Σ mix ≈ 0 within |nations| truncation slack; rev columns equal an
    exact-cents replay."""
    from decimal import Decimal

    from snowflake_stock_dbt_spark.plans.insights import q311_mix_shift
    from snowflake_stock_dbt_spark.sources.tables import load_table

    orders = {
        r.o_orderkey: (r.o_custkey, r.o_orderdate.date())
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    d0 = min(d for _, d in orders.values())
    d1 = max(d for _, d in orders.values())
    nation_of_cust = {}
    nations = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, sf_dir, "nation").collect()
    }
    for r in load_table(spark, sf_dir, "customer").collect():
        nation_of_cust[r.c_custkey] = nations[r.c_nationkey]
    rev = defaultdict(lambda: [0, 0])
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .collect()
    ):
        ck, od = orders[r.l_orderkey]
        half = 0 if (od - d0).days * 2 < (d1 - d0).days else 1
        cents = int(
            Decimal(repr(r.l_extendedprice)).quantize(Decimal("0.01")) * 100
        )
        dp = int(Decimal(repr(r.l_discount)).quantize(Decimal("0.01")) * 100)
        rev[nation_of_cust[ck]][half] += cents * (100 - dp)
    rows = q311_mix_shift(spark, sf_dir).collect()
    got = {r.nation: r for r in rows}
    assert set(got) == set(rev)
    r0 = sum(v[0] for v in rev.values())
    r1 = sum(v[1] for v in rev.values())
    for nat, (a, b) in rev.items():
        r = got[nat]
        assert (r.rev0_e4, r.rev1_e4, r.delta_e4) == (a, b, b - a)
        assert r.delta_e4 == r.growth_e4 + r.mix_e4
    growth_sum = sum(r.growth_e4 for r in rows)
    mix_sum = sum(r.mix_e4 for r in rows)
    assert abs(growth_sum - (r1 - r0)) <= len(rows)
    assert abs(mix_sum) <= len(rows)


def test_lsh_transitivity_matches_python_replay(spark, sf_dir):
    """q312: wedge/closure counts must equal a set replay over the q22
    pair frame."""
    from itertools import combinations

    from snowflake_stock_dbt_spark.operators.textdedup import (
        minhash_lsh_pairs,
    )
    from snowflake_stock_dbt_spark.plans.llm_text import q312_lsh_transitivity
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", k=3).collect()
    }
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    wedges = closed = 0
    for m, nbrs in adj.items():
        for x, y in combinations(sorted(nbrs), 2):
            wedges += 1
            if (min(x, y), max(x, y)) in pairs:
                closed += 1
    r = q312_lsh_transitivity(spark, sf_dir).collect()[0]
    assert (r.n_pairs, r.n_wedges, r.n_closed) == (len(pairs), wedges, closed)
    assert r.closure_ppm == (closed * 1_000_000 // wedges if wedges else 0)


def test_coldstart_mix_matches_python_replay(spark, sf_dir):
    """q313: phase counts and share deltas must equal a first-seen
    replay."""
    from snowflake_stock_dbt_spark.plans.events import q313_coldstart_mix
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", F.unix_micros("ts").alias("us"))
        .collect()
    )
    first = {}
    for r in rows:
        first[r.user_id] = min(first.get(r.user_id, r.us), r.us)
    counts = defaultdict(lambda: [0, 0])
    for r in rows:
        cold = (r.us - first[r.user_id]) // 86_400_000_000 <= 6
        counts[r.event_type][0 if cold else 1] += 1
    tot_c = sum(v[0] for v in counts.values()) or 1
    tot_s = sum(v[1] for v in counts.values()) or 1
    got = {r.event_type: r for r in q313_coldstart_mix(spark, sf_dir).collect()}
    assert set(got) == set(counts)
    for et, (nc, ns) in counts.items():
        r = got[et]
        assert (r.n_cold, r.n_steady) == (nc, ns)
        assert r.cold_share_ppm == nc * 1_000_000 // tot_c
        assert r.steady_share_ppm == ns * 1_000_000 // tot_s
        assert r.mix_delta_ppm == r.cold_share_ppm - r.steady_share_ppm


def test_decile_migration_matches_python_replay(spark, sf_dir):
    """q314: decile assignment and the matrix must equal a sorted-CDF
    replay with the same tie convention, and origin shares sum ~1e6."""
    from decimal import Decimal

    from snowflake_stock_dbt_spark.plans.warehouse import q314_decile_migration
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "orders").collect()
    d0 = min(r.o_orderdate.date() for r in rows)
    d1 = max(r.o_orderdate.date() for r in rows)
    spend = defaultdict(int)
    for r in rows:
        half = 0 if (r.o_orderdate.date() - d0).days * 2 < (d1 - d0).days else 1
        cents = int(
            Decimal(repr(r.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        spend[(r.o_custkey, half)] += cents

    def deciles(half):
        vals = sorted(v for (c, h), v in spend.items() if h == half)
        n = len(vals)
        import bisect

        out = {}
        for (c, h), v in spend.items():
            if h != half:
                continue
            below = bisect.bisect_left(vals, v)
            out[c] = below * 10 // n + 1
        return out

    dec0, dec1 = deciles(0), deciles(1)
    matrix = defaultdict(int)
    for c in set(dec0) & set(dec1):
        matrix[(dec0[c], dec1[c])] += 1
    got = {
        (r.d0, r.d1): r for r in q314_decile_migration(spark, sf_dir).collect()
    }
    assert {k: r.n_customers for k, r in got.items()} == dict(matrix)
    origin = defaultdict(int)
    for (a, _), n in matrix.items():
        origin[a] += n
    for (a, b), r in got.items():
        assert r.share_of_origin_ppm == matrix[(a, b)] * 1_000_000 // origin[a]


def test_business_day_lag_matches_python_replay(spark, sf_dir):
    """q315: business-day lags must equal a weekday-walking Python
    replay (the closed form vs the naive loop), medians per the house
    convention. This test exists because the first draft's f-string
    dropped the parentheses around the subtracted closed form and the
    oracle caught it — the replay pins the CLOSED FORM itself against
    a day-by-day walk."""
    from datetime import timedelta

    from snowflake_stock_dbt_spark.plans.warehouse import q315_business_day_lag
    from snowflake_stock_dbt_spark.sources.tables import load_table

    orders = {
        r.o_orderkey: (r.o_orderpriority, r.o_orderdate.date())
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    lags = defaultdict(lambda: ([], []))

    def naive_bd(a, b):
        # The operator's declared convention: clamp EACH endpoint
        # forward to its next business day (a Saturday ship counts as
        # effectively done Monday), then count business days in
        # (a', b'] — walked day by day (slow but unarguable).
        while a.weekday() >= 5:
            a += timedelta(days=1)
        while b.weekday() >= 5:
            b += timedelta(days=1)
        if b < a:  # the synthetic corpus has ship-before-order rows
            sign, a, b = -1, b, a
        else:
            sign = 1
        n = 0
        d = a
        while d < b:
            d += timedelta(days=1)
            if d.weekday() < 5:
                n += 1
        return sign * n

    import random

    rng = random.Random(0)
    rows = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .collect()
    )
    for r in rows:
        prio, od = orders[r.l_orderkey]
        sd = r.l_shipdate.date()
        bd, cal = lags[prio]
        # closed form (python twin of the SQL)
        a = (od - __import__("datetime").date(1969, 12, 29)).days
        b = (sd - __import__("datetime").date(1969, 12, 29)).days
        a2 = a + (7 - a % 7) if a % 7 >= 5 else a
        b2 = b + (7 - b % 7) if b % 7 >= 5 else b
        v = (b2 // 7) * 5 + min(b2 % 7, 5) - ((a2 // 7) * 5 + min(a2 % 7, 5))
        bd.append(v)
        cal.append(b - a)
        # spot-check the closed form against the naive walk on a sample
        if rng.random() < 0.01:
            assert v == naive_bd(od, sd), (od, sd, v)

    def lower_median(xs):
        return sorted(xs)[(len(xs) - 1) // 2]

    got = {
        r.o_orderpriority: r
        for r in q315_business_day_lag(spark, sf_dir).collect()
    }
    assert set(got) == set(lags)
    for prio, (bd, cal) in lags.items():
        r = got[prio]
        assert r.n_items == len(bd)
        assert r.med_bd_lag == lower_median(bd)
        assert r.med_cal_lag == lower_median(cal)
        assert r.max_bd_lag == max(bd)


def test_fd_miner_matches_python_replay(spark, sf_dir):
    """q316: distinct counts and FD verdicts must equal a set replay,
    and o_orderkey must determine every other column (it is the PK)."""
    from snowflake_stock_dbt_spark.plans.warehouse import (
        _FD_COLS,
        q316_fd_miner,
    )
    from snowflake_stock_dbt_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "orders").select(*_FD_COLS).collect()
    got = {(r.det, r.dep): r for r in q316_fd_miner(spark, sf_dir).collect()}
    for a in _FD_COLS:
        for b in _FD_COLS:
            if a == b:
                continue
            d_a = len({r[a] for r in rows})
            d_ab = len({(r[a], r[b]) for r in rows})
            r = got[(a, b)]
            assert (r.n_distinct_det, r.n_distinct_pair) == (d_a, d_ab)
            assert r.n_violations == d_ab - d_a
            assert r.fd_holds == int(d_a == d_ab)
    for b in _FD_COLS:
        if b != "o_orderkey":
            assert got[("o_orderkey", b)].fd_holds == 1
