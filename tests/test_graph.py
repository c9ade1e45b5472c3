"""Tests for the connected-components / near-dup-grouping operator."""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

from snowflake_stock_dbt_spark.operators.graph import (
    connected_components,
    neardup_components,
)


def _cc_dict(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_two_components_and_chain(spark):
    # 1-2-3 chained (diameter > 1 forces multiple propagation rounds),
    # 10-11 separate.
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (10, 11)], "src long, dst long"
    )
    got = _cc_dict(connected_components(edges))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_path_converges(spark):
    # path 0-1-2-...-9: worst-case diameter for label propagation.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    got = _cc_dict(connected_components(edges))
    assert got == {i: 0 for i in range(10)}


def test_isolated_vertices_keep_own_label(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (7,)], "id long")
    got = _cc_dict(connected_components(edges, vertices=verts))
    assert got == {1: 1, 2: 1, 7: 7}


def test_two_phase_equals_label_prop_on_mixed_graph(spark):
    """Kiveris large-star/small-star must produce the identical labeling
    (min id per component) as label propagation — cliques, chains,
    isolated vertices, duplicate/reversed edges all at once."""
    raw = (
        [(i, j) for i in range(5) for j in range(i + 1, 5)]  # clique 0-4
        + [(10 + i, 11 + i) for i in range(6)]  # chain 10..16
        + [(30, 31), (31, 30), (30, 31)]  # dupes + reversal
    )
    edges = spark.createDataFrame(raw, "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(40)], "id long")
    a = _cc_dict(connected_components(edges, vertices=verts))
    b = _cc_dict(
        connected_components(edges, vertices=verts, algorithm="two-phase")
    )
    assert a == b
    assert b[4] == 0 and b[16] == 10 and b[31] == 30 and b[25] == 25


def test_two_phase_equals_label_prop_on_neardup_pairs(spark, oracle_sf_dir):
    """On the engine's real candidate-pair graph (the q54 MinHash-LSH
    pairs), both algorithms must agree exactly."""
    from snowflake_stock_dbt_spark.operators.textdedup import minhash_lsh_pairs
    from snowflake_stock_dbt_spark.sources.tables import load_table

    docs = load_table(spark, oracle_sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    a = _cc_dict(
        connected_components(pairs, src="doc_a", dst="doc_b", vertices=docs,
                             id_col="doc_id")
    )
    b = _cc_dict(
        connected_components(pairs, src="doc_a", dst="doc_b", vertices=docs,
                             id_col="doc_id", algorithm="two-phase")
    )
    assert a == b


def test_k_core_known_graphs(spark):
    """k-core on known structures: a 4-clique survives k=3 with the
    pendant node peeled (and the CASCADE checked: peeling the pendant
    must not drag clique members below k); a chain has no 2-core; a
    cycle IS its own 2-core."""
    from snowflake_stock_dbt_spark.operators.graph import k_core

    clique_plus = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        "src long, dst long",
    )
    stats: dict = {}
    got = {
        r["node_id"]: r["core_degree"]
        for r in k_core(clique_plus, k=3, _stats=stats).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    assert stats["rounds"] == 1
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    assert k_core(chain, k=2).count() == 0  # peels from both ends
    cycle = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )
    got_cycle = {
        r["node_id"]: r["core_degree"] for r in k_core(cycle, k=2).collect()
    }
    assert got_cycle == {i: 2 for i in range(6)}


def test_two_phase_bounded_rounds_on_long_chain(spark):
    """The pathological-diameter claim, measured: a 256-node path has
    diameter 255 — label propagation needs ~n rounds (it raises unless
    max_iter≈255), while two-phase must converge in
    O(log² n) — a dozen-ish rounds. The round count is asserted, making
    graph.py's Kiveris citation a tested property instead of a docstring
    promise (round-3 VERDICT item 5; PLANS.md round-4 journal)."""
    n = 256
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    stats: dict = {}
    got = _cc_dict(
        connected_components(
            edges, algorithm="two-phase", max_iter=30, _stats=stats
        )
    )
    assert got == {i: 0 for i in range(n)}
    # Rounds that changed the edge set; the confirming round is not counted.
    assert stats["rounds"] <= 11, stats  # log2(256)^2/something — far below 255


def test_two_phase_flat_stars_with_self_loops_converge_at_once(spark):
    """Input that is already flat stars needs no rewiring round, even
    when self-loops (dropped by the first round) come with it; the
    self-loop-only vertex keeps its own label."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 4), (5, 6)], "src long, dst long"
    )
    stats: dict = {}
    got = _cc_dict(
        connected_components(edges, algorithm="two-phase", _stats=stats)
    )
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}
    assert stats["rounds"] == 0


def test_neardup_components_keeper_contract(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    rows = {r["doc_id"]: r for r in neardup_components(pairs, docs).collect()}
    assert rows[1]["component"] == 1 and rows[1]["cluster_size"] == 3
    assert rows[3]["component"] == 1 and not rows[3]["is_keeper"]
    assert rows[5]["component"] == 5 and rows[5]["cluster_size"] == 2
    assert rows[4]["cluster_size"] == 1 and rows[4]["is_keeper"]
    # exactly one keeper per cluster
    keepers = [r for r in rows.values() if r["is_keeper"]]
    assert sorted(r["component"] for r in keepers) == [1, 4, 5, 7]


# --- triangle counting -----------------------------------------------------


def test_triangle_counts_known_graphs(spark):
    from snowflake_stock_dbt_spark.operators.graph import triangle_counts

    # K4: every node sits in C(3,2)=3 triangles.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    got = {
        r["node_id"]: r["n_triangles"]
        for r in triangle_counts(
            spark.createDataFrame(k4, "src bigint, dst bigint")
        ).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    # Path graph has no triangles.
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src bigint, dst bigint")
    assert triangle_counts(path).count() == 0

    # Duplicate / reversed / self-loop edges are normalized away.
    messy = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 3), (1, 2)],
        "src bigint, dst bigint",
    )
    got2 = {
        r["node_id"]: r["n_triangles"] for r in triangle_counts(messy).collect()
    }
    assert got2 == {1: 1, 2: 1, 3: 1}


def test_triangle_counts_star_graph_no_quadratic_wedges(spark):
    """Celebrity star: hub connected to 50 leaves, no triangles; the
    degree orientation points every edge INTO the hub, so the hub's
    out-degree is 0 and the wedge join emits nothing."""
    from snowflake_stock_dbt_spark.operators.graph import triangle_counts

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 51)], "src bigint, dst bigint"
    )
    assert triangle_counts(star).count() == 0


def test_bfs_hops_path_graph(spark):
    """Directed path 1->2->3->4->5 seeded at 1, cap 3: hops are exact
    path distances, node 5 (distance 4) is excluded by the cap, and the
    seed itself is hop 0."""
    from snowflake_stock_dbt_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(1,)], "id bigint")
    got = {r["id"]: r["hop"] for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_hops_multi_source_min_and_unreachable(spark):
    """Two seeds: each vertex is stamped at the MINIMUM distance over
    all seeds; a disconnected vertex never appears; a vertex reachable
    by both a short and a long path gets the short one (first-reach
    invariant, not path enumeration)."""
    from snowflake_stock_dbt_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        # Component A: 1->2->3, plus shortcut 9->3; component B: 7->8.
        [(1, 2), (2, 3), (9, 3), (7, 8)],
        "src bigint, dst bigint",
    )
    seeds = spark.createDataFrame([(1,), (9,)], "id bigint")
    got = {r["id"]: r["hop"] for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    # 3 is distance 2 via 1->2->3 but distance 1 via 9->3: min wins.
    assert got == {1: 0, 9: 0, 2: 1, 3: 1}


# --- the fixpoint loop: properties against pure-Python references ----------


def _random_graph(seed: int):
    """(edges, vertex ids) of a seeded random graph: two or three
    disconnected parts of random density, plus duplicate and reversed
    edges, self-loops and isolated vertices."""
    rng = random.Random(seed)
    edges, ids, base = [], [], 0
    for _ in range(rng.randint(2, 3)):
        n, p = rng.randint(2, 9), rng.choice((0.15, 0.3, 0.6))
        part = list(range(base, base + n))
        ids += part
        edges += [(a, b) for a in part for b in part if a != b and rng.random() < p]
        base += n + rng.randint(0, 5)
    if edges:
        edges += rng.sample(edges, min(3, len(edges)))  # duplicates
    edges += [(b, a) for a, b in edges[:2]]  # reversals
    edges += [(i, i) for i in rng.sample(ids, 2)]  # self-loops
    ids += [base + 1, base + 3]  # isolated
    return edges, ids


def _py_components(edges, ids):
    parent = {i: i for e in edges for i in e} | {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def _py_k_core(edges, k):
    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    while low := [n for n, nb in adj.items() if len(nb) < k]:
        for n in low:
            for m in adj.pop(n):
                if m in adj:
                    adj[m].discard(n)
    return {n: len(nb) for n, nb in adj.items()}


def _py_bfs(edges, seeds, max_hops):
    hops = {s: 0 for s in seeds}
    frontier = set(seeds)
    for d in range(1, max_hops + 1):
        frontier = {b for a, b in edges if a in frontier} - hops.keys()
        hops |= {v: d for v in frontier}
    return hops


def _py_bellman_ford(wedges, seeds, rounds):
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        new = dict(dist)
        for a, b, w in wedges:
            if a in dist:
                new[b] = min(new.get(b, dist[a] + w), dist[a] + w)
        dist = new
    return dist


@pytest.mark.parametrize("seed", range(20))
def test_fixpoint_operators_match_python_references(spark, seed):
    """Both CC algorithms, k_core, bfs_hops and sssp_bounded against
    union-find, peeling, BFS and bounded Bellman-Ford on a random graph."""
    from snowflake_stock_dbt_spark.operators.graph import (
        bfs_hops,
        k_core,
        sssp_bounded,
    )

    rng = random.Random(1000 + seed)
    edges, ids = _random_graph(seed)
    edf = spark.createDataFrame(edges, "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in ids], "id long")
    with_verts = seed % 2 == 0
    want = _py_components(edges, ids if with_verts else [])
    for algorithm in ("label-prop", "two-phase"):
        got = _cc_dict(connected_components(
            edf, vertices=verts if with_verts else None, algorithm=algorithm
        ))
        assert got == want, algorithm

    k = rng.randint(1, 3)
    got = {r["node_id"]: r["core_degree"] for r in k_core(edf, k=k).collect()}
    assert got == _py_k_core(edges, k), k

    seeds = rng.sample(ids, 2)
    sdf = spark.createDataFrame([(s,) for s in seeds], "id long")
    max_hops = rng.randint(1, 4)
    got = {r["id"]: r["hop"] for r in bfs_hops(edf, sdf, max_hops).collect()}
    assert got == _py_bfs(edges, seeds, max_hops)

    wedges = [(a, b, rng.randint(0, 9)) for a, b in edges]
    wdf = spark.createDataFrame(wedges, "u long, v long, w long")
    rounds = rng.randint(1, 5)
    got = {r["id"]: r["cost"] for r in sssp_bounded(wdf, sdf, rounds).collect()}
    assert got == _py_bellman_ford(wedges, seeds, rounds)


def test_label_prop_raises_when_rounds_run_out(spark):
    """A 10-node chain needs 9 label-prop rounds: with max_iter=3 the
    operator must raise, not return unconverged labels."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=3)


def test_connected_components_job_count(spark):
    """Label-prop CC materializes the initial labels and each round with
    one checkpoint apiece; the vertex count and every convergence probe
    ride on those checkpoints' own jobs. On this graph that is 22 jobs
    (the job-id delta also counts AQE stage and broadcast jobs); a
    separate vertex-count job made it 24."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(10, 11)], "src long, dst long"
    )
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first = scheduler.nextJobId()
    stats: dict = {}
    labels = connected_components(edges, _stats=stats)
    jobs = scheduler.nextJobId() - first
    assert jobs <= 22, jobs
    assert stats["rounds"] == 5
    assert _cc_dict(labels) == {i: 0 for i in range(6)} | {10: 10, 11: 10}
