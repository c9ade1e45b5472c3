"""[EXT] Graph operators: connected components for near-dup group
formation, k-core peeling, frontier BFS, bounded shortest paths, and the
lazy-round centralities (PageRank, HITS, label propagation).

A dedup pipeline needs more than candidate pairs (MinHash-LSH, SimHash):
the pairs form a graph whose CONNECTED COMPONENTS are the duplicate
clusters, and the keep/drop decision is made per cluster (keep the min-id
doc, drop the rest). No reference analog (the reference's only dedup is a
keyed latest-wins, sql/02_load_data.sql:109-112); this derives from the
BASELINE.json north star.

Every operator that iterates to a fixpoint or to a round budget (both
connected-components algorithms, ``k_core``, ``bfs_hops``,
``sssp_bounded``) runs one loop, :func:`_fixpoint`: each round is a lazy
``step`` materialized by one eager ``localCheckpoint`` (truncating the
lineage, or round N would replan rounds 1..N-1), and that same job
computes the round's signature through ``observe``, so probing
convergence costs no job of its own. The loop stops when the signature
repeats. Out of rounds, a fixpoint operator (either CC algorithm,
``k_core``) raises ``RuntimeError``; a bounded one (``bfs_hops``,
``sssp_bounded``) returns its state at the budget, as its contract says.

At 100 TB: the label frame is |V| rows (one per doc in any candidate
pair), edges |E| rows; both shuffle-partition by id. For pathological
diameters use the alternating large-star/small-star variant (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) — same
primitive ops, O(log²) rounds; near-dup graphs never need it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# Frames of at most this many vertices are broadcast to the edges each
# round instead of shuffling the edge table; past it the joins fall back
# to ordinary shuffles (the general-scale path).
_BROADCAST_MAX_NODES = 5_000_000


def _checkpoint(df: DataFrame, *aggs: Column) -> tuple[DataFrame, tuple]:
    """``df`` materialized by one eager ``localCheckpoint``, and the values
    of ``aggs`` over it, computed by that same job through ``observe``."""
    obs = Observation()
    out = df.observe(obs, *aggs).localCheckpoint()
    return out, tuple(obs.get.values())


def _fixpoint(
    state: DataFrame,
    sig: tuple,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    *signature: Column,
) -> tuple[DataFrame, int, bool]:
    """Iterate ``state = step(state, r)`` for r = 1..``rounds``, each round
    checkpointed with its ``signature`` observed (:func:`_checkpoint`);
    ``state`` comes materialized with ``sig``, its signature values.

    Returns (state, rounds that changed it, converged): converged when a
    round's signature repeats the previous one, which ends the loop."""
    for r in range(1, rounds + 1):
        state, new = _checkpoint(step(state, r), *signature)
        if new == sig:
            return state, r - 1, True
        sig = new
    return state, rounds, False


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Each undirected edge once, as (u, v) with u <= v; a self-loop stays
    as (u, u)."""
    return edges.select(
        F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v")
    ).distinct()


def _vertices(
    e: DataFrame, vertices: DataFrame | None = None, id_col: str = "id"
) -> DataFrame:
    """Distinct ``id`` of every endpoint of the (u, v) edges ``e``, plus the
    ``id_col`` of ``vertices`` when given. One single-branch explode, not
    a union of two projections of ``e`` (the self-union hazard below)."""
    ids = e.select(F.explode(F.array("u", "v")).alias("id"))
    if vertices is not None:
        ids = ids.union(vertices.select(F.col(id_col).alias("id")))
    return ids.distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 25,
    algorithm: str = "label-prop",
    _stats: dict | None = None,
) -> DataFrame:
    """(id, component) for every vertex; component = min vertex id in its
    connected component.

    ``vertices`` (optional) adds isolated vertices — rows whose id appears
    in no edge keep ``component = id``. Deterministic for any edge input.

    ``algorithm``:

    - ``"label-prop"`` (default): min-label propagation, rounds = graph
      diameter — the right choice for near-dup graphs (dense cliques,
      tiny diameter).
    - ``"two-phase"``: alternating large-star/small-star (Kiveris et
      al., "Connected Components in MapReduce and Beyond", SoCC'14) —
      O(log²) rounds on ANY topology, the escape hatch for pathological
      diameters (a length-n chain needs n label-prop rounds but ~log²
      two-phase rounds; measured in tests/test_graph.py and PLANS.md).

    Both produce identical labels (min id per component) and raise
    ``RuntimeError`` when ``max_iter`` rounds end unconverged. ``_stats``
    (optional dict) receives ``{"rounds": N}``, the rounds that changed
    the state, for probe tests.
    """
    if algorithm == "two-phase":
        labels, rounds, converged = _cc_two_phase(
            edges, src, dst, vertices, id_col, max_iter
        )
    elif algorithm == "label-prop":
        labels, rounds, converged = _cc_label_prop(
            edges, src, dst, vertices, id_col, max_iter
        )
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}")
    if not converged:
        raise RuntimeError(
            f"{algorithm} connected components did not converge in "
            f"{max_iter} rounds"
        )
    if _stats is not None:
        _stats["rounds"] = rounds
    return labels


def _cc_label_prop(
    edges: DataFrame,
    src: str,
    dst: str,
    vertices: DataFrame | None,
    id_col: str,
    max_iter: int,
) -> tuple[DataFrame, int, bool]:
    """Min-label propagation: every vertex starts labeled with itself; each
    round every vertex takes the min label over itself and its neighbors
    (one join + one aggregation, both shuffling on the vertex id). Labels
    only fall, so an unchanged (count, sum) signature is an unchanged
    labeling.

    The label frame is |V| rows; when the vertex count (observed by the
    initial checkpoint) is broadcast-sized, each round ships labels to
    the edges instead of shuffling the edge table — same adaptive choice
    as :func:`pagerank`."""
    # Persisted BEFORE the initial labels are derived from it: the labels
    # and every round read it, and an unpersisted edge frame would re-run
    # the caller's upstream pipeline for each.
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .persist()
    )
    signature = (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("component").cast("decimal(38,0)")).alias("s"),
    )
    labels, sig = _checkpoint(
        _vertices(sym, vertices, id_col).withColumn("component", F.col("id")),
        *signature,
    )
    bcast = F.broadcast if sig[0] <= _BROADCAST_MAX_NODES else (lambda df: df)

    def step(labels: DataFrame, _r: int) -> DataFrame:
        # Labels flowing across edges: each neighbor's current component.
        flowed = sym.join(bcast(labels), sym.v == labels.id).select(
            F.col("u").alias("id"), "component"
        )
        return (
            labels.union(flowed)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )

    out = _fixpoint(labels, sig, step, max_iter, *signature)
    sym.unpersist()
    return out


def _cc_two_phase(
    edges: DataFrame,
    src: str,
    dst: str,
    vertices: DataFrame | None,
    id_col: str,
    max_iter: int,
) -> tuple[DataFrame, int, bool]:
    """Alternating large-star/small-star connected components.

    Per round (both stars are one keyed agg + one equi-join, shuffling
    on the node id — the same primitives as label propagation, just a
    different rewiring rule):

    - **large-star**: every node u connects its strictly-LARGER
      neighbors to m(u) = min(Γ(u) ∪ {u});
    - **small-star**: with every edge oriented big→small, u connects its
      (smaller) neighbors and itself to the minimum.

    The edge set contracts toward flat stars rooted at each component's
    minimum in O(log²) rounds regardless of diameter (Kiveris et al.
    SoCC'14, Thm 2). Convergence = edge multiset unchanged, detected
    with a count + hash-sum signature (one aggregation — no |E|⋈|E|
    set-compare). The first round drops self-loops; the initial frame
    keeps them, so it still holds every vertex for the final labeling,
    and the signature skips them, so an input that is already flat stars
    converges in the first round.
    """
    edge = F.col("u") != F.col("v")
    signature = (
        F.count(F.when(edge, 1)).alias("n"),
        F.sum(F.when(edge, F.xxhash64("u", "v")).cast("decimal(38,0)")).alias("h"),
    )
    e0, sig = _checkpoint(_undirected(edges, src, dst), *signature)

    def large_star(d: DataFrame) -> DataFrame:
        # Symmetrize via a single-branch struct explode, NOT a union with
        # a swapped self-projection — self-unions over the checkpointed
        # loop state hit the shared-lineage attribute mis-binding
        # documented in PLANS.md round-4 journal item 15 (k_core's
        # degree computation was the observed casualty).
        sym = d.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("p")
        ).select("p.u", "p.v")
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        return (
            sym.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
            )
            .distinct()
        )

    def small_star(d: DataFrame) -> DataFrame:
        big = d.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = big.groupBy("u").agg(F.min("v").alias("m"))
        rewired = (
            big.join(m, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(m.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
        )
        return rewired.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        ).distinct()

    e, rounds, converged = _fixpoint(
        e0, sig, lambda d, _r: small_star(large_star(d)), max_iter, *signature
    )

    # Converged state: flat stars (child > center edges). Children label
    # with their center; centers and isolated vertices label themselves.
    child = e.select(
        F.col("v").alias("id"), F.col("u").alias("component")
    ).union(e.select(F.col("u").alias("id"), F.col("v").alias("component")))
    child = (
        child.groupBy("id").agg(F.min("component").alias("component"))
        .where(F.col("component") < F.col("id"))
    )
    labels = _vertices(e0, vertices, id_col).join(child, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
    return labels, rounds, converged


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    _stats: dict | None = None,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph in which
    every node has degree >= k (spam/bot-ring detection, community
    seeding — the standard graph-mining density primitive).

    Synchronous distributed peeling: each round removes EVERY node whose
    current degree is below k (one keyed degree aggregation + two
    semi-joins restricting the edge list), until no node qualifies. The
    fixpoint is the canonical k-core — provably independent of removal
    order — which is what makes a SQL replay oracle-exact: any unrolled
    peeling that reaches convergence produces the identical node set.
    Rounds are bounded by the longest peeling cascade (typically a
    handful; the degree distribution collapses geometrically), each
    round is one checkpoint, truncating the lineage. Edges only
    leave, so an unchanged edge count is the fixpoint. Returns
    (node_id, core_degree) — degree WITHIN the core. Raises after
    ``max_iter`` non-converged rounds rather than returning a
    non-fixpoint; ``_stats`` receives the peeling rounds that removed
    something."""

    def degrees(d: DataFrame) -> DataFrame:
        # Single-branch endpoint explode (the triangle_counts idiom) —
        # NOT a union with a swapped self-projection: self-unions over a
        # checkpointed/semi-joined frame hit the shared-lineage attribute
        # mis-binding of PLANS.md round-4 journal item 15 (observed here
        # as degree(node1)=6 on a 4-clique and over-peeling to empty).
        return (
            d.select(F.explode(F.array("u", "v")).alias("n"))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )

    def peel(e: DataFrame, _r: int) -> DataFrame:
        keep = degrees(e).where(F.col("d") >= k).select(F.col("n").alias("u"))
        return e.join(keep, "u", "left_semi").join(
            keep.select(F.col("u").alias("v")), "v", "left_semi"
        )

    n_edges = F.count(F.lit(1)).alias("n")
    e, sig = _checkpoint(
        _undirected(edges, src, dst).where(F.col("u") < F.col("v")), n_edges
    )
    e, rounds, converged = _fixpoint(e, sig, peel, max_iter, n_edges)
    if not converged:
        raise RuntimeError(f"k-core did not converge in {max_iter} rounds")
    if _stats is not None:
        _stats["rounds"] = rounds
    return degrees(e).select(
        F.col("n").alias("node_id"), F.col("d").cast("long").alias("core_degree")
    )


def neardup_components(
    pairs: DataFrame,
    all_docs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
    algorithm: str = "label-prop",
) -> DataFrame:
    """Duplicate clusters from candidate pairs: every document labeled with
    its cluster representative (min doc_id; singletons label themselves),
    plus the cluster size — the direct input to a keep-one-per-cluster
    filter (``keep = doc_id == component``). ``algorithm`` passes through
    to :func:`connected_components` (label-prop for tiny-diameter
    near-dup cliques; two-phase for chain-prone graphs like q178's
    thresholded k-NN edges — measured 11.5s vs 4.9s there)."""
    cc = connected_components(
        pairs, src=pair_a, dst=pair_b, vertices=all_docs, id_col=id_col,
        algorithm=algorithm,
    )
    sizes = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("id").alias(id_col),
            "component",
            "cluster_size",
            (F.col("id") == F.col("component")).alias("is_keeper"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    edges_distinct: bool = False,
) -> DataFrame:
    """(id, rank) after ``iters`` synchronous PageRank iterations.

    Per round: every vertex sends rank/outdegree along its out-edges; the
    incoming contributions are summed and damped. One join + one keyed
    aggregation per round (both shuffle on the vertex id, like connected
    components above), with ``localCheckpoint`` truncating the lineage.

    Determinism: the per-edge contribution (rank/outdegree, an IEEE double)
    is quantized to a fixed 1e-12 grid with FLOOR before summing — floor of
    a double is unambiguous on every engine (no decimal rounding-mode
    dependence; a straight double->DECIMAL(38,18) cast differs by 1-2 ulp
    between Spark and DuckDB because Spark casts via the double's shortest
    string form), and the integer-grid sum is exact, so the incoming-sum is
    order/partitioning independent and bit-identical across engines and
    cluster sizes. The quantization error (≤1e-12 per edge) is far below
    any ranking-relevant difference.

    The vertex count is observed once at setup, by the vertex frame's own
    checkpoint job; a fixed scalar beats re-deriving |V| with a broadcast
    join every round.

    Release contract: the edge frames stay persisted after the caller's
    action until ``release_persisted_frames()`` or ``clearCache()``.
    """
    from .similarity import register_persisted

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not edges_distinct:
        # Skip when the caller guarantees distinctness — this is a full
        # shuffle of the edge table.
        e = e.distinct()
    # Registry-persisted (not unpersisted here): the lazy round chain
    # below references ew once per round and only executes at the
    # CALLER's action, after this function returned — an in-function
    # unpersist would force the weighted edge build to recompute every
    # round. Harnesses release via release_persisted_frames/clearCache.
    e = register_persisted(e)
    deg = e.groupBy("u").agg(F.count("*").alias("deg"))
    # Attach the out-degree to each edge ONCE — the per-round work is then
    # a single join (weighted edges ⋈ ranks), not two.
    ew = register_persisted(e.join(deg, "u"))
    nodes, (n,) = _checkpoint(_vertices(e), F.count(F.lit(1)).alias("n"))
    # The rank and incoming-sum frames are |V| rows. When |V| is known
    # (just observed) to be broadcast-sized, ship them to the edges
    # instead of shuffling the edge table every round — the per-round cost
    # drops to one map-side-combined aggregation. Past the threshold the
    # joins fall back to ordinary shuffles (the general-scale path).
    bcast = F.broadcast if n <= _BROADCAST_MAX_NODES else (lambda df: df)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    teleport = (1.0 - damping) / n
    # The round recurrence is LINEAR — each round's ranks frame is
    # consumed exactly once (by the next round's contribution join) — so
    # nothing is ever recomputed without materialization. A per-round
    # eager localCheckpoint therefore bought only lineage truncation, at
    # the price of one scheduled job + block write/read per round (plus
    # its AQE stage jobs). Rounds now stay lazy and the whole loop
    # executes as ONE query; a checkpoint fires only every 4th round to
    # bound plan depth for large ``iters`` (opt r12, guide §2.4/§1.2 —
    # fewer actions, same shuffles; q93 isolated A/B in
    # OPTIMIZATION_r12.md).
    for i in range(iters):
        contrib = ew.join(bcast(ranks), ew.u == ranks.id).select(
            F.col("v"),
            (F.col("rank") / F.col("deg")).alias("c"),
        )
        quantized = F.floor(F.col("c") * F.lit(1e12)).cast("decimal(38,0)")
        in_sum = contrib.groupBy("v").agg(
            (F.sum(quantized).cast("double") / F.lit(1e12)).alias("s")
        )
        ranks = nodes.join(bcast(in_sum), nodes.id == in_sum.v, "left").select(
            "id",
            (
                F.lit(teleport)
                + F.lit(damping) * F.coalesce("s", F.lit(0.0))
            ).alias("rank"),
        )
        if i % 4 == 3 and i != iters - 1:
            ranks = ranks.localCheckpoint()
    return ranks


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation.

    The naive wedge join is O(sum deg²) — one celebrity node makes it
    quadratic. Orienting every edge from its lower-(degree, id) endpoint
    to the higher one bounds each node's OUT-degree by O(sqrt(|E|))
    (graph arboricity), so the wedge join is O(|E|^1.5) worst case — the
    standard distributed triangle algorithm (Suri & Vassilvitskii's
    MR-style "Counting triangles and the curse of the last reducer").

    ``edges``: undirected, one row per edge, any orientation, no
    self-loops required to be absent (they are dropped). Returns
    (node_id, n_triangles) for nodes in at least one triangle.

    Plan: 2 keyed aggs (degrees, final count) + 2 equi-joins (wedge
    close), all broadcast-free and partitioned on join keys.
    """
    e = _undirected(edges, src, dst).where(F.col("u") < F.col("v"))
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    # rank = deg * 2^32 + id: one sortable key for the (degree, id) order.
    rank = deg.select(
        "n", (F.col("deg") * F.lit(2**32) + F.col("n")).alias("r")
    )
    du = rank.select(F.col("n").alias("u"), F.col("r").alias("ru"))
    dv = rank.select(F.col("n").alias("v"), F.col("r").alias("rv"))
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(F.col("ru") < F.col("rv"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("lo"),
            F.when(F.col("ru") < F.col("rv"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("hi"),
            F.least("ru", "rv").alias("rlo"),
            F.greatest("ru", "rv").alias("rhi"),
        )
    )
    a = oriented.select(
        F.col("lo").alias("s"), F.col("hi").alias("x"), F.col("rhi").alias("rx")
    )
    b = oriented.select(
        F.col("lo").alias("s"), F.col("hi").alias("y"), F.col("rhi").alias("ry")
    )
    wedges = a.join(b, "s").where(F.col("rx") < F.col("ry"))
    closing = oriented.select(
        F.col("lo").alias("x"), F.col("hi").alias("y")
    )
    tris = wedges.join(closing, ["x", "y"]).select("s", "x", "y")
    return (
        tris.select(F.explode(F.array("s", "x", "y")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
) -> DataFrame:
    """(id, hub, authority) after ``iters`` synchronous HITS iterations
    (Kleinberg 1999) on a DIRECTED edge set — the hubs-and-authorities
    companion to :func:`pagerank` (mutual reinforcement: a good hub
    points at good authorities; a good authority is pointed at by good
    hubs).

    Per half-round: one join (edges ⋈ scores on the sending endpoint) +
    one keyed aggregation on the receiving endpoint — the same shuffle
    shape as a PageRank round, two of them per iteration.

    Determinism (the pagerank recipe, plus max-normalization): every
    per-edge contribution is FLOOR-quantized to the 1e-12 grid before
    summing (floor of a double is unambiguous on every engine; the
    integer sums are exact), and each half-round normalizes by the MAX
    per-node integer score instead of the L2/L1 norm — the max of exact
    ints is exact, and int/int double division is correctly rounded
    identically everywhere, so the whole iteration is bit-reproducible
    and carries a full value oracle (normalization choice is free in
    HITS: any positive scaling preserves the fixed-point direction).
    Per-node integer scores stay below 2^53 while max in-degree x 1e12
    does — at extreme fan-in, lower the grid (1e9) to keep the argument.
    """
    if iters < 1:
        raise ValueError(f"hits() needs iters >= 1, got {iters}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    e = e.persist()
    nodes = _vertices(e).localCheckpoint()
    hub = nodes.withColumn("score", F.lit(1.0))

    def half_round(scores: DataFrame, send: str, recv: str) -> DataFrame:
        """Push ``scores`` (keyed by node id) along edges from ``send``
        to ``recv``; return max-normalized receiving-side scores."""
        contrib = e.join(
            scores.withColumnRenamed("id", send), send
        ).select(
            F.col(recv).alias("id"),
            F.floor(F.col("score") * F.lit(1e12)).cast("decimal(38,0)").alias("q"),
        )
        # Materialize the INTEGER sums, not the normalized output: the
        # max-normalization consumes ``ints`` twice (the broadcast max
        # and the division), so without a cut the join+agg subtree ran
        # twice per half-round — and each half-round's checkpoint sat
        # one operator too late to stop it (opt r12, guide §1.2). The
        # normalized frame itself is consumed exactly once (by the next
        # half-round's join), so it stays lazy.
        ints = (
            contrib.groupBy("id")
            .agg(F.sum("q").alias("s_int"))
            .localCheckpoint()
        )
        m = ints.agg(F.max("s_int").alias("m_int"))
        return ints.crossJoin(F.broadcast(m)).select(
            "id",
            (
                F.col("s_int").cast("double")
                / F.col("m_int").cast("double")
            ).alias("score"),
        )

    auth = None
    for _ in range(iters):
        auth = half_round(hub, "u", "v")
        hub = half_round(auth, "v", "u")
    out = (
        nodes.join(auth.withColumnRenamed("score", "authority"), "id", "left")
        .join(hub.withColumnRenamed("score", "hub"), "id", "left")
        .select(
            "id",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )
    e.unpersist()
    return out


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """(id, community) after ``iters`` SYNCHRONOUS label-propagation
    rounds (Raghavan 2007): each node adopts the most frequent label
    among its neighbors, ties broken by the smallest label — which makes
    the update a pure function of the previous round's labels, so the
    result is deterministic (asynchronous LPA is famously order-
    dependent; the synchronous+min-tie-break variant is the one that can
    carry a value oracle). Communities complement connected components:
    CC finds *reachability*, LPA finds *density* inside one component.

    Per round: one join (edges x labels on the sending endpoint) + one
    (node, label) count agg + one per-node argmax window — all keyed on
    vertex id, the pagerank shuffle shape; rounds stay lazy (linear
    recurrence) with a lineage-bounding checkpoint every 4th round.

    Release contract: the edge frame stays persisted after the caller's
    action until ``release_persisted_frames()`` or ``clearCache()``.
    """
    from .similarity import register_persisted

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    # Registry-persisted (not unpersisted here): the lazy round chain
    # references e once per round and executes at the CALLER's action,
    # after this function returned (see pagerank).
    e = register_persisted(e)
    nodes = _vertices(e).localCheckpoint()
    labels = nodes.withColumn("label", F.col("id"))
    # Nodes with NO in-edges can never receive a contribution, so their
    # per-round fallback label is always their own id — a STATIC frame.
    # Computing it once turns the old per-round nodes⋈picked left join
    # (a full-vertex-set shuffle per round) into a shuffle-free union:
    # every receiver appears in `picked` every round (each in-edge
    # contributes each round), so picked ∪ static covers all vertices.
    static = (
        nodes.join(
            e.select(F.col("v").alias("id")).distinct(), "id", "left_anti"
        )
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    # Each round's labels frame is consumed exactly ONCE (next round's
    # contribution join), so the recurrence is linear and rounds stay
    # LAZY — the whole loop executes as one query instead of one eager
    # checkpoint job (plus AQE stage jobs) per round; a checkpoint fires
    # only every 4th round to bound plan depth for large ``iters``
    # (opt r12, guide §2.4/§1.2; q204 isolated A/B in
    # OPTIMIZATION_r12.md).
    for i in range(iters):
        contrib = e.join(
            labels.withColumnRenamed("id", "u"), "u"
        ).select(F.col("v").alias("id"), "label")
        counts = contrib.groupBy("id", "label").agg(
            F.count("*").alias("c")
        )
        # Argmax by (count desc, label asc) as min(struct(-c, label)) —
        # lexicographic struct min is the same pick as the old
        # row_number window but PARTIAL-AGGREGATABLE: the window
        # repartitioned by id and SORTED every (id, label) row; the
        # struct-min combines map-side and never sorts (round-6 A/B,
        # PLANS.md: isolated medians 5.58 -> see table).
        picked = (
            counts.groupBy("id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"),
                        F.col("label").alias("label"),
                    )
                ).alias("m")
            )
            .select("id", F.col("m.label").alias("label"))
        )
        labels = picked.unionByName(static)
        if i % 4 == 3 and i != iters - 1:
            labels = labels.localCheckpoint()
    return labels.select("id", F.col("label").alias("community"))


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """(id, hop) — minimum number of edges from any seed vertex, for
    every vertex reachable within ``max_hops`` (seeds themselves at hop
    0). Multi-source frontier BFS, the reachability primitive under
    "within N hops of X" questions (supply-chain blast radius, fraud
    neighborhoods, k-hop feature extraction for graph ML).

    Frontier algorithm: round ``d`` expands only the visited rows with
    ``hop == d-1`` (one equi-join edges⋈frontier on the source
    endpoint), then anti-joins the visited set so each vertex is stamped
    exactly once, at its first (= minimum) hop — no per-vertex min agg
    over all paths is ever materialized, unlike the naive "expand
    everything and MIN()" formulation whose intermediate grows with path
    multiplicity. The visited count is the round signature, so the loop
    ends at the first round that reaches no new vertex, or at
    ``max_hops``.

    At 100 TB: each round shuffles |frontier⋈edges| rows keyed on vertex
    id — the pagerank shuffle shape, but only on the expanding wavefront,
    so the join work is O(|E| reached) across all rounds, not O(|E| x
    rounds). The visited set stays (id, hop) — two longs per reached
    vertex.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .persist()
    )

    def expand(visited: DataFrame, d: int) -> DataFrame:
        frontier = visited.where(F.col("hop") == d - 1).select(
            F.col("id").alias("u")
        )
        fresh = (
            e.join(frontier, "u")
            .select(F.col("v").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
        )
        return visited.unionByName(
            fresh.withColumn("hop", F.lit(d).cast("int"))
        )

    n_visited = F.count(F.lit(1)).alias("n")
    visited, sig = _checkpoint(
        seeds.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn("hop", F.lit(0).cast("int")),
        n_visited,
    )
    visited, _, _ = _fixpoint(visited, sig, expand, max_hops, n_visited)
    e.unpersist()
    return visited


def sssp_bounded(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "u",
    dst: str = "v",
    weight: str = "w",
    id_col: str = "id",
) -> DataFrame:
    """(id, cost) — minimum path cost from any seed using at most
    ``rounds`` edges: Bellman-Ford relaxation on the min-plus semiring,
    the weighted counterpart of :func:`bfs_hops`. Costs must be
    non-negative integers (or any exactly-representable type) for the
    result to carry a value oracle.

    Each round relaxes every edge out of the current reach set (one
    equi-join on the source endpoint) and folds with MIN keyed on the
    vertex id — after round r, cost(id) is exactly the cheapest path
    using <= r edges, which is the invariant the unrolled-CTE oracle
    replays. Costs only fall and rows only arrive, so an unchanged
    (count, sum(cost)) signature means no path improved and the loop
    ends before the budget.

    At 100 TB: the reach frame is (id, cost) — two longs per reached
    vertex; each round shuffles |reach ⋈ edges| + |reach| rows keyed on
    vertex id (the pagerank shape on the expanding wavefront).
    """
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
    ).persist()

    def relax(dist: DataFrame, _r: int) -> DataFrame:
        relaxed = e.join(dist.withColumnRenamed("id", "u"), "u").select(
            F.col("v").alias("id"),
            (F.col("cost") + F.col("w")).cast("long").alias("cost"),
        )
        return (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("cost").alias("cost"))
        )

    signature = (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cost").cast("decimal(38,0)")).alias("s"),
    )
    dist, sig = _checkpoint(
        seeds.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn("cost", F.lit(0).cast("long")),
        *signature,
    )
    dist, _, _ = _fixpoint(dist, sig, relax, rounds, *signature)
    e.unpersist()
    return dist
