"""[EXT] Iterative graph operators: connected components for near-dup
group formation.

A dedup pipeline needs more than candidate pairs (MinHash-LSH, SimHash):
the pairs form a graph whose CONNECTED COMPONENTS are the duplicate
clusters, and the keep/drop decision is made per cluster (keep the min-id
doc, drop the rest). No reference analog (the reference's only dedup is a
keyed latest-wins, sql/02_load_data.sql:109-112); this derives from the
BASELINE.json north star.

Algorithm: distributed label propagation — every vertex starts labeled
with itself; each round every vertex takes the min label over itself and
its neighbors; stop when no label changes. Rounds = graph diameter, which
for near-dup clusters is tiny (clusters are dense cliques plus chains).
Each round is one join + one aggregation — both plain DataFrame ops that
shuffle on the vertex id, so a round scales like any keyed aggregation.
``localCheckpoint`` truncates the growing lineage every round (the classic
iterative-algorithm trap: without it, round N replans rounds 1..N-1).

At 100 TB: the label frame is |V| rows (one per doc in any candidate
pair), edges |E| rows; both shuffle-partition by id. For pathological
diameters use the alternating large-star/small-star variant (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) — same
primitive ops, O(log²) rounds; near-dup graphs never need it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 25,
    broadcast_max_nodes: int = 5_000_000,
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

    Both produce identical labels (min id per component). ``_stats``
    (optional dict) receives ``{"rounds": N}`` for probe tests.

    The label frame is |V| rows; when the (driver-counted) vertex count is
    broadcast-sized, each round ships labels to the edges instead of
    shuffling the edge table — same adaptive choice as :func:`pagerank`.
    Past the threshold the join falls back to an ordinary shuffle.
    """
    if algorithm == "two-phase":
        return _cc_two_phase(
            edges, src, dst, vertices, id_col, max_iter, _stats
        )
    if algorithm != "label-prop":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    labels = sym.select(F.col("a").alias("id")).distinct()
    if vertices is not None:
        labels = labels.union(
            vertices.select(F.col(id_col).alias("id"))
        ).distinct()
    labels = labels.withColumn("component", F.col("id")).localCheckpoint()
    small = labels.count() <= broadcast_max_nodes
    bcast = F.broadcast if small else (lambda df: df)

    for _ in range(max_iter):
        # Labels flowing across edges: neighbor's current component.
        flowed = (
            sym.join(bcast(labels), sym.b == labels.id)
            .select(F.col("a").alias("id"), "component", F.lit(False).alias("is_old"))
        )
        # The vertex's previous label rides along tagged is_old, so the same
        # min-aggregation yields both the new label and the old one —
        # and convergence detection is FUSED into the checkpoint's own
        # materialization job via observe() (CollectMetrics fires on the
        # eager localCheckpoint action), so each round costs ONE job, not
        # a checkpoint plus a changed-count scan (optimization r12,
        # VERDICT r11 item 5).
        obs = Observation()
        merged = (
            labels.select("id", "component", F.lit(True).alias("is_old"))
            .union(flowed)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("is_old"), F.col("component"))).alias(
                    "old_component"
                ),
            )
            .observe(
                obs,
                F.count(
                    F.when(F.col("component") != F.col("old_component"), 1)
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        changed = obs.get["changed"]
        labels = merged.select("id", "component")
        if changed == 0:
            break
    sym.unpersist()
    return labels


def _cc_two_phase(
    edges: DataFrame,
    src: str,
    dst: str,
    vertices: DataFrame | None,
    id_col: str,
    max_iter: int,
    _stats: dict | None,
) -> DataFrame:
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
    set-compare). Raises after ``max_iter`` non-converged rounds rather
    than returning partial labels.
    """
    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )

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

    def signature(d: DataFrame):
        row = d.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def checkpoint_with_signature(d: DataFrame):
        # Convergence signature FUSED into the checkpoint job (observe
        # fires on the eager localCheckpoint): one job per round instead
        # of checkpoint + signature scan (optimization r12).
        obs = Observation()
        out = d.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).localCheckpoint()
        m = obs.get
        return out, (m["n"], m["h"])

    sig = signature(e)
    rounds = 0
    for _ in range(max_iter):
        if sig[0] == 0:
            break
        e, new_sig = checkpoint_with_signature(small_star(large_star(e)))
        rounds += 1
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"two-phase connected components did not converge in "
            f"{max_iter} rounds"
        )
    if _stats is not None:
        _stats["rounds"] = rounds

    # Converged state: flat stars (child > center edges). Children label
    # with their center; centers and isolated vertices label themselves.
    child = e.select(
        F.col("v").alias("id"), F.col("u").alias("component")
    ).union(e.select(F.col("u").alias("id"), F.col("v").alias("component")))
    child = (
        child.groupBy("id").agg(F.min("component").alias("component"))
        .where(F.col("component") < F.col("id"))
    )
    nodes = e.select(F.col("u").alias("id")).union(
        e.select(F.col("v").alias("id"))
    )
    if vertices is not None:
        nodes = nodes.union(vertices.select(F.col(id_col).alias("id")))
    nodes = nodes.distinct()
    return nodes.join(child, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


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
    round is 2 shuffles, and lineage is truncated per round. Returns
    (node_id, core_degree) — degree WITHIN the core. Raises after
    ``max_iter`` non-converged rounds rather than returning a
    non-fixpoint."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )

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

    rounds = 0
    for _ in range(max_iter):
        # The below-k convergence probe is FUSED into keep's own
        # materialization (observe over the degree stream BEFORE the
        # filter, metrics delivered by the eager localCheckpoint job):
        # two jobs per round instead of three, and the final converged
        # round costs one (optimization r12, VERDICT r11 item 5). keep
        # derives from e itself — checkpointed BEFORE semi-joining back
        # so the join's binding is unambiguous (same hazard family as
        # the degree explode above).
        obs = Observation()
        keep = (
            degrees(e)
            .observe(
                obs, F.count(F.when(F.col("d") < k, 1)).alias("n_below")
            )
            .where(F.col("d") >= k)
            .select(F.col("n").alias("u"))
            .localCheckpoint()
        )
        if obs.get["n_below"] == 0:
            break
        e = (
            e.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .localCheckpoint()
        )
        rounds += 1
    else:
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
    broadcast_max_nodes: int = 5_000_000,
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

    The vertex count is collected once at setup (one count job); a fixed
    scalar beats re-deriving |V| with a broadcast join every round.

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
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    # The rank and incoming-sum frames are |V| rows. When |V| is known
    # (we just counted it) to be broadcast-sized, ship them to the edges
    # instead of shuffling the edge table every round — the per-round cost
    # drops to one map-side-combined aggregation. Past the threshold the
    # joins fall back to ordinary shuffles (the general-scale path).
    small = n <= broadcast_max_nodes
    bcast = F.broadcast if small else (lambda df: df)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()
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
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
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
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    hub = nodes.withColumn("score", F.lit(1.0)).localCheckpoint()

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
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    labels = nodes.withColumn("label", F.col("id")).localCheckpoint()
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

    Frontier algorithm: round ``d`` expands only the vertices first
    reached at ``d-1`` (one equi-join edges⋈frontier on the source
    endpoint), then anti-joins the visited set so each vertex is stamped
    exactly once, at its first (= minimum) hop — no per-vertex min agg
    over all paths is ever materialized, unlike the naive "expand
    everything and MIN()" formulation whose intermediate grows with path
    multiplicity. ``localCheckpoint`` truncates lineage per round (the
    iterative-algorithm trap, see module docstring).

    At 100 TB: each round shuffles |frontier⋈edges| rows keyed on vertex
    id — the pagerank shuffle shape, but only on the expanding wavefront,
    so total work is O(|E| reached) across all rounds, not O(|E| x
    rounds). The visited set stays (id, hop) — two longs per reached
    vertex.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .persist()
    )
    visited = (
        seeds.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn("hop", F.lit(0).cast("int"))
        .localCheckpoint()
    )
    frontier = visited.select("id")
    for d in range(1, max_hops + 1):
        reached = (
            e.join(frontier.withColumnRenamed("id", "u"), "u")
            .select(F.col("v").alias("id"))
            .distinct()
        )
        fresh = (
            reached.join(visited, "id", "left_anti")
            .withColumn("hop", F.lit(d).cast("int"))
            .localCheckpoint()
        )
        # visited stays a UNION of the per-round checkpointed leaves
        # (≤ max_hops distinct LogicalRDDs — no shared lineage, so the
        # round-4 self-union mis-binding hazard doesn't apply, and the
        # plan depth is bounded by the hop budget): one action per round
        # instead of two (optimization r12, VERDICT r11 item 5).
        visited = visited.unionByName(fresh)
        frontier = fresh.select("id")
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
    replays. ``localCheckpoint`` truncates lineage between rounds.

    At 100 TB: the reach frame is (id, cost) — two longs per reached
    vertex; each round shuffles |reach ⋈ edges| + |reach| rows keyed on
    vertex id (the pagerank shape on the expanding wavefront).
    """
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
    ).persist()
    dist = (
        seeds.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn("cost", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        relaxed = e.join(dist.withColumnRenamed("id", "u"), "u").select(
            F.col("v").alias("id"),
            (F.col("cost") + F.col("w")).cast("long").alias("cost"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint()
        )
    e.unpersist()
    return dist
