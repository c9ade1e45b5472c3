"""[EXT] Similarity search over an embedding column (array<float>).

Not in the reference (SURVEY.md flags similarity search as a north-star
extension). Three operators:

- :func:`cosine_topk_exact` — brute-force top-k with exact-decimal dot
  products (posexplode + join on position + decimal sums). Deterministic on
  every engine; the oracle-checked baseline.
- :func:`cosine_topk_fast` — brute-force top-k on the zip_with/fold fast
  path: one broadcast of the query set, no explode, whole-stage codegen.
  The profile you actually run: at 100 TB the corpus side stays partitioned,
  queries broadcast, and the per-row cost is a tight fused loop.
- :func:`ivf_topk` — IVF-style approximate search: partition the corpus by
  an existing coarse quantizer (here the ``label`` cluster column — in a real
  pipeline, k-means centroid ids), rank centroids per query, search only the
  ``nprobe`` closest buckets. Turns the scan into a partition-pruned read at
  scale; recall measured against the exact operator in tests.

Top-k selection is a row_number window per query — at production scale with
many queries this is the standard shuffle-on-query-id pattern; each partition
holds a bounded candidate set.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.localframe import local_frame
from ..functions.partitioning import ensure_min_parallelism
from ..functions.vectors import (
    cosine_exact,
    cosine_fast,
    dot_exact,
    dot_exact_lits,
    norm_exact,
)
from ..sources.tables import session_memo

def cosine_topk_exact(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine; deterministic everywhere.

    Output: (query_id, neighbor_id, cosine, rank), excluding self-matches.
    Vectors stay packed: broadcast the (small) query set against the
    partitioned corpus and compute each score with the fused exact-decimal
    fold (functions/vectors.py:dot_exact) — bit-identical to a
    posexplode/DECIMAL(38,18) formulation but with no |corpus|×dim shuffle,
    which is the only shape that survives a 100 TB corpus.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_exact(F.col(vec_col)).alias("qn"),
    )
    c = ensure_min_parallelism(corpus, F.col(id_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_exact(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_exact(F.col("q_vec"), F.col("c_vec"))
                / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.3,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: unordered pairs (id_a < id_b)
    inside the same block whose cosine ≥ threshold.

    Blocking on ``block_col`` (a coarse cluster id — at scale, k-means
    centroid or LSH bucket) turns the all-pairs O(n²) scan into a per-block
    quadratic, the standard near-dup pattern: candidates from a cheap
    blocker, exact scores only within blocks.

    Vectors stay PACKED: the dot product is a fused zip_with fold with an
    exact-decimal accumulator (functions/vectors.py:dot_exact) — same
    bit-exact scores as the posexplode formulation but one self-equi-join
    on the block id instead of a |pairs|×dim shuffle. Norms are computed
    once per row before the join.
    """
    e = ensure_min_parallelism(corpus, F.col(id_col)).select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        norm_exact(F.col(vec_col)).alias("norm"),
    )
    a = e.select(
        "block",
        F.col("vid").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("norm").alias("norm_a"),
    )
    b = e.select(
        "block",
        F.col("vid").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("norm").alias("norm_b"),
    )
    pairs = a.join(b, "block").where(F.col("id_a") < F.col("id_b"))
    # The equi-join's parallelism is capped at the number of distinct
    # blocks (10 here; rarely more than a few thousand in a real blocker),
    # while the scoring fold below is the expensive part. Re-spread the
    # candidate pairs across the cluster before scoring so the fold uses
    # every core, not one per block.
    pairs = pairs.repartition(
        pairs.sparkSession.sparkContext.defaultParallelism,
        F.col("id_a"),
        F.col("id_b"),
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.col("block"),
        (
            dot_exact(F.col("vec_a"), F.col("vec_b"))
            / F.nullif(F.col("norm_a") * F.col("norm_b"), F.lit(0.0))
        ).alias("cosine"),
    ).where(F.col("cosine") >= threshold)


def cosine_topk_fast(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Brute-force top-k on the fused fast path; broadcast the query set."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_fast(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


def ivf_topk_exact(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN, deterministic profile: centroids are exact-decimal means
    (per-dimension DECIMAL sums / counts — partitioning- and
    order-independent), probe ranking and candidate re-rank use the
    exact-decimal cosine. Same pruning shape as :func:`ivf_topk` (search
    only the ``nprobe`` buckets closest to the query), but every number is
    bit-reproducible on any engine, so the whole approximate pipeline
    carries a full value oracle (plans/vectors.py Q26_SQL)."""
    cent = _centroids_of(corpus, vec_col, bucket_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("c_cos").desc_nulls_last(), F.col("bucket")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "q_vec",
            "bucket",
            cosine_exact(F.col("q_vec"), F.col("centroid")).alias("c_cos"),
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= nprobe)
        .select("query_id", "q_vec", "bucket")
    )
    c = ensure_min_parallelism(corpus, F.col(id_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(bucket_col).alias("bucket"),
        F.col(vec_col).alias("c_vec"),
        norm_exact(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(probes), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_exact(F.col("q_vec"), F.col("c_vec"))
                / F.nullif(norm_exact(F.col("q_vec")) * F.col("cn"), F.lit(0.0))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


def _centroids_of(assigned: DataFrame, vec_col: str, bucket_col: str) -> DataFrame:
    """Per-bucket exact-decimal mean vectors as packed arrays: (bucket,
    centroid array<double>). Order/partitioning-independent (DECIMAL sums),
    so the same buckets always produce bit-identical centroids."""
    return (
        assigned.select(
            F.col(bucket_col).alias("bucket"),
            F.posexplode(vec_col).alias("pos", "v"),
        )
        .groupBy("bucket", "pos")
        .agg(
            (
                F.sum(F.col("v").cast("double").cast("decimal(30,18)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("cv")
        )
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("s"))
        .select(
            "bucket",
            F.transform(F.col("s"), lambda x: x["cv"]).alias("centroid"),
        )
    )


#: Fixed-point scale for k-means training: vector components are floor-
#: quantized to 1e-7 units, so distances and centroid updates are EXACT
#: integer arithmetic — bit-identical on any engine, any partitioning
#: (the PageRank FLOOR-quantization trick, operators/graph.py, applied to
#: clustering). 1e-7 granularity is far below any embedding's meaningful
#: precision for cluster-boundary purposes; it changes no assignment a
#: float pipeline would care about. The scale is chosen so the WHOLE
#: distance fold stays in primitive int64 (whole-stage codegen, no
#: BigDecimal): sum over dim of d^2 <= dim * (2*scale*max|v|)^2 must stay
#: under 2^63 — at scale 1e7, dim 64, max|v| ~0.58 that head-room is
#: ~1000x. (Round-4 change: the previous 1e9 scale forced a
#: DECIMAL(38,0) fold that was the measured bottleneck of the k ∝ n
#: SemDeDup probe — 27s of the 32s x4 run was decimal arithmetic.)
KMEANS_SCALE = 10_000_000


def _quantized(vec_col: str):
    """array<long> of floor(v * 1e7) — exact from the same doubles on
    every engine (floor is unambiguous; the product double is identical)."""
    return F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * F.lit(float(KMEANS_SCALE)))
    )


def _sqdist_int(a, b_lit):
    """Exact integer squared L2 distance between two quantized vectors —
    pure int64 arithmetic (see KMEANS_SCALE for the no-overflow bound),
    so the fold runs as primitive longs inside whole-stage codegen.
    Compared as longs -> argmin can never be flipped by float rounding.
    SQL twin: SUM((x-c) * (x-c)) over BIGINTs."""
    return F.aggregate(
        F.zip_with(a, b_lit, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


#: Below this codebook size the flat scan (one fused argmin over all k
#: packed centroids) is already cheap and the two-level machinery is pure
#: overhead; at the sf0.01 oracle corpus (k=8) the plan is therefore
#: byte-identical to the pre-round-9 one.
TWO_LEVEL_MIN_K = 64

#: Minimum children per super-group (undersized groups merge into their
#: nearest neighbor) so the beam always holds >= nprobe candidates.
TWO_LEVEL_MIN_CHILDREN = 8

#: Beam width of the two-level approximate probe: the exact top-nprobe
#: is taken over the children of this many nearest super-groups. The
#: standard hierarchical-quantizer recall/cost dial (FAISS IMI probes
#: multiple cells the same way); tests pin an agreement floor vs the
#: flat exact scan, a VERDICT-flip floor (keep/drop decisions, the
#: user-visible semantic), and exactness at beam >= G. Raised 4 -> 12
#: in round 10 after measuring verdict-level impact at probe scale
#: (tools/beam_agreement.py, shared-codebook isolation, x8/x16 on both
#: the uniform worst-case and the clusterable mixture-of-Gaussians
#: corpora): at beam 4 SemDeDup keep/drop flips were 2.0-5.7% and q151
#: kNN-edge churn vs flat-IVF 36%; at beam 12 flips fall to 0.06-0.9%
#: and the TRUE-recall cost vs brute-force ground truth is <= 1.8
#: points at x16 (flat-IVF's own nprobe approximation costs ~31
#: points) — while wall-clock stays 2.2-3.9x under the flat scan.
#: Per-row cost is 2*sqrt(beam*k) ≈ 7*sqrt(k), still O(sqrt(k)) vs the
#: flat k; exact duplicates always co-assign (identical vectors rank
#: groups identically), which is what the SemDeDup / kNN-blocking
#: consumers need from the coarse stage.
TWO_LEVEL_BEAM = 12


def _exact_mode_required() -> bool:
    """True when the process runs under an oracle-parity harness
    (``SPARK_GRAFT_FORCE_EXACT=1``, set by tools/check_queries.py).

    The registered SQL oracles (_kmeans_unrolled_sql, Q118_SQL, Q348_SQL)
    are exact, while at k >= TWO_LEVEL_MIN_K this module switches to the
    documented beam / block-split approximations — an implicit data-size
    correctness boundary (size-derived k crosses 64 around ~4k
    embeddings). Under the flag every approximate path raises loudly at
    setup instead of surfacing as a confusing value-hash mismatch on a
    larger oracle corpus."""
    return os.environ.get("SPARK_GRAFT_FORCE_EXACT", "0") not in ("", "0")


def _flat_assign_forced() -> bool:
    """True when ``SPARK_GRAFT_FLAT_ASSIGN=1``: run the flat EXACT scan
    at every k, ignoring TWO_LEVEL_MIN_K. The A/B lever for measuring
    the beam approximation's verdict-level impact (tools/beam_agreement
    runs each query twice, flat vs beam, and diffs keep/drop verdicts /
    kNN edges) — and the documented escape hatch for a pipeline that
    wants exact coarse assignment at any cost."""
    return os.environ.get("SPARK_GRAFT_FLAT_ASSIGN", "0") not in ("", "0")


def _group_centroids(
    centroids: list[tuple[int, list[int]]],
    min_children: int = TWO_LEVEL_MIN_CHILDREN,
) -> list[tuple[int, list[int], float, list[tuple[int, list[int]]]]]:
    """Driver-side second-level quantizer: group the k trained centroids
    under G = ceil(sqrt(beam·k)) super-centroids — the G that minimizes
    the per-row probe cost G + beam·(k/G) — using 3 rounds of numpy
    Lloyd's (for group SHAPE) followed by a SIZE-CAPPED balanced
    placement (for group SIZE): each centroid goes to its nearest group
    that still has room under cap = ~1.3× the even share. The balance
    pass exists because Lloyd's alone collapses on concentrated data —
    measured round 9 at k=1000: 16 surviving groups (vs the optimal 63)
    with max size 116, pushing per-row probe cost to ~0.2·k.

    PERFORMANCE-ONLY state in the sense that it never affects results
    at exact scales (flat path below TWO_LEVEL_MIN_K); above the
    threshold it shapes the pinned beam approximation deterministically
    (numpy ops on fixed-order arrays — same input, same grouping).
    Cost is k×G×dim driver flops via one matmul per round —
    microseconds next to the n×k assignment it replaces.

    Returns [(gid, super_centroid, radius, [(bucket, centroid), ...])]
    with gids dense 0..G-1 (the Spark side indexes by gid+1), children
    sorted by bucket id, and every group holding >= min_children
    children (undersized groups merge into their nearest neighbor).
    ``radius`` is max_child ||child - super||, rounded UP, so
    d(x, child) >= d(x, super) - radius holds (kept for pruning
    diagnostics; the beam path does not ship it).
    """
    import math

    import numpy as np

    k = len(centroids)
    X = np.array([cv for _, cv in centroids], dtype=np.float64)
    g = max(2, int(math.ceil(math.sqrt(TWO_LEVEL_BEAM * k))))
    seed_idx = np.unique(np.linspace(0, k - 1, g).round().astype(np.int64))
    C = X[seed_idx].copy()

    def dists_to(Cm: "np.ndarray") -> "np.ndarray":
        # ||x-c||^2 = ||x||^2 + ||c||^2 - 2 x.c — k×g memory, never k×g×dim
        return (
            (X * X).sum(axis=1)[:, None]
            + (Cm * Cm).sum(axis=1)[None, :]
            - 2.0 * (X @ Cm.T)
        )

    assign = dists_to(C).argmin(axis=1)
    for _ in range(3):
        for j in range(C.shape[0]):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        assign = dists_to(C).argmin(axis=1)

    # Balanced placement: nearest group WITH ROOM, centroids processed
    # in bucket order (deterministic). Total capacity g·cap >= 1.3·k so
    # placement always succeeds.
    cap = max(min_children, int(math.ceil(k / C.shape[0] * 1.3)))
    d = dists_to(C)
    sizes = np.zeros(C.shape[0], dtype=np.int64)
    assign = np.zeros(k, dtype=np.int64)
    for i in range(k):
        for j in np.argsort(d[i], kind="stable"):
            if sizes[j] < cap:
                assign[i] = j
                sizes[j] += 1
                break

    # Merge undersized groups into the group whose super-centroid is
    # nearest (cap may be exceeded by a merge; tiny groups are rare
    # after the balance pass).
    while True:
        sizes = np.bincount(assign, minlength=C.shape[0])
        alive = np.where(sizes > 0)[0]
        small = [j for j in alive if sizes[j] < min_children]
        if not small or len(alive) <= 2:
            break
        j = min(small, key=lambda x: sizes[x])
        others = [o for o in alive if o != j]
        cd = ((C[others] - C[j]) ** 2).sum(axis=1)
        tgt = others[int(cd.argmin())]
        assign[assign == j] = tgt

    groups = []
    for j in np.unique(assign):
        member_idx = np.where(assign == j)[0]
        sc_mean = X[member_idx].mean(axis=0)
        scq = [int(v) for v in np.floor(sc_mean).astype(np.int64)]
        sc = np.array(scq, dtype=np.float64)
        rad = float(np.sqrt(((X[member_idx] - sc) ** 2).sum(axis=1)).max())
        children = sorted(
            (int(centroids[i][0]), [int(v) for v in centroids[i][1]])
            for i in member_idx
        )
        groups.append((scq, rad + 1.0, children))
    groups.sort(key=lambda t: t[2][0][0])  # by smallest child bucket id
    return [
        (gid, scq, rad, children)
        for gid, (scq, rad, children) in enumerate(groups)
    ]


def _with_probes(
    df: DataFrame,
    centroids: list[tuple[int, list[int]]],
    vec_col: str,
    nprobe: int,
    attach_cq: bool = False,
) -> DataFrame:
    """Attach ``__probes``: the ``nprobe`` nearest trained centroids per
    row as a sorted array<struct<d, bucket[, cq]>> (ascending by
    (squared int distance, bucket id) — ties to the smallest bucket;
    ``cq`` — the winning centroid's quantized vector — is attached only
    when ``attach_cq``), plus ``__qq`` (the row's quantized vector,
    projected once for reuse). Shuffle-free: centroids travel as one
    broadcast packed row.

    Two execution shapes:

    - k < TWO_LEVEL_MIN_K: the flat fused scan over all k centroids,
      an EXACT argmin/top-nprobe — the pre-round-9 plan, byte-identical
      at every oracle/bench corpus (the sf0.01 gate has k=8 and sf0.1
      has k=32, so every registered result and every pinned plan keeps
      the exact flat path).
    - k >= TWO_LEVEL_MIN_K: the two-level coarse quantizer (round-8
      VERDICT item 1 — the flat assign term was the family's measured
      n·k = n²/64 superlinear tail), as a PINNED DETERMINISTIC
      APPROXIMATION: rank the ~sqrt(k) super-centroids by exact integer
      distance, keep the TWO_LEVEL_BEAM nearest groups, and take the
      exact top-nprobe over only those groups' children — per-row cost
      G + beam·(k/G) ≈ 3·sqrt(k) instead of k. This is FAISS's
      hierarchical coarse-assignment trade (IMI / IVF-with-HNSW
      quantizer): the assignment can differ from the flat argmin near
      cluster boundaries, which for an IVF family only moves which
      bucket blocks a vector — the same kind of approximation the
      coarse quantizer itself already is. Deterministic by
      construction (integer distances, (d, gid)/(d, bucket) ties).

      Why approximate rather than exact triangle-inequality pruning:
      measured on the probe corpus (round 9, x16, k=500, G=14), 11.94
      of 12 non-beam groups survive the exact lower-bound test
      d(x, super_g) − radius_g ≤ d* — the synthetic embeddings are
      uniform in 64-d, so pairwise distances concentrate (p5/p95 =
      1.26/1.55) and radii (~0.88e7) swamp the inter-centroid spread;
      an exact pruned scan degenerates to the flat scan plus overhead.
      On clusterable real embeddings the same beam captures the true
      argmin almost always; tests pin an agreement-rate floor vs the
      flat scan plus an exactness witness at beam >= G.

      Candidate structs carry ONLY (d, bucket, gi, ci) — the dim-wide
      centroid vectors stay put in the broadcast row and the winner's
      cq is resolved by (group, child) index at the very end; the first
      draft piped the 64-long cq through every concat/sort/min and the
      per-row array churn made two-level SLOWER than flat at ×8.
    """
    spark = df.sparkSession
    qq = F.col("__qq")

    if (
        len(centroids) >= TWO_LEVEL_MIN_K
        and _exact_mode_required()
        and not _flat_assign_forced()
    ):
        # ADVICE r10: SPARK_GRAFT_FLAT_ASSIGN=1 forces the exact flat
        # scan at any k — that combination (exact assignment on a large
        # parity corpus) is precisely what the escape hatch exists for,
        # so the guard must not fire there.
        raise RuntimeError(
            f"oracle-parity run (SPARK_GRAFT_FORCE_EXACT=1) reached the "
            f"two-level beam approximation: k={len(centroids)} >= "
            f"TWO_LEVEL_MIN_K={TWO_LEVEL_MIN_K}. The registered SQL "
            f"oracles are exact and WILL mismatch this path — shrink the "
            f"corpus (size-derived k) below the threshold or raise "
            f"TWO_LEVEL_MIN_K for the parity run."
        )

    groups = (
        _group_centroids(
            centroids, min_children=max(nprobe, TWO_LEVEL_MIN_CHILDREN)
        )
        if len(centroids) >= TWO_LEVEL_MIN_K and not _flat_assign_forced()
        else None
    )
    if groups is None or len(groups) < 3:
        # local_frame: Arrow local relation, not a 32-slice pickled
        # parallelize — see functions/localframe.py (opt r11, guide §4).
        cdf = local_frame(
            spark,
            [(int(b), [int(v) for v in cv]) for b, cv in centroids],
            "bucket INT, cq ARRAY<BIGINT>",
        )
        packed = cdf.agg(
            F.array_sort(F.collect_list(F.struct("bucket", "cq"))).alias(
                "__cents"
            )
        )

        def flat_cand(c):
            fields = [
                _sqdist_int(qq, c["cq"]).alias("d"),
                c["bucket"].alias("bucket"),
            ]
            if attach_cq:
                fields.append(c["cq"].alias("cq"))
            return F.struct(*fields)

        dists = F.transform(F.col("__cents"), flat_cand)
        out = (
            df.crossJoin(F.broadcast(packed))
            .withColumn("__qq", _quantized(vec_col))
            .withColumn(
                "__probes",
                F.array(F.array_min(dists))
                if nprobe == 1
                else F.slice(F.array_sort(dists), 1, nprobe),
            )
        )
        return out.drop("__cents")

    cdf = local_frame(
        spark,
        [
            (
                gid,
                [int(v) for v in scq],
                [(int(b), [int(v) for v in cv]) for b, cv in children],
            )
            for gid, scq, rad, children in groups
        ],
        "gid INT, scq ARRAY<BIGINT>, "
        "children ARRAY<STRUCT<bucket: INT, cq: ARRAY<BIGINT>>>",
    )
    packed = cdf.agg(
        F.array_sort(
            F.collect_list(F.struct("gid", "scq", "children"))
        ).alias("__g2")
    )
    g2 = F.col("__g2")
    children_of = lambda gid: F.element_at(g2, gid + F.lit(1))["children"]

    def cand(gid):
        # Light candidate structs: the exact distance plus just enough
        # indexing (group, child ordinal) to find the winner's centroid
        # back in the broadcast row.
        return F.transform(
            children_of(gid),
            lambda c, i: F.struct(
                _sqdist_int(qq, c["cq"]).alias("d"),
                c["bucket"].alias("bucket"),
                gid.alias("gi"),
                i.alias("ci"),
            ),
        )

    beam = min(TWO_LEVEL_BEAM, len(groups))
    out = (
        df.crossJoin(F.broadcast(packed))
        .withColumn("__qq", _quantized(vec_col))
        .withColumn(
            "__gd",
            F.transform(
                g2,
                lambda s: F.struct(
                    _sqdist_int(qq, s["scq"]).alias("d"),
                    s["gid"].alias("gid"),
                ),
            ),
        )
        .withColumn(
            "__gbeam", F.slice(F.array_sort(F.col("__gd")), 1, beam)
        )
        .withColumn(
            "__cds",
            F.flatten(
                F.transform(F.col("__gbeam"), lambda s: cand(s["gid"]))
            ),
        )
    )
    allc = F.col("__cds")
    out = out.withColumn(
        "__probes0",
        F.array(F.array_min(allc))
        if nprobe == 1
        else F.slice(F.array_sort(allc), 1, nprobe),
    )
    # Resolve the winners' centroid vectors by (gi, ci) index — nprobe
    # lookups per row into the broadcast row, after all the array work.
    if attach_cq:
        probes = F.transform(
            F.col("__probes0"),
            lambda p: F.struct(
                p["d"].alias("d"),
                p["bucket"].alias("bucket"),
                F.element_at(
                    children_of(p["gi"]), p["ci"] + F.lit(1)
                )["cq"].alias("cq"),
            ),
        )
    else:
        probes = F.transform(
            F.col("__probes0"),
            lambda p: F.struct(
                p["d"].alias("d"), p["bucket"].alias("bucket")
            ),
        )
    out = out.withColumn("__probes", probes)
    return out.drop("__g2", "__gd", "__gbeam", "__cds", "__probes0")


#: Balanced IVF assignment (round-11 VERDICT item 1): posting-list
#: capacity = ceil(BALANCE_CAP_FACTOR * n / k) rows per bucket. The
#: round-10 ×64 octave decomposition proved k-means IMBALANCE is the
#: family's last superlinear term — probed-list volume grew 269 → 450
#: candidates/row per octave because Lloyd's makes balance WORSE on
#: this geometry (max bucket 448/608/992 at iters 2/4/6) — so the fix
#: is bounded-capacity assignment (the "balanced k-means" production
#: IVF builders run), not more training.
#:
#: 2.0 from the round-11 cap-factor sweep (gauss ×16, shared codebook,
#: truth-recall vs capacity): capf 1.3/1.6/2.0/3.0 → recall 0.6272/
#: 0.6454/0.6547/0.6635 against natural 0.6643, max_posting 89/105/
#: 128/192 against natural 252, wall-clock FLAT (~10.5 s) across the
#: sweep — the win comes from capping the imbalance TAIL, not from
#: squeezing to the mean. 2.0 bounds worst-case candidate volume at
#: nprobe·2·(n/k) per row (flat at size-derived k) for a ~1-pt recall
#: cost — the same cost class as the beam's accepted ≤1.8 pts.
BALANCE_CAP_FACTOR = 2.0

#: How many probe buckets a row may land in (its top-BALANCE_SPILL_DEPTH
#: nearest): overflow spreads across ALL of them, not one neighbor.
#: Rows still over cap at the last level stay put — the cap is a volume
#: bound, not an invariant; with total capacity 1.3·n the residual is
#: rare on clusterable geometry. On a corpus of exact-duplicate CLIQUES
#: larger than depth·cap (the salted probe corpus at ×64) no
#: location-preserving assignment can balance — that mass belongs to
#: exact dedup upstream, and the measured residual is journaled.
BALANCE_SPILL_DEPTH = 8

#: Spill iterations: each pass re-ranks every bucket (settled rows
#: first) and SPREADS its overflow in cap-sized chunks across the row's
#: remaining probe levels — chunk j of a bucket's overflow jumps j
#: levels, so a hot bucket's 900-row excess lands in up to depth-1
#: DIFFERENT buckets in one pass instead of cascading into a single
#: neighbor (measured round 11: single-target cascade CONCENTRATED
#: inflow on salted cliques — balanced max_posting 1284 vs natural 1024
#: at ×64). Two follow-up passes resolve collision inflow.
BALANCE_SPILL_PASSES = 3


def _balance_enabled(default: bool) -> bool:
    """Balanced posting assignment on/off above TWO_LEVEL_MIN_K.

    The DEFAULT is per-operator, from the round-11 A/B (min-of-2,
    salted ×16/×32/×64, tools/balance_probe.py): knn_graph ON — its
    candidate stage pays a 64-term integer fold per candidate, so the
    volume cap + skew spread win 22% at ×32; knn_graph_bq OFF — its
    BQ stage already made candidates 8-byte/bit-op cheap, and the
    balance machinery measured pure overhead (+35–74%) at every factor.
    ``SPARK_GRAFT_BALANCED_ASSIGN=1``/``=0`` force either way — the
    A/B lever (tools/beam_agreement.py --ab=balance), mirroring
    SPARK_GRAFT_FLAT_ASSIGN for the beam."""
    raw = os.environ.get("SPARK_GRAFT_BALANCED_ASSIGN")
    if raw is None or raw == "":
        return default
    return raw != "0"


def balanced_posting(
    probed: DataFrame,
    id_col: str,
    cap: int,
    passes: int = BALANCE_SPILL_PASSES,
) -> DataFrame:
    """(``__bid``, ``__bbucket``): bounded-capacity IVF posting
    assignment from a ``_with_probes`` frame carrying the row's
    BALANCE_SPILL_DEPTH nearest buckets.

    Each row starts at its nearest bucket; ``passes`` deterministic
    spill rounds then SPREAD every over-capacity bucket's overflow
    across the rows' remaining probe levels. One pass = one row_number
    window keyed by the row's CURRENT bucket, ordered (settled level
    ASC, distance ASC, id ASC) — settled rows keep their seats, the
    nearest newcomers claim the rest, ties break on id, so the whole
    pipeline is deterministic (the beam discipline). Overflow chunk j
    (rows ranked cap·j+1 .. cap·(j+1)) jumps j levels toward its
    (pos+j)-th probe — one pass disperses a 900-row hot bucket into up
    to depth-1 DIFFERENT buckets (the single-target cascade variant
    measured round 11 CONCENTRATED clique inflow instead: balanced
    max_posting 1284 vs natural 1024 on ×64 salted). Rows at the last
    probe level stay even if over cap (soft bound, journaled).

    Scale shape: the frame is n rows × (id + depth light structs); each
    pass is one shuffle on the current bucket id — ``passes`` bounded
    shuffles total, no corpus-wide vector movement. A 100 TB build runs
    the same passes over the signature-narrow frame.

    Why capacity matters more than centroid quality here: in-bucket
    candidate volume is Σ (posting size × probe hits); capping posting
    lists bounds it at ~nprobe·cap per query row — LINEAR in n at
    size-derived k — where natural Lloyd's assignment measured 992-row
    hot buckets at ×64 (octave exponent 2.1 in the candidate stage).
    """
    f = probed.select(
        F.col(id_col).alias("__bid"),
        F.col("__probes").alias("__pp"),
        F.lit(0).alias("__pos"),
    )
    for _ in range(passes):
        cur = F.element_at(F.col("__pp"), F.col("__pos") + 1)
        w = Window.partitionBy(cur["bucket"]).orderBy(
            F.col("__pos"), cur["d"], F.col("__bid")
        )
        over = F.row_number().over(w) - F.lit(int(cap))
        jump = (
            F.floor((over - 1) / F.lit(int(cap))).cast("int") + F.lit(1)
        )
        f = f.withColumn(
            "__pos",
            F.when(
                over > 0,
                F.least(
                    F.col("__pos") + jump, F.size(F.col("__pp")) - 1
                ),
            ).otherwise(F.col("__pos")),
        )
    final = F.element_at(F.col("__pp"), F.col("__pos") + 1)
    return f.select(
        F.col("__bid"),
        final["bucket"].alias("__bbucket"),
        F.col("__pos").cast("int").alias("__blevel"),
    )


def _shared_probe_frame(
    corpus: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str,
    vec_col: str,
    nprobe: int,
    default_on: bool = True,
) -> DataFrame | None:
    """The ONE persisted probe scan the balanced kNN-graph path shares
    between its query side (top-nprobe buckets) and its posting side
    (bounded-capacity spill needs depth next-best buckets + distances).
    Returns None when the balanced path is inactive: below
    TWO_LEVEL_MIN_K (oracle/bench corpora — plans stay byte-identical),
    when SPARK_GRAFT_BALANCED_ASSIGN=0 (the A/B lever), or under
    SPARK_GRAFT_FLAT_ASSIGN=1 (the pre-round-9 exact-semantics arm).

    The persist is load-bearing, not a cache nicety: the frame feeds a
    self-join (query side ⋈ posting side), and CollapseProject would
    otherwise inline the whole probe pipeline into BOTH consumers
    (the q118 lesson — see _stabilize_assigned). Registered in
    _PERSISTED_FRAMES for the sweep/bench release discipline."""
    if (
        len(centroids) < TWO_LEVEL_MIN_K
        or not _balance_enabled(default_on)
        or _flat_assign_forced()
    ):
        return None
    depth = max(nprobe, BALANCE_SPILL_DEPTH)
    return register_persisted(
        _with_probes(
            ensure_min_parallelism(corpus, F.col(id_col)),
            centroids,
            vec_col,
            depth,
        )
    )


def _balanced_posting_frame(pr: DataFrame, id_col: str, k: int) -> DataFrame:
    """The persisted (``__bid``, ``__bbucket``) balanced assignment the
    candidate join consumes. Materialized eagerly (count) so AQE sees
    its true size at runtime — the round-11 diagnosis: left lazy inside
    the join lineage, the planner had no stats, fell back to a
    sort-merge join whose tiny INPUT coalesced to 8 tasks while its
    OUTPUT (the exploded candidate set) concentrated 35 s of Hamming +
    window work on those tasks (vs the natural arm's broadcast-joined
    32-task stage). Registered for the sweep/bench release discipline."""
    posting = register_persisted(
        balanced_posting(pr, id_col, _posting_cap(pr, k))
    )
    posting.count()
    return posting


def _posting_cap(pr: DataFrame, k: int) -> int:
    """ceil(BALANCE_CAP_FACTOR * n / k) — the per-bucket posting
    capacity. The count() doubles as the persist materialization of the
    shared probe frame (one pass; both consumers then read the cache)."""
    import math

    n = pr.count()
    return max(1, int(math.ceil(BALANCE_CAP_FACTOR * n / max(1, k))))


def split_oversized_blocks(
    df: DataFrame,
    block_col: str = "bucket",
    id_col: str = "vec_id",
    cap: int = 128,
    out_col: str = "__blk",
) -> DataFrame:
    """Attach ``out_col``: the blocking key for in-block pair generation,
    equal to ``block_col`` except that blocks larger than ``cap`` rows
    are deterministically hash-split into ceil(size/cap) sub-blocks.

    Why: in-block pair volume is Σ c²/2, and k-means balance DEGRADES
    with corpus size on concentrated data (measured round 9: max cluster
    64-target → 152 at ×8 → 256 at ×16; candidate pairs grew 2.35× per
    corpus doubling — q118's residual superlinear tail after the assign
    fix). The cap bounds pair volume at ≤ cap·n/2 — strictly linear —
    the balanced-clustering discipline SemDeDup-scale pipelines apply
    for exactly this reason; pairs across sub-blocks of one oversized
    cluster are forgone (a documented approximation, like the beam).

    Bit-stability where it matters: every oracle/bench corpus trains to
    max cluster 74–79 (measured sf0.001/0.01/0.1), far under the cap,
    so no block ever splits there and registered results are unchanged.
    Cost: one |blocks|-row count agg broadcast back — no corpus shuffle.
    """
    from ..functions.text import hash60

    sizes = df.groupBy(block_col).agg(F.count("*").alias("__bn"))
    if _exact_mode_required():
        # Oracle-parity guard (see _exact_mode_required): a block that
        # would split forgoes cross-sub-block pairs, diverging from the
        # exact SQL oracle — fail loudly at execution instead.
        sizes = sizes.withColumn(
            "__bn",
            F.when(
                F.col("__bn") <= F.lit(cap), F.col("__bn")
            ).otherwise(
                F.assert_true(
                    F.col("__bn") <= F.lit(cap),
                    F.concat(
                        F.lit(
                            "oracle-parity run (SPARK_GRAFT_FORCE_EXACT=1)"
                            " reached split_oversized_blocks: block size "
                        ),
                        F.col("__bn").cast("string"),
                        F.lit(f" > cap={cap} would forgo pairs vs the"
                              " exact oracle"),
                    ),
                ).cast("bigint"),
            ),
        )
    nsub = F.greatest(
        F.lit(1), F.ceil(F.col("__bn") / F.lit(cap)).cast("int")
    )
    sub = F.pmod(
        hash60(F.concat(F.lit("blk:"), F.col(id_col).cast("string"))),
        nsub,
    )
    return (
        df.join(F.broadcast(sizes), block_col)
        .withColumn(
            out_col,
            F.concat_ws(
                "#",
                F.col(block_col).cast("string"),
                sub.cast("string"),
            ),
        )
        .drop("__bn")
    )


#: Session-scoped registry of frames persisted through
#: :func:`register_persisted` — they must outlive the multi-consumer plan
#: they anchor (unknown at persist time), so release is explicit:
#: long-lived harnesses (oracle sweep, probe loops) call
#: :func:`release_persisted_frames` between queries; bench.py's per-query
#: ``spark.catalog.clearCache()`` drops the blocks too (the registry then
#: just forgets dead handles).
_PERSISTED_FRAMES: list[DataFrame] = []


def release_persisted_frames() -> int:
    """Unpersist every frame register_persisted cached this session
    (ADVICE r9: over a long sweep these accumulated in the storage
    layer). Returns the number released; safe to call at any time —
    consumers that re-touch a released frame recompute it lazily."""
    n = 0
    while _PERSISTED_FRAMES:
        try:
            _PERSISTED_FRAMES.pop().unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def register_persisted(df: DataFrame) -> DataFrame:
    """Persist ``df`` and track it in the session registry so harnesses
    release it between queries (the _stabilize_assigned discipline,
    shared with operators whose persisted frames must outlive the lazy
    plan they anchor — e.g. graph rounds that defer execution to the
    caller's action, opt r12)."""

    def _alive(f: DataFrame) -> bool:
        try:
            lvl = f.storageLevel
            return lvl.useMemory or lvl.useDisk
        except Exception:
            return False

    # Drop dead handles first (ADVICE r10): spark.catalog.clearCache()
    # frees the blocks but not the DataFrame/plan references held here.
    _PERSISTED_FRAMES[:] = [f for f in _PERSISTED_FRAMES if _alive(f)]
    df = df.persist()
    _PERSISTED_FRAMES.append(df)
    return df


def _stabilize_assigned(out: DataFrame, k: int) -> DataFrame:
    """Persist the assigned frame when the two-level probe path is active
    (k >= TWO_LEVEL_MIN_K). The layered probe projection optimizes
    cleanly in isolation, but once the frame feeds a multi-consumer plan
    (q118's self-join, q151's probe+corpus sides) CollapseProject inlines
    the intermediate columns into every consumer AND into per-element
    lambda bodies — measured 44 zip_with folds in q118's x8 pair plan vs
    8 on the flat path, a ~9x wall-clock blowup (191 s vs 21 s). The
    persist makes the probe pipeline a one-shot evaluation whose OUTPUT
    (corpus columns + one int bucket) is what downstream plans consume —
    the LSH band-frame persist discipline (PLANS.md journal #2/#6).
    Never active at oracle/bench corpora (k < 64 everywhere below the
    probe scale factors), so pinned plans and budgets are untouched."""
    return register_persisted(out) if k >= TWO_LEVEL_MIN_K else out


def preload_trained_codebook(
    spark: SparkSession, cache_key: tuple, k: int, iters: int, centroids: list
) -> None:
    """Seed the training memo with a codebook LOADED from a persisted
    index artifact (sinks/ann_index.py): subsequent kmeans_assign calls
    with the same (cache_key, k, iters) consume the loaded state instead
    of retraining — how a search job restores a trained quantizer from
    the lake. A codebook already memoized for the same corpus state is
    kept: deterministic training means loaded == would-be-trained, and
    the q318/q322 parity oracles fail loudly if the artifact drifts."""
    path, *tag = cache_key
    loaded = [(int(b), [int(v) for v in cv]) for b, cv in centroids]
    session_memo(spark, path, ("kmeans", *tag, k, iters), lambda: loaded)


def _assign(df: DataFrame, centroids, vec_col: str, attach: bool) -> DataFrame:
    """Argmin assignment of ``df`` to a trained codebook."""
    # Centroids travel as BROADCAST DATA (one packed row), not plan
    # literals: a least() over k literal structs grows the expression
    # tree O(k*dim) and blew up analysis/codegen once k became
    # size-derived (q118's k ∝ n SemDeDup contract — round-3 VERDICT
    # item 1; measured 8.5→74s at 4x before this change). The argmin
    # itself is the shared _with_probes scan — flat fused fold below
    # TWO_LEVEL_MIN_K (exact, bit-identical to the unrolled SQL
    # oracle), the pinned deterministic beam approximation above it
    # (round-8 VERDICT item 1: the flat n·k assign was the family's
    # measured superlinear tail; near cluster boundaries the beam can
    # differ from the flat argmin — agreement floor pinned in tests) —
    # ties to the smallest bucket id in both modes.
    out = _with_probes(df, centroids, vec_col, nprobe=1, attach_cq=attach)
    best = F.element_at(F.col("__probes"), 1)
    out = out.withColumn("bucket", best["bucket"])
    if attach:
        # The argmin struct already carries the winning centroid and its
        # exact integer squared distance — PQ encoding (q145) reads both
        # for free.
        out = out.withColumn("centroid_q", best["cq"]).withColumn(
            "sq_err", best["d"]
        )
    return out.drop("__probes", "__qq")


def _cached_assign(corpus, centroids, vec_col, attach):
    """Assignment-only pass with a trained codebook, persisted when the
    two-level probe path is active (see _stabilize_assigned)."""
    return _stabilize_assigned(
        _assign(corpus, centroids, vec_col, attach), len(centroids)
    )


def kmeans_assign(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    attach_centroid: bool = False,
    return_centroids: bool = False,
    cache_key: tuple | None = None,
):
    """Deterministic distributed Lloyd's k-means: returns the corpus plus a
    trained ``bucket`` column — the IVF coarse quantizer TRAINED from the
    data instead of borrowed from a shipped label column (round-2
    VERDICT.md item 2).

    Training runs entirely in EXACT integer arithmetic over floor-
    quantized components (see :data:`KMEANS_SCALE`), so every assignment
    and every centroid is bit-identical on any engine and the whole
    training run carries a full value oracle (plans/vectors.py Q106_SQL
    unrolls the identical iterations in SQL):

    - **init**: the ``k`` rows with the smallest md5-derived hash of their
      id (a deterministic pseudo-random spread — pyspark.ml's KMeans uses
      kmeans|| sampling + float tree-aggregation, neither reproducible
      cross-engine, which is why Lloyd's is spelled out here);
    - **assign**: argmin over exact integer squared distances, ties to the
      smallest bucket id — a ``least()`` over k fused folds, a pure
      projection;
    - **update**: per-dimension ``SUM(v) div COUNT(*)`` — integral
      division truncating toward zero on BOTH engines (Spark ``div``,
      DuckDB ``//``; verified identical on negatives).

    Scale shape: assignment is SHUFFLE-FREE — the k packed centroids are
    bounded driver state (k×dim longs, like the convergence probe in
    operators/graph.py) embedded as literals, so each row's argmin is a
    tight JVM fold chain inside whole-stage codegen; the only shuffle per
    iteration is the centroid-update agg, whose map-side partials bound
    the exchange at k×dim cells per task. ``iters`` synchronous rounds —
    the standard distributed k-means loop (MLlib's KMeans collects
    per-round cluster sums to the driver the same way). Empty buckets drop
    out deterministically on both engines.
    """
    train = partial(_train_codebook, corpus, id_col, vec_col, k, iters)
    if cache_key is None:
        cent = train()
    else:
        # Deterministic training means identical (corpus, k, iters)
        # always yields the identical codebook — callers that train the
        # same model in several registered queries (q106's coarse ==
        # q150's; q145's PQ codebooks == q150's) pass a key
        # ``(corpus path, *tag)`` so the loop runs once per corpus state.
        # The memoized object is the k x dim centroid list — the same
        # bounded driver state the loop ends with.
        path, *tag = cache_key
        cent = session_memo(
            corpus.sparkSession, path, ("kmeans", *tag, k, iters), train
        )
    assigned = _cached_assign(corpus, cent, vec_col, attach_centroid)
    if return_centroids:
        # The trained codebook is k x dim ints of driver state (the same
        # bounded state the training loop already held) — IVF-PQ's ADC
        # search needs it to build per-query lookup tables.
        return assigned, cent
    return assigned


def _train_codebook(corpus, id_col, vec_col, k, iters) -> list:
    """kmeans_assign's seeding and ``iters`` Lloyd rounds -> the sorted
    (bucket, centroid) list."""
    from ..functions.text import hash60

    seed_rows = (
        corpus.select(
            F.col(id_col).alias("__id"),
            _quantized(vec_col).alias("__q"),
            hash60(
                F.concat(F.lit("seed:"), F.col(id_col).cast("string"))
            ).alias("__h"),
        )
        .orderBy("__h", "__id")
        .limit(k)
        .collect()
    )
    cent: list[tuple[int, list[int]]] = [
        (b, [int(v) for v in r["__q"]]) for b, r in enumerate(seed_rows)
    ]
    c = ensure_min_parallelism(corpus, F.col(id_col))
    for _ in range(iters):
        assigned = _assign(c, cent, vec_col, False).select(
            "bucket", _quantized(vec_col).alias("__qv")
        )
        if k >= TWO_LEVEL_MIN_K:
            # One-shot evaluation of the two-level probe chain before the
            # posexplode fan-out: the generator context inlines the probe
            # intermediates the same way the self-join does (see
            # _stabilize_assigned), so the per-iteration update pays the
            # scan once into an n×(dim+1) cached frame, dropped after the
            # centroid collect.
            assigned = assigned.persist()
        cent_rows = (
            assigned.select("bucket", F.posexplode("__qv").alias("pos", "v"))
            .groupBy("bucket", "pos")
            .agg(F.expr("sum(v) div count(*)").alias("c9"))
            .groupBy("bucket")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c9"))).alias("s"))
            .select("bucket", F.transform(F.col("s"), lambda x: x["c9"]).alias("cq"))
            .collect()
        )
        if k >= TWO_LEVEL_MIN_K:
            assigned.unpersist()
        cent = sorted((r["bucket"], [int(v) for v in r["cq"]]) for r in cent_rows)
    return cent


#: Random-hyperplane LSH configuration: 16 sign bits in 4 bands of 4.
LSH_ANN_BITS = 16
LSH_ANN_BANDS = 4


def lsh_hyperplanes(dim: int, bits: int = LSH_ANN_BITS) -> list[list[int]]:
    """Deterministic ±1 (Rademacher) hyperplanes: sign of plane ``b`` at
    position ``p`` = parity of md5(f"{b}:{p}"). Engine-independent by
    construction — the same literals embed in the Spark plan and the SQL
    oracle, so signatures are reproducible anywhere."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{b}:{p}".encode()).hexdigest()[:15], 16) % 2
            else -1
            for p in range(dim)
        ]
        for b in range(bits)
    ]


def _lsh_banded(
    df: DataFrame,
    id_alias: str,
    vec_col: str,
    planes: list[list[int]],
    bands: int,
) -> DataFrame:
    """(id, band_id, band_val): sign-bit signature sliced into integer band
    values. Bits are exact-decimal signed sums (dot with a ±1 literal
    array), so the signature — and therefore the candidate set — is
    bit-identical on every engine."""
    bits = len(planes)
    rows = bits // bands
    # dot_exact_lits: one parsed SQL expression per plane instead of
    # dim F.lit py4j calls — same tree, ~10x less plan-build time
    # (functions/vectors.py, opt r11).
    bit_cols = [
        (dot_exact_lits(vec_col, plane) > 0).alias(f"b{b}")
        for b, plane in enumerate(planes)
    ]
    sig = df.select(F.col(id_alias), *bit_cols)
    band_structs = []
    for band in range(bands):
        val: F.Column | None = None
        for j in range(rows):
            term = F.when(F.col(f"b{band * rows + j}"), F.lit(1 << j)).otherwise(
                F.lit(0)
            )
            val = term if val is None else val + term
        band_structs.append(
            F.struct(
                F.lit(band).alias("band_id"), val.cast("int").alias("band_val")
            )
        )
    return sig.select(
        id_alias, F.explode(F.array(*band_structs)).alias("bd")
    ).select(id_alias, "bd.band_id", "bd.band_val")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    bits: int = LSH_ANN_BITS,
    bands: int = LSH_ANN_BANDS,
    dim: int | None = None,
) -> DataFrame:
    """LSH-bucketed ANN (the second scale path next to IVF): candidates =
    vectors sharing ≥ 1 signature band with the query, re-ranked by exact
    cosine, top-k per query.

    Unlike IVF (data-dependent centroids → rows-only check), every stage
    here is deterministic cross-engine — fixed hyperplanes, exact-decimal
    sign sums, integer band buckets, exact-decimal re-rank — so the whole
    ANN pipeline is oracle-checkable.

    At 100 TB: the corpus is banded once (4 narrow rows per vector,
    persistable next to the embeddings); a query probes only its bucket
    collisions — never the full corpus. The re-rank joins vectors back by
    id (shuffle bounded by the candidate count, which banding parameters
    control).
    """
    if dim is None:
        # Fallback only: array length isn't in the schema, so this costs a
        # driver-side job. Callers that know the embedding width should pass
        # ``dim`` and skip it.
        dim = corpus.select(F.size(vec_col).alias("d")).first()["d"]
    planes = lsh_hyperplanes(dim, bits)
    qb = _lsh_banded(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        "query_id",
        vec_col,
        planes,
        bands,
    )
    cb = _lsh_banded(
        ensure_min_parallelism(corpus, F.col(id_col)).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col)
        ),
        "neighbor_id",
        vec_col,
        planes,
        bands,
    )
    cand = (
        cb.join(F.broadcast(qb), ["band_id", "band_val"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_exact(F.col(vec_col)).alias("qn"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_exact(F.col(vec_col)).alias("cn"),
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_exact(F.col("q_vec"), F.col("c_vec"))
                / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style ANN: search only the ``nprobe`` buckets whose centroid is
    closest to the query. Centroids = per-bucket mean vectors (computed here;
    persist them in a real pipeline). Approximate: recall depends on the
    quantizer quality; see tests for the recall gate."""
    cent = (
        corpus.select(F.col(bucket_col).alias("bucket"), F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("bucket", "pos")
        .agg(F.avg("v").alias("cv"))
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("s"))
        .select(
            "bucket",
            F.transform(F.col("s"), lambda x: x["cv"]).alias("centroid"),
        )
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("c_cos").desc_nulls_last(), F.col("bucket")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "q_vec",
            "bucket",
            cosine_fast(F.col("q_vec"), F.col("centroid")).alias("c_cos"),
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= nprobe)
        .select("query_id", "q_vec", "bucket")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(bucket_col).alias("bucket"),
        F.col(vec_col).alias("c_vec"),
    )
    scored = (
        probes.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_fast(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


def pq_encode(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Product quantization (Jégou et al. 2011 — the PQ of FAISS IVF-PQ):
    split each vector into ``m`` subvectors, train an independent k-means
    codebook per subspace (the same deterministic integer Lloyd's as the
    IVF coarse quantizer), and encode every vector as ``m`` small codes
    plus its EXACT integer squared reconstruction error.

    Memory story at 100 TB: a dim-64 float vector (256 B) compresses to
    m=4 byte-codes (4 B) + a shared m*k*[dim/m] codebook — the standard
    64x compaction that makes billion-vector ANN rescoring RAM-resident.

    Scale shape: per subspace, training is the kmeans_assign loop
    (bounded driver state, broadcast-data centroids) over a SLICED
    column — slicing is a per-row projection, so the m trainings are m
    independent passes; encoding attaches codes via the same broadcast
    argmin (no shuffle), and the per-subspace outputs reunite on the id
    key. The reconstruction error is exact on the KMEANS_SCALE integer
    grid — bit-identical on any engine — so the WHOLE train+encode
    pipeline carries a full value oracle (plans/vectors.py Q145_SQL
    unrolls all m training chains in SQL).
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    width = dim // m

    def train(j: int) -> DataFrame:
        sub = corpus.select(
            id_col, F.slice(vec_col, j * width + 1, width).alias("__sub")
        )
        return kmeans_assign(
            sub,
            id_col=id_col,
            vec_col="__sub",
            k=k,
            iters=iters,
            attach_centroid=True,
            cache_key=(*cache_key, f"sub{j}") if cache_key else None,
        ).select(
            id_col,
            F.col("bucket").cast("int").alias(f"code_{j}"),
            F.col("sq_err").alias(f"__err_{j}"),
        )

    # The m trainings are independent; their cost is dominated by the
    # per-round DRIVER actions (seed + centroid collects), so run them
    # from concurrent threads — Spark schedules the jobs side by side
    # and the synchronous round-trips overlap (8.0s -> 5.7s at sf0.1).
    # Results are unchanged: each training touches only its own slice.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=m) as pool:
        coded_frames = list(pool.map(train, range(m)))
    out = corpus.select(id_col)
    for coded in coded_frames:
        out = out.join(coded, id_col)
    total = None
    for j in range(m):
        e = F.col(f"__err_{j}")
        total = e if total is None else total + e
    return out.withColumn("sq_err", total.cast("long")).drop(
        *[f"__err_{j}" for j in range(m)]
    )


def ivfpq_search(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_k: int = 8,
    nprobe: int = 2,
    m: int = 4,
    pq_k: int = 16,
    iters: int = 2,
    topk: int = 3,
    cache_key: tuple | None = None,
) -> DataFrame:
    """IVF-PQ search with asymmetric distance computation — the full
    FAISS recipe (Jégou 2011) assembled from the engine's trained
    quantizers: the coarse k-means prunes to ``nprobe`` inverted lists,
    and candidates are ranked by ADC — per-query lookup tables of exact
    integer squared distances from each query SUBVECTOR to every PQ
    centroid, summed over the m stored codes. Candidates' raw vectors
    are never touched at search time; only their m byte-codes are.

    Driver state (all bounded, all FAISS-resident state too): the coarse
    codebook (coarse_k × dim ints), m PQ codebooks (pq_k × dim/m ints),
    the collected query vectors, and the per-query LUTs
    (n_queries × m × pq_k ints). Cluster work: the coarse probe-pair and
    LUT frames broadcast into one bucket join + one code join + a
    per-query top-k window — no shuffle touches the corpus beyond its
    (precomputable) codes.

    Everything is exact int64 on the KMEANS_SCALE grid, so the whole
    train+encode+search pipeline carries a full value oracle
    (plans/vectors.py Q150_SQL).
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    width = dim // m
    spark = corpus.sparkSession

    bucketed, coarse_cent = kmeans_assign(
        corpus, id_col=id_col, vec_col=vec_col, k=coarse_k, iters=iters,
        return_centroids=True,
        cache_key=(*cache_key, "full") if cache_key else None,
    )

    def train_sub(j: int):
        sub = corpus.select(
            id_col, F.slice(vec_col, j * width + 1, width).alias("__sub")
        )
        coded, cent = kmeans_assign(
            sub, id_col=id_col, vec_col="__sub", k=pq_k, iters=iters,
            return_centroids=True,
            cache_key=(*cache_key, f"sub{j}") if cache_key else None,
        )
        return (
            coded.select(id_col, F.col("bucket").alias(f"code_{j}")),
            cent,
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=m) as pool:
        subs = list(pool.map(train_sub, range(m)))
    codes = subs[0][0]
    for coded, _ in subs[1:]:
        codes = codes.join(coded, id_col)

    # Probe selection and ADC lookup tables built DISTRIBUTED: the query
    # vectors are never collected. Each trained codebook (bounded k x dim
    # driver ints — FAISS-resident state too) becomes a small DataFrame
    # broadcast against the query frame, and every query x centroid
    # distance is the exact-int64 zip_with fold inside codegen — so a
    # query batch of any size scales across the cluster with flat driver
    # time, instead of a per-query Python loop. Ties in probe ranking
    # break on bucket id, matching the previous driver-side sort.
    qv = queries.select(
        F.col(id_col).alias("query_id"), _quantized(vec_col).alias("q9")
    )
    coarse_df = local_frame(
        spark,
        [(int(b), [int(v) for v in cv]) for b, cv in coarse_cent],
        "bucket INT, __cq ARRAY<BIGINT>",
    )
    pw = Window.partitionBy("query_id").orderBy("__d", "bucket")
    probes = (
        qv.crossJoin(F.broadcast(coarse_df))
        .select(
            "query_id",
            "bucket",
            _sqdist_int(F.col("q9"), F.col("__cq")).alias("__d"),
        )
        .withColumn("__rn", F.row_number().over(pw))
        .where(F.col("__rn") <= nprobe)
        .select("query_id", "bucket")
    )
    luts = []
    for j in range(m):
        pq_df = local_frame(
            spark,
            [(int(b), [int(v) for v in cv]) for b, cv in subs[j][1]],
            f"code_{j} INT, __cq ARRAY<BIGINT>",
        )
        luts.append(
            qv.select(
                "query_id",
                F.slice("q9", j * width + 1, width).alias("__qsub"),
            )
            .crossJoin(F.broadcast(pq_df))
            .select(
                "query_id",
                f"code_{j}",
                _sqdist_int(F.col("__qsub"), F.col("__cq")).alias(f"d_{j}"),
            )
        )

    cand = (
        bucketed.select(id_col, "bucket")
        .join(F.broadcast(probes), "bucket")
        .where(F.col(id_col) != F.col("query_id"))
        .select(F.col(id_col).alias("neighbor_id"), "query_id")
    )
    scored = cand.join(
        codes.select(
            F.col(id_col).alias("neighbor_id"),
            *[f"code_{j}" for j in range(m)],
        ),
        "neighbor_id",
    )
    for j in range(m):
        scored = scored.join(
            F.broadcast(luts[j]), ["query_id", f"code_{j}"]
        )
    adc = None
    for j in range(m):
        d = F.col(f"d_{j}")
        adc = d if adc is None else adc + d
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("adc_dist", adc.cast("long"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            "query_id", "neighbor_id", "adc_dist",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def knn_graph(
    corpus: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
    k: int = 4,
    nprobe: int = 2,
) -> DataFrame:
    """[EXT] Approximate k-NN graph over the WHOLE corpus: every vector
    gets its top-k cosine neighbors, candidates restricted to the
    ``nprobe`` trained coarse clusters nearest each vector — the
    IVF-blocked graph-construction recipe vector pipelines use upstream
    of graph-based clustering and SemDeDup-style curation (every node is
    a query; brute force would be n² and is the recall reference in
    tests, not the plan).

    Every arithmetic step is INTEGER over the floor-quantized components
    (see :data:`KMEANS_SCALE`): probe selection ranks the trained
    integer centroids by exact squared distance (the same packed
    broadcast-data argmin kmeans_assign uses), and candidate scoring is
    a primitive-int64 dot-product fold — whole-stage codegen, no
    BigDecimal anywhere (the q118 4x-probe lesson: the decimal fold was
    10x the cost of the integer one). The reported cosine is one double
    division of the exact integer dot by the sqrt'd exact integer norms
    — deterministic cross-engine, full value oracle (plans/vectors.py
    Q151_SQL replays the identical integers).

    Scale shape: centroids are bounded broadcast state, so probe
    selection is a per-row projection; the candidate join is an
    EQUI-JOIN on the bucket id with BOTH sides large (corpus keyed by
    home bucket, probes keyed by probed bucket) — one shuffle each,
    never a broadcast, never all-pairs; per-bucket work stays bounded
    when the cluster count is size-derived (q118's k ∝ n contract).
    Top-k is a row_number window keyed by the source id.

    At k >= TWO_LEVEL_MIN_K the posting side runs the BALANCED
    bounded-capacity assignment (round-11: see balanced_posting — the
    measured 269→450 candidates/row octave growth was k-means imbalance
    feeding the candidate join), sharing ONE persisted probe scan with
    the query side. Below the threshold (every oracle/bench corpus) the
    plan is the byte-identical pre-round-11 one.
    """
    # NULL-embedding rows are excluded from the edge population on BOTH
    # sides, mirroring the SQL twin whose unnest drops NULL arrays (the
    # knn_graph_bq ADVICE r10 fix, applied family-wide for consistency).
    corpus = corpus.where(F.col(vec_col).isNotNull())
    q = _quantized(vec_col)
    int_norm = F.aggregate(
        F.transform(q, lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    qq_norm = F.aggregate(
        F.transform(F.col("__qq"), lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    pr = _shared_probe_frame(corpus, centroids, id_col, vec_col, nprobe)
    if pr is not None:
        # Balanced path (k >= TWO_LEVEL_MIN_K): ONE probe scan feeds
        # both sides — the query side slices its top-nprobe buckets,
        # the posting side runs the bounded-capacity spill. See
        # balanced_posting for why capacity (not centroid quality) is
        # what bounds the candidate join at scale.
        probes = pr.select(
            F.col(id_col).alias("src_id"),
            F.col("__qq").alias("qv"),
            qq_norm.alias("qn"),
            F.explode(
                F.transform(
                    F.slice(F.col("__probes"), 1, nprobe),
                    lambda p: p["bucket"],
                )
            ).alias("bucket"),
        )
        posting = _balanced_posting_frame(pr, id_col, len(centroids))
        # The c side mirrors the natural arm's shape (narrow projection
        # of the parallelism-ensured corpus) with ONLY the bucket column
        # swapped for the balanced assignment — see
        # _balanced_posting_frame for why the swap rides a materialized
        # equi-join rather than living inline in the probe lineage.
        c = (
            ensure_min_parallelism(corpus, F.col(id_col))
            .join(posting, F.col(id_col) == F.col("__bid"))
            .select(
                F.col(id_col).alias("dst_id"),
                F.col("__bbucket").alias("bucket"),
                _quantized(vec_col).alias("cv"),
                int_norm.alias("cn"),
            )
        )
    else:
        # Probe selection is the shared _with_probes scan: exact
        # top-nprobe centroids per row — flat fused scan at oracle-scale
        # k (byte-identical pre-round-11 plan below TWO_LEVEL_MIN_K).
        probes = _with_probes(corpus, centroids, vec_col, nprobe).select(
            F.col(id_col).alias("src_id"),
            F.col("__qq").alias("qv"),
            qq_norm.alias("qn"),
            F.explode(
                F.transform(F.col("__probes"), lambda p: p["bucket"])
            ).alias("bucket"),
        )
        c = ensure_min_parallelism(corpus, F.col(id_col)).select(
            F.col(id_col).alias("dst_id"),
            F.col(bucket_col).alias("bucket"),
            _quantized(vec_col).alias("cv"),
            int_norm.alias("cn"),
        )
    dot_q = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    scored = (
        c.join(probes, "bucket")
        .where(F.col("src_id") != F.col("dst_id"))
        .select(
            "src_id",
            "dst_id",
            (
                dot_q.cast("double")
                / F.nullif(
                    F.sqrt(F.col("qn").cast("double"))
                    * F.sqrt(F.col("cn").cast("double")),
                    F.lit(0.0),
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("dst_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src_id", "dst_id", "cosine", F.col("rank").cast("int"))
    )


def pack_sign_words(vec):
    """(lo, hi) BIGINT columns holding the 64 sign bits of ``vec`` in two
    32-bit words — the binary-quantization signature (q166's packing,
    shared so the kNN candidate stage and the BQ search rank the exact
    same integers). Bit i is set iff vec[i] >= 0.

    64-DIM CONTRACT: the signature covers exactly the first 64
    components. Dims beyond 64 are ignored on BOTH engines — here by the
    hard range(0, 64) cap, in the SQL twins by the explicit ``pos < 64``
    bound on _BQ_HI (plans/vectors.py; ADVICE r10 — without that bound
    DuckDB would alias bits 64+ onto bits 32-63 via ``pos % 32``).
    Missing components (shorter vectors) contribute 0 bits identically:
    element_at past the end is NULL -> otherwise(0) here, absent rows ->
    ELSE 0 there."""
    def word(lo_bit, hi_bit):
        acc = None
        for i in range(lo_bit, hi_bit):
            b = F.when(
                F.element_at(vec, i + 1) >= 0, F.lit(1 << (i % 32))
            ).otherwise(F.lit(0))
            acc = b if acc is None else acc + b
        return acc.cast("long")

    return word(0, 32), word(32, 64)


def knn_graph_bq(
    corpus: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
    k: int = 4,
    nprobe: int = 2,
    prerank: int = 16,
) -> DataFrame:
    """[EXT] k-NN graph with a BINARY-QUANTIZED candidate stage — the
    IVF + BQ + exact-re-rank recipe production vector systems run at
    billion-vector scale (FAISS IVF+refine; q166 is the flat-search
    twin of the same idea).

    Why it exists next to :func:`knn_graph`: the round-10 ×64 octave
    measured knn_graph's tail at exponent 2.1–2.4 and decomposed it —
    NOT the coarse assign (linear after the two-level beam: 32→65 s at
    ×32→×64) but the CANDIDATE stage, where k-means imbalance grows
    probed-list sizes (269 → 450 candidates/row per octave) and every
    candidate ships two 64×8-byte quantized vectors through the join
    shuffle (~29 GB at ×64). Here the candidate join carries an 8-byte
    sign signature instead (64× less shuffle), Hamming bit-ops rank the
    candidates, and only the top-``prerank`` per source are re-ranked
    with the exact integer cosine — so raw vectors touch exactly
    n×prerank rows, linear by construction.

    Deterministic and fully oracle-checkable: sign bits, Hamming
    distances, and the re-rank cosine are the same exact integers the
    SQL twin replays; ties break (hamming, dst_id) then
    (cosine DESC NULLS LAST, dst_id). Approximation surface: a true
    top-k neighbor can fall outside the Hamming top-``prerank``
    (measured in tests as recall vs knn_graph; prerank = 4k keeps it
    high at the probe corpora).

    Balanced bounded-capacity posting (round-11, see balanced_posting)
    is available behind SPARK_GRAFT_BALANCED_ASSIGN=1 but OFF by
    default here: the BQ stage already made each candidate 8-byte/
    bit-op cheap, and the round-11 A/B measured the balance machinery
    as pure overhead (+35-74% at salted ×16-×64) for this operator —
    capacity and BQ attack the same term, and BQ alone wins it.
    knn_graph (the exact-fold variant) keeps balance ON.
    """
    # NULL-embedding rows are excluded from the edge population on BOTH
    # sides (ADVICE r10): the SQL twin's unnest produces no rows for a
    # NULL array, so such vec_ids appear neither as src nor dst there —
    # while here a NULL row would pack to lo=hi=0 with a NULL re-rank
    # cosine that desc_nulls_last can still award a rank <= k.
    corpus = corpus.where(F.col(vec_col).isNotNull())
    q = _quantized(vec_col)
    int_norm = F.aggregate(
        F.transform(q, lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    lo, hi = pack_sign_words(F.col(vec_col))
    plo, phi = pack_sign_words(F.col(vec_col))
    # default_on=False: the BQ candidate stage already linearized the
    # shuffle (8-byte signatures), so the balance machinery measured as
    # pure overhead here — see _balance_enabled.
    pr = _shared_probe_frame(
        corpus, centroids, id_col, vec_col, nprobe, default_on=False
    )
    if pr is not None:
        # Balanced path (k >= TWO_LEVEL_MIN_K): shared probe scan +
        # bounded-capacity posting, same discipline as knn_graph — the
        # 8-byte signatures then ride a join whose per-source volume is
        # capped at ~nprobe·cap by construction.
        probes = pr.select(
            F.col(id_col).alias("src_id"),
            plo.alias("qlo"),
            phi.alias("qhi"),
            F.explode(
                F.transform(
                    F.slice(F.col("__probes"), 1, nprobe),
                    lambda p: p["bucket"],
                )
            ).alias("bucket"),
        )
        posting = _balanced_posting_frame(pr, id_col, len(centroids))
        c = (
            ensure_min_parallelism(corpus, F.col(id_col))
            .join(posting, F.col(id_col) == F.col("__bid"))
            .select(
                F.col(id_col).alias("dst_id"),
                F.col("__bbucket").alias("bucket"),
                lo.alias("clo"),
                hi.alias("chi"),
            )
        )
    else:
        probes = _with_probes(corpus, centroids, vec_col, nprobe).select(
            F.col(id_col).alias("src_id"),
            plo.alias("qlo"),
            phi.alias("qhi"),
            F.explode(
                F.transform(F.col("__probes"), lambda p: p["bucket"])
            ).alias("bucket"),
        )
        c = ensure_min_parallelism(corpus, F.col(id_col)).select(
            F.col(id_col).alias("dst_id"),
            F.col(bucket_col).alias("bucket"),
            lo.alias("clo"),
            hi.alias("chi"),
        )
    ham = (
        F.bit_count(F.col("clo").bitwiseXOR(F.col("qlo")))
        + F.bit_count(F.col("chi").bitwiseXOR(F.col("qhi")))
    ).cast("int")
    cw = Window.partitionBy("src_id").orderBy("hamming", "dst_id")
    kept = (
        c.join(probes, "bucket")
        .where(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "dst_id", ham.alias("hamming"))
        .withColumn("cr", F.row_number().over(cw))
        .where(F.col("cr") <= prerank)
        .select("src_id", "dst_id", "hamming")
    )
    # Exact re-rank: raw quantized vectors join back on the BOUNDED
    # n×prerank candidate set only.
    vecs = corpus.select(
        F.col(id_col).alias("__vid"),
        q.alias("__qv"),
        int_norm.alias("__qn"),
    )
    dot_q = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    scored = (
        kept.join(
            vecs.select(
                F.col("__vid").alias("src_id"),
                F.col("__qv").alias("qv"),
                F.col("__qn").alias("qn"),
            ),
            "src_id",
        )
        .join(
            vecs.select(
                F.col("__vid").alias("dst_id"),
                F.col("__qv").alias("cv"),
                F.col("__qn").alias("cn"),
            ),
            "dst_id",
        )
        .select(
            "src_id",
            "dst_id",
            "hamming",
            F.round(
                dot_q.cast("double")
                / F.nullif(
                    F.sqrt(F.col("qn").cast("double"))
                    * F.sqrt(F.col("cn").cast("double")),
                    F.lit(0.0),
                ),
                9,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("dst_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src_id", "dst_id", "hamming", "cosine", F.col("rank").cast("int"))
    )


def semantic_index_probe(
    batch_assigned: DataFrame,
    history_assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """INCREMENTAL semantic dedup: probe a new embedding batch (already
    assigned to its coarse buckets by the FROZEN persisted quantizer)
    against the indexed history — the SemDeDup twin of
    textdedup.minhash_index_probe / multimodal.phash_index_probe.
    History is never re-trained or re-paired with itself; its term
    enters only through the stored (vec_id, bucket) postings joined
    back to their vectors.

    A batch vector is a semantic dup of a history vector when they share
    the assigned bucket AND their exact-decimal cosine >= threshold —
    exactly what q118's batch pipeline would flag had the batch been
    present at index time under the frozen centroids (the SemDeDup
    blocking contract).

    Returns one row per batch vector:
    (vec_id, bucket, n_candidates, n_dups, matched_min_id, is_dup).

    Scale shape: ONE equi-join on the bucket id (candidates = batch ×
    in-bucket history, bounded by bucket sizes, never all-pairs), with
    the candidate pairs re-spread before the scoring fold
    (cosine_neardup_pairs' parallelism discipline); norms are computed
    once per side before the join.
    """
    b = batch_assigned.select(
        F.col(bucket_col).alias("bucket"),
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        norm_exact(F.col(vec_col)).alias("b_n"),
    )
    h = history_assigned.select(
        F.col(bucket_col).alias("bucket"),
        F.col(id_col).alias("h_id"),
        F.col(vec_col).alias("h_vec"),
        norm_exact(F.col(vec_col)).alias("h_n"),
    )
    pairs = b.join(h, "bucket")
    pairs = pairs.repartition(
        pairs.sparkSession.sparkContext.defaultParallelism,
        F.col("b_id"),
        F.col("h_id"),
    )
    scored = pairs.select(
        "b_id",
        "h_id",
        (
            dot_exact(F.col("b_vec"), F.col("h_vec"))
            / F.nullif(F.col("b_n") * F.col("h_n"), F.lit(0.0))
        ).alias("cos"),
    )
    hits = scored.groupBy("b_id").agg(
        F.count("*").alias("n_candidates"),
        F.sum(
            F.when(F.col("cos") >= threshold, 1).otherwise(0)
        ).alias("n_dups"),
        F.min(
            F.when(F.col("cos") >= threshold, F.col("h_id"))
        ).alias("matched_min_id"),
    )
    return (
        batch_assigned.select(
            F.col(id_col).alias("vec_id"),
            F.col(bucket_col).cast("int").alias("bucket"),
        )
        .join(hits, F.col("vec_id") == F.col("b_id"), "left")
        .select(
            "vec_id",
            "bucket",
            F.coalesce("n_candidates", F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.coalesce("n_dups", F.lit(0)).cast("long").alias("n_dups"),
            F.col("matched_min_id").cast("long").alias("matched_min_id"),
            (F.coalesce("n_dups", F.lit(0)) > 0).alias("is_dup"),
        )
    )


def mmr_rerank(
    cand: DataFrame,
    pairsim: DataFrame,
    k: int = 5,
    w_rel: int = 7,
    w_div: int = 3,
) -> DataFrame:
    """Maximal Marginal Relevance diversified re-rank (Carbonell &
    Goldstein, SIGIR 1998): greedily pick the candidate maximizing
    ``w_rel·rel − w_div·max_sim_to_already_selected`` — relevance traded
    against redundancy, the standard post-retrieval diversification in
    RAG context assembly.

    Inputs are integer nano-cosine grids so every comparison is exact on
    any engine: ``cand`` = (query_id, cand_id, rel_n), ``pairsim`` =
    (query_id, a_id, b_id, sim_n) over candidate pairs. Returns
    (query_id, cand_id, sel_rank, rel_n) with sel_rank 1..k; selection 1
    is pure argmax relevance (nothing selected yet), ties always break
    to the smallest cand_id.

    The greedy loop is unrolled as ``k`` DataFrame rounds (anti-join the
    selected set, max-sim agg against it, window argmax) — the identical
    unrolling the SQL oracle spells out, so the whole diversification
    carries a full value oracle. Both inputs are localCheckpointed:
    they are bounded candidate state (|queries|·m and |queries|·m²
    rows), and the k rounds must not replay the corpus-scale candidate
    generation upstream of them.
    """
    cand = cand.localCheckpoint()
    pairsim = pairsim.localCheckpoint()
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("rel_n").desc(), "cand_id"
    )
    sel = (
        cand.withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            "cand_id",
            F.lit(1).cast("int").alias("sel_rank"),
            "rel_n",
        )
    )
    out = sel
    selset = sel.select("query_id", "cand_id")
    for t in range(2, k + 1):
        rem = cand.join(selset, ["query_id", "cand_id"], "left_anti")
        maxsim = (
            pairsim.join(
                selset.withColumnRenamed("cand_id", "b_id"),
                ["query_id", "b_id"],
            )
            .groupBy("query_id", F.col("a_id").alias("cand_id"))
            .agg(F.max("sim_n").alias("maxsim_n"))
        )
        wt = Window.partitionBy("query_id").orderBy(
            (
                F.col("rel_n") * F.lit(w_rel)
                - F.col("maxsim_n") * F.lit(w_div)
            ).desc(),
            "cand_id",
        )
        # Each round's selection is checkpointed (|queries| rows): sel_t
        # is referenced by selset_t AND the output union, and selset_t by
        # round t+1 twice more — without the break the shared subplans
        # re-execute once per reference, ~2^k tiny jobs by round k (the
        # recursive-lineage analogue of the q342 candidate replay).
        sel = (
            rem.join(maxsim, ["query_id", "cand_id"])
            .withColumn("rn", F.row_number().over(wt))
            .where(F.col("rn") == 1)
            .select(
                "query_id",
                "cand_id",
                F.lit(t).cast("int").alias("sel_rank"),
                "rel_n",
            )
            .localCheckpoint()
        )
        out = out.union(sel)
        selset = selset.union(sel.select("query_id", "cand_id"))
    return out


def ivf_hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    bucket_col: str = "bucket",
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """Hard-negative mining: per anchor, the top-k most-similar corpus
    vectors with a DIFFERENT label — the negatives that actually move a
    contrastive loss (random negatives are trivially far; see q325 for
    the cheap random flavor). Same deterministic IVF probe/re-rank shape
    as :func:`ivf_topk_exact` (exact-decimal centroids and cosines), with
    the label-mismatch predicate applied at CANDIDATE stage — filtering
    winners after ranking would silently return fewer than k negatives.
    """
    cent = _centroids_of(corpus, vec_col, bucket_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col(label_col).alias("q_label"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("c_cos").desc_nulls_last(), F.col("bucket")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "q_vec",
            "q_label",
            "bucket",
            cosine_exact(F.col("q_vec"), F.col("centroid")).alias("c_cos"),
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= nprobe)
        .select("query_id", "q_vec", "q_label", "bucket")
    )
    c = ensure_min_parallelism(corpus, F.col(id_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(bucket_col).alias("bucket"),
        F.col(label_col).alias("c_label"),
        F.col(vec_col).alias("c_vec"),
        norm_exact(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(probes), "bucket")
        .where(
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("c_label") != F.col("q_label"))
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_exact(F.col("q_vec"), F.col("c_vec"))
                / F.nullif(norm_exact(F.col("q_vec")) * F.col("cn"), F.lit(0.0))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


def mmr_rerank_arrow(
    cand: DataFrame,
    pairsim: DataFrame,
    k: int = 5,
    w_rel: int = 7,
    w_div: int = 3,
) -> DataFrame:
    """Arrow execution of :func:`mmr_rerank`: ONE shuffle by query_id and
    the greedy loop runs per group in a cogrouped applyInPandas — the
    shape that serves millions of queries in parallel at cluster scale
    (per-query state is the bounded m-candidate set, exactly the
    sanctioned bounded-state Arrow seam the unigram-LM trainer uses).
    The unrolled-join :func:`mmr_rerank` stays as the relational
    semantics reference; tests pin the two row-for-row equal (the SNM
    windowed-vs-bucketed discipline), and the SQL oracle replays the
    unrolled form. Ties and integer grids are identical: argmax of
    ``w_rel·rel − w_div·max_sim``, ties to the smallest cand_id."""
    import pandas as pd

    # Bounded candidate state, checkpointed: (a) the upstream candidate
    # generation must not replay per reference, and (b) pairsim usually
    # DERIVES from cand, which the analyzer would reject as an ambiguous
    # self-join under cogroup — the checkpoint gives each side fresh
    # attribute ids.
    cand = cand.localCheckpoint()
    pairsim = pairsim.localCheckpoint()

    out_schema = "query_id long, cand_id long, sel_rank int, rel_n long"
    empty = {
        "query_id": pd.Series(dtype="int64"),
        "cand_id": pd.Series(dtype="int64"),
        "sel_rank": pd.Series(dtype="int32"),
        "rel_n": pd.Series(dtype="int64"),
    }

    def select(cdf: "pd.DataFrame", pdf: "pd.DataFrame") -> "pd.DataFrame":
        # NULL rel_n / sim_n values (possible via _candidate_pairsim's
        # NULLIF zero-norm guard) mirror the relational unroll EXACTLY
        # (ADVICE r9 — the first draft dropna'd them, which diverged in
        # the all-NULL edge): a NULL never beats a non-NULL (desc NULLS
        # LAST ordering) but remains a last-resort pick by smallest
        # cand_id when every remaining score is NULL, a NULL-sim pair
        # still keeps its candidate inner-join-eligible for the round,
        # and max() skips NULL sims (all-NULL -> NULL maxsim -> NULL
        # score). Nullable values ride as Python None (pandas floats
        # would corrupt the int64 grid).
        if cdf.empty:
            return pd.DataFrame(empty)
        q = int(cdf["query_id"].iloc[0])
        rel = {
            int(c): (None if pd.isna(r) else int(r))
            for c, r in zip(cdf["cand_id"], cdf["rel_n"])
        }
        sims = {
            (int(a), int(b)): (None if pd.isna(s) else int(s))
            for a, b, s in zip(pdf["a_id"], pdf["b_id"], pdf["sim_n"])
        }
        # Round 1: pure relevance, rel_n desc NULLS LAST, ties to the
        # smallest cand_id — identical to the w1 window.
        sel = [
            min(rel, key=lambda c: (rel[c] is None, -(rel[c] or 0), c))
        ]
        while len(sel) < k and len(sel) < len(rel):
            # Inner-join semantics, exactly as the unrolled reference: a
            # candidate participates in round t only through the sim
            # pairs it HAS against already-selected items (a hybrid list
            # can carry lexical-only ids with no embedding — q342 at
            # sf0.1 — which can win the pure-relevance round 1 but are
            # never diversity-scored afterwards).
            scored = []
            for c in rel:
                if c in sel:
                    continue
                ps = [sims[(c, s)] for s in sel if (c, s) in sims]
                if not ps:
                    continue
                nn = [p for p in ps if p is not None]
                maxsim = max(nn) if nn else None
                score = (
                    w_rel * rel[c] - w_div * maxsim
                    if rel[c] is not None and maxsim is not None
                    else None
                )
                scored.append((c, score))
            if not scored:
                break
            sel.append(
                min(
                    scored,
                    key=lambda cm: (cm[1] is None, -(cm[1] or 0), cm[0]),
                )[0]
            )
        return pd.DataFrame(
            {
                "query_id": pd.Series([q] * len(sel), dtype="int64"),
                "cand_id": pd.Series(sel, dtype="int64"),
                "sel_rank": pd.Series(
                    range(1, len(sel) + 1), dtype="int32"
                ),
                "rel_n": pd.array([rel[c] for c in sel], dtype="Int64"),
            }
        )

    return (
        cand.groupBy("query_id")
        .cogroup(pairsim.groupBy("query_id"))
        .applyInPandas(select, out_schema)
    )
