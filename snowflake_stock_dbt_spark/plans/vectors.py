"""[EXT] Embedding similarity-search queries over the ``embeddings`` table.

q25 is the exact brute-force top-k (decimal-exact dot products —
deterministic across engines). q26 (IVF) and q56 (random-hyperplane LSH)
are the two approximate scale paths; both run a deterministic
exact-decimal profile so even the pruning pipelines are hash-checked
against full SQL oracles. The float fast path (ivf_topk/cosine_fast) is
the production profile and is recall-gated in tests against exact brute
force.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..functions.localframe import local_frame

from ..operators.similarity import (
    KMEANS_SCALE as _KMEANS_SCALE,
    LSH_ANN_BITS,
    LSH_ANN_BANDS,
    cosine_neardup_pairs,
    cosine_topk_exact,
    ivf_topk,
    ivf_topk_exact,
    lsh_hyperplanes,
    lsh_topk,
)
from ..sources.tables import load_table, session_memo

N_QUERY_VECS = 5
TOP_K = 3
#: Embedding width of the test corpus (TESTDATA embeddings.parquet); passed
#: to LSH so plan construction needs no driver-side probe job.
EMBED_DIM = 64
NEARDUP_THRESHOLD = 0.3


def q25_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    out = cosine_topk_exact(queries, emb, k=TOP_K)
    # Decimal→double conversion is correctly rounded in Spark but double-
    # rounded in DuckDB (int128 → double → /1e18), so cosines can differ by
    # 1 ulp; round to 9 dp for the cross-engine contract. Ranking still uses
    # full precision inside the operator.
    return out.withColumn("cosine", F.round(F.col("cosine"), 9))


Q25_SQL = f"""
WITH q AS (
    SELECT vec_id AS q_id, embedding AS e FROM embeddings WHERE vec_id < {N_QUERY_VECS}
),
qe AS (
    SELECT q_id, CAST(r.i AS INT) AS pos, CAST(e[r.i + 1] AS DOUBLE) AS v
    FROM q CROSS JOIN range(0, 4096) r(i) WHERE r.i < len(e)
),
ce AS (
    SELECT vec_id AS c_id, CAST(r.i AS INT) AS pos, CAST(embedding[r.i + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(0, 4096) r(i) WHERE r.i < len(embedding)
),
dots AS (
    SELECT q_id, c_id,
           CAST(SUM(CAST(qe.v * ce.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM qe JOIN ce USING (pos)
    WHERE q_id <> c_id
    GROUP BY q_id, c_id
),
qn AS (
    SELECT q_id, sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)) AS qn
    FROM qe GROUP BY q_id
),
cn AS (
    SELECT c_id, sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)) AS cn
    FROM ce GROUP BY c_id
),
scored AS (
    SELECT q_id AS query_id, c_id AS neighbor_id,
           dot / NULLIF(qn * cn, 0.0) AS cosine
    FROM dots JOIN qn USING (q_id) JOIN cn USING (c_id)
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id
    ) AS INT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 9) AS cosine, rank
FROM ranked WHERE rank <= {TOP_K}
"""


IVF_NPROBE = 2


def q26_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k, deterministic profile: exact-decimal
    centroids + exact-cosine probe/re-rank make the whole pruning pipeline
    bit-reproducible, so even this approximate operator carries a full
    value oracle (the float fast path, ivf_topk, stays available and is
    recall-gated against exact brute force in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    out = ivf_topk_exact(queries, emb, k=TOP_K, nprobe=IVF_NPROBE)
    return out.withColumn("cosine", F.round(F.col("cosine"), 9))


Q26_SQL = f"""
WITH u AS (
    SELECT vec_id, label, CAST(r.i AS INT) AS pos,
           CAST(embedding[r.i + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(0, 4096) r(i) WHERE r.i < len(embedding)
),
cent AS (
    SELECT label AS bucket, pos,
           CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS cv
    FROM u GROUP BY 1, 2
),
centn AS (
    SELECT bucket,
           sqrt(CAST(SUM(CAST(cv * cv AS DECIMAL(38,18))) AS DOUBLE)) AS cnn
    FROM cent GROUP BY bucket
),
qe AS (
    SELECT vec_id AS query_id, pos, v FROM u WHERE vec_id < {N_QUERY_VECS}
),
qn AS (
    SELECT query_id,
           sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)) AS qnn
    FROM qe GROUP BY query_id
),
pd AS (
    SELECT query_id, bucket,
           CAST(SUM(CAST(qe.v * cent.cv AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM qe JOIN cent USING (pos) GROUP BY 1, 2
),
probes AS (
    SELECT query_id, bucket FROM (
        SELECT pd.query_id, pd.bucket,
               ROW_NUMBER() OVER (PARTITION BY pd.query_id
                   ORDER BY pd.dot / NULLIF(qn.qnn * centn.cnn, 0.0)
                            DESC NULLS LAST, pd.bucket) AS pr
        FROM pd
        JOIN qn ON qn.query_id = pd.query_id
        JOIN centn ON centn.bucket = pd.bucket
    ) WHERE pr <= {IVF_NPROBE}
),
cn AS (
    SELECT vec_id,
           sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)) AS cnn
    FROM u GROUP BY vec_id
),
dots AS (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           CAST(SUM(CAST(q.v * c.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM probes p
    JOIN u c ON c.label = p.bucket AND c.vec_id <> p.query_id
    JOIN qe q ON q.query_id = p.query_id AND q.pos = c.pos
    GROUP BY 1, 2
),
scored AS (
    SELECT dots.query_id, dots.neighbor_id,
           dots.dot / NULLIF(qn.qnn * cn.cnn, 0.0) AS cosine
    FROM dots
    JOIN qn ON qn.query_id = dots.query_id
    JOIN cn ON cn.vec_id = dots.neighbor_id
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id
    ) AS INT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 9) AS cosine, rank
FROM ranked WHERE rank <= {TOP_K}
"""


def q40_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by the ``label`` cluster
    column (the synthetic corpus has no true near-dups — max within-block
    cosine ≈ 0.47 — so the threshold is set inside the observed range to
    exercise the operator non-trivially)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_neardup_pairs(emb, threshold=NEARDUP_THRESHOLD)
    # Same 1-ulp decimal->double note as q25: round for the contract only.
    return out.withColumn("cosine", F.round(F.col("cosine"), 9))


Q40_SQL = f"""
WITH u AS (
    SELECT vec_id, label, CAST(r.i AS INT) AS pos,
           CAST(embedding[r.i + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(0, 4096) r(i) WHERE r.i < len(embedding)
),
n AS (
    SELECT vec_id, sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)) AS nn
    FROM u GROUP BY vec_id
),
d AS (
    SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(SUM(CAST(a.v * b.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM u a JOIN u b
      ON a.label = b.label AND a.pos = b.pos AND a.vec_id < b.vec_id
    GROUP BY 1, 2, 3
),
scored AS (
    SELECT id_a, id_b, block,
           dot / NULLIF(na.nn * nb.nn, 0.0) AS cosine
    FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
)
SELECT id_a, id_b, block, round(cosine, 9) AS cosine
FROM scored WHERE cosine >= {NEARDUP_THRESHOLD}
"""


def q56_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: fixed random-hyperplane signatures → band-bucket
    candidates → exact-cosine re-rank. Fully deterministic, so unlike IVF
    (q26) this approximate path carries a complete value oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    out = lsh_topk(queries, emb, k=TOP_K, dim=EMBED_DIM)
    return out.withColumn("cosine", F.round(F.col("cosine"), 9))


def _planes_values_sql() -> str:
    """The ±1 hyperplane matrix as a VALUES table — the same literals the
    Spark plan embeds (operators/similarity.py:lsh_hyperplanes)."""
    planes = lsh_hyperplanes(64, LSH_ANN_BITS)
    rows = ", ".join(
        f"({b}, {p}, {s})"
        for b, plane in enumerate(planes)
        for p, s in enumerate(plane)
    )
    return f"planes(bit, pos, s) AS (VALUES {rows})"


_BAND_ROWS = LSH_ANN_BITS // LSH_ANN_BANDS

Q56_SQL = f"""
WITH {_planes_values_sql()},
u AS (
    SELECT vec_id, CAST(r.i AS INT) AS pos,
           CAST(embedding[r.i + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(0, 4096) r(i) WHERE r.i < len(embedding)
),
bits AS (
    SELECT vec_id, bit,
           SUM(CAST(v * s AS DECIMAL(38,18))) > 0 AS b
    FROM u JOIN planes USING (pos)
    GROUP BY vec_id, bit
),
banded AS (
    SELECT vec_id, bit // {_BAND_ROWS} AS band_id,
           CAST(SUM(CASE WHEN b THEN 1 << (bit % {_BAND_ROWS}) ELSE 0 END) AS INT)
               AS band_val
    FROM bits GROUP BY vec_id, bit // {_BAND_ROWS}
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM banded q
    JOIN banded c ON q.band_id = c.band_id AND q.band_val = c.band_val
    WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
),
n AS (
    SELECT vec_id, sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)) AS nn
    FROM u GROUP BY vec_id
),
dots AS (
    SELECT query_id, neighbor_id,
           CAST(SUM(CAST(a.v * b.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM cand
    JOIN u a ON a.vec_id = query_id
    JOIN u b ON b.vec_id = neighbor_id AND a.pos = b.pos
    GROUP BY 1, 2
),
scored AS (
    SELECT query_id, neighbor_id,
           dot / NULLIF(nq.nn * nc.nn, 0.0) AS cosine
    FROM dots
    JOIN n nq ON nq.vec_id = query_id
    JOIN n nc ON nc.vec_id = neighbor_id
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id
    ) AS INT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 9) AS cosine, rank
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Q78 — Scalar (int8) embedding quantization profile: per-dimension
# min/max ranges, uint8 codes, and reconstruction error — the storage-
# reduction pass a 100 TB embedding store runs before serving (4× smaller
# than float32, re-ranked with full precision where it matters). Two keyed
# aggs + one broadcast join-back of the 64-row stats frame; the error
# average uses the exact-decimal recipe so both engines agree bit-for-bit.
# ---------------------------------------------------------------------------


def q78_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.partitioning import ensure_min_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    u = (
        ensure_min_parallelism(emb, F.col("vec_id"))
        .select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .withColumn("v", F.col("v").cast("double"))
    )
    stats = u.groupBy("pos").agg(
        F.min("v").alias("dmin"), F.max("v").alias("dmax")
    )
    j = u.join(F.broadcast(stats), "pos")
    span = F.nullif(F.col("dmax") - F.col("dmin"), F.lit(0.0))
    code = F.floor((F.col("v") - F.col("dmin")) / span * 255)
    dq = F.col("dmin") + code * (F.col("dmax") - F.col("dmin")) / 255
    err = F.abs(F.col("v") - dq)
    return (
        j.select("pos", "dmin", "dmax", err.alias("err"))
        .groupBy("pos")
        .agg(
            F.min("dmin").alias("dmin"),
            F.min("dmax").alias("dmax"),
            F.count("*").alias("n_vecs"),
            # Same 1-ulp decimal->double note as q25: round for the
            # cross-engine contract only.
            F.round(
                F.sum(F.col("err").cast("decimal(38,18)")).cast("double")
                / F.count("*").cast("double"),
                9,
            ).alias("mean_abs_err"),
            F.max("err").alias("max_abs_err"),
        )
        .withColumn("pos", F.col("pos").cast("int"))
        .orderBy("pos")
    )


Q78_SQL = """
WITH u AS (
    SELECT vec_id, CAST(r.i AS INT) AS pos,
           CAST(embedding[r.i + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(0, 4096) r(i) WHERE r.i < len(embedding)
),
stats AS (
    SELECT pos, MIN(v) AS dmin, MAX(v) AS dmax FROM u GROUP BY pos
),
coded AS (
    SELECT u.pos, stats.dmin, stats.dmax,
           abs(v - (stats.dmin
               + floor((v - stats.dmin) / NULLIF(stats.dmax - stats.dmin, 0) * 255)
                 * (stats.dmax - stats.dmin) / 255)) AS err
    FROM u JOIN stats USING (pos)
)
SELECT pos, MIN(dmin) AS dmin, MIN(dmax) AS dmax,
       COUNT(*) AS n_vecs,
       round(CAST(SUM(CAST(err AS DECIMAL(38,18))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE), 9) AS mean_abs_err,
       MAX(err) AS max_abs_err
FROM coded
GROUP BY pos
ORDER BY pos
"""


# ---------------------------------------------------------------------------
# Q106 — IVF ANN over a TRAINED coarse quantizer: deterministic distributed
# Lloyd's k-means (operators/similarity.py:kmeans_assign — exact integer
# arithmetic over floor-quantized components) buckets the corpus, then the
# q26 probe/re-rank machinery searches the nprobe closest trained buckets.
# The oracle UNROLLS the identical training iterations in SQL (seed hash →
# assign → integer-mean update, repeated), then replays the q26 search over
# the trained assignment — so even the trained pipeline is hash-checked
# end-to-end. Recall vs exact brute force is gated in tests next to q26's.
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2


def q106_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = kmeans_assign(
        emb, k=KMEANS_K, iters=KMEANS_ITERS,
        cache_key=(sf_dir, "full"),
    )
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    out = ivf_topk_exact(
        queries, bucketed, bucket_col="bucket", k=TOP_K, nprobe=IVF_NPROBE
    )
    return out.withColumn("cosine", F.round(F.col("cosine"), 9))


def _kmeans_unrolled_sql(
    k: int | str, iters: int, train_pred: str | None = None
) -> str:
    """Generate the DuckDB twin of kmeans_assign: cent0 from hash-seeds,
    then per iteration an exact-integer distance argmin + integer-mean
    update, ending in the final assignment CTE ``asgf``.

    ``k`` may be an int literal (q106's fixed IVF list count) or a SQL
    scalar-subquery string (q118's size-derived SemDeDup cluster count) —
    it only ever appears in the seed-cutoff predicate.

    ``train_pred`` (a predicate over bare ``vec_id``) restricts the
    TRAINING population — seeding, per-iteration assignment, centroid
    updates — while the FINAL ``asgf`` assignment still covers the whole
    corpus: the frozen-centroid index-maintenance shape (q332 trains on
    the initial ingest, then assigns a later batch with the saved
    quantizer). ``None`` keeps the historical SQL text byte-identical."""
    from ..functions.text import hash60_sql

    seed_h = hash60_sql("'seed:' || CAST(vec_id AS VARCHAR)")
    sh_where = f" WHERE ({train_pred})" if train_pred else ""
    parts = [
        f"""u AS (
    SELECT vec_id, CAST(r.i AS INT) AS pos,
           CAST(embedding[r.i + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(0, 4096) r(i) WHERE r.i < len(embedding)
),
ui AS (
    SELECT vec_id, pos, CAST(FLOOR(v * {float(_KMEANS_SCALE)}) AS BIGINT) AS v9 FROM u
),
sh AS (
    SELECT vec_id,
           ROW_NUMBER() OVER (ORDER BY {seed_h}, vec_id) - 1 AS bucket
    FROM embeddings{sh_where}
),
cent0 AS (
    SELECT s.bucket, ui.pos, ui.v9 AS c9
    FROM sh s JOIN ui ON ui.vec_id = s.vec_id WHERE s.bucket < ({k})
)"""
    ]
    prev = "cent0"
    for t in range(1, iters + 2):
        last = t == iters + 1
        asg = "asgf" if last else f"asg{t}"
        dist_where = (
            f"\n    WHERE ({train_pred})" if train_pred and not last else ""
        )
        parts.append(
            f""",
dist{t} AS (
    SELECT ui.vec_id, c.bucket,
           SUM(CAST(ui.v9 - c.c9 AS HUGEINT)
             * CAST(ui.v9 - c.c9 AS HUGEINT)) AS d
    FROM ui JOIN {prev} c USING (pos){dist_where}
    GROUP BY ui.vec_id, c.bucket
),
{asg} AS (
    SELECT vec_id, bucket FROM (
        SELECT vec_id, bucket,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, bucket) AS rn
        FROM dist{t}
    ) WHERE rn = 1
)"""
        )
        if not last:
            parts.append(
                f""",
cent{t} AS (
    SELECT a.bucket, ui.pos, SUM(ui.v9) // COUNT(*) AS c9
    FROM asg{t} a JOIN ui USING (vec_id)
    GROUP BY a.bucket, ui.pos
)"""
            )
            prev = f"cent{t}"
    return "".join(parts)


Q106_SQL = f"""
WITH {_kmeans_unrolled_sql(KMEANS_K, KMEANS_ITERS)},
cent AS (
    SELECT a.bucket, u.pos,
           CAST(SUM(CAST(u.v AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS cv
    FROM asgf a JOIN u USING (vec_id) GROUP BY 1, 2
),
centn AS (
    SELECT bucket,
           sqrt(CAST(SUM(CAST(cv * cv AS DECIMAL(38,18))) AS DOUBLE)) AS cnn
    FROM cent GROUP BY bucket
),
qe AS (
    SELECT vec_id AS query_id, pos, v FROM u WHERE vec_id < {N_QUERY_VECS}
),
qn AS (
    SELECT query_id,
           sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)) AS qnn
    FROM qe GROUP BY query_id
),
pd AS (
    SELECT query_id, bucket,
           CAST(SUM(CAST(qe.v * cent.cv AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM qe JOIN cent USING (pos) GROUP BY 1, 2
),
probes AS (
    SELECT query_id, bucket FROM (
        SELECT pd.query_id, pd.bucket,
               ROW_NUMBER() OVER (PARTITION BY pd.query_id
                   ORDER BY pd.dot / NULLIF(qn.qnn * centn.cnn, 0.0)
                            DESC NULLS LAST, pd.bucket) AS pr
        FROM pd
        JOIN qn ON qn.query_id = pd.query_id
        JOIN centn ON centn.bucket = pd.bucket
    ) WHERE pr <= {IVF_NPROBE}
),
cn AS (
    SELECT vec_id,
           sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)) AS cnn
    FROM u GROUP BY vec_id
),
dots AS (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           CAST(SUM(CAST(q.v * c.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM probes p
    JOIN asgf ac ON ac.bucket = p.bucket
    JOIN u c ON c.vec_id = ac.vec_id AND c.vec_id <> p.query_id
    JOIN qe q ON q.query_id = p.query_id AND q.pos = c.pos
    GROUP BY 1, 2
),
scored AS (
    SELECT dots.query_id, dots.neighbor_id,
           dots.dot / NULLIF(qn.qnn * cn.cnn, 0.0) AS cosine
    FROM dots
    JOIN qn ON qn.query_id = dots.query_id
    JOIN cn ON cn.vec_id = dots.neighbor_id
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id
    ) AS INT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 9) AS cosine, rank
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Q118 — semantic dedup (SemDeDup, Abbas et al. 2023): trained k-means
# clusters as the blocker, exact cosine within clusters, drop every
# vector with a lower-id near-dup. Composes q106's trained quantizer with
# q40's blocked exact scoring — all-pairs never happens; candidate volume
# is per-cluster quadratic, the quantity the clustering bounds.
# The oracle unrolls the identical k-means, replays the in-cluster pair
# cosines with the DECIMAL(38,18) recipe, and applies the same keep rule.
# SCALE CONTRACT (tools/scale_probe.py, PLANS.md §9): k is SIZE-DERIVED —
# k = ceil(n / SEMDEDUP_TARGET_CLUSTER), SemDeDup's actual contract
# (Abbas et al. 2023 hold cluster SIZE roughly constant: ~100k clusters
# over ~100M embeddings). Cluster sizes therefore stay ~constant as the
# corpus grows, so in-cluster pair volume is n × target = LINEAR; the
# round-3 (n/k)^2 hazard at fixed k=8 is gone by construction. At the
# sf0.01 gate (n=500) the formula yields exactly k=8, so this change is
# bit-identical to the previously-verified fixed-k registration. The one
# count() is bounded driver state (MLlib's KMeans does the same).
# ---------------------------------------------------------------------------

SEMDEDUP_THRESHOLD = 0.3
#: Target in-cluster size for semantic dedup: k = ceil(n / this).
SEMDEDUP_TARGET_CLUSTER = 64


def _corpus_rows(spark: SparkSession, sf_dir: str, emb: DataFrame) -> int:
    """The embeddings row count as a DRIVER int (k = ceil(n/target) sizes
    the seed collect), memoized per corpus state."""
    return session_memo(spark, sf_dir, "embeddings_rows", emb.count)


def _size_derived_k(spark: SparkSession, sf_dir: str, emb: DataFrame) -> int:
    """k = ceil(n / SEMDEDUP_TARGET_CLUSTER): the size-derived coarse
    cluster count that keeps PER-BUCKET candidate work bounded (the q118
    contract; knn_graph's docstring names it as the requirement). At the
    oracle corpus (sf0.01, n=500) this is exactly KMEANS_K=8, so every
    static unrolled-k oracle stays bit-correct where it is evaluated."""
    import math

    n = _corpus_rows(spark, sf_dir, emb)
    return max(1, math.ceil(n / SEMDEDUP_TARGET_CLUSTER))


def q118_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        cosine_neardup_pairs,
        kmeans_assign,
        split_oversized_blocks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k = _size_derived_k(spark, sf_dir, emb)
    bucketed = kmeans_assign(
        emb, k=k, iters=KMEANS_ITERS, cache_key=(sf_dir, "full")
    )
    # At scale (k >= TWO_LEVEL_MIN_K — where kmeans_assign persists the
    # assigned frame, so the one extra |blocks|-row size agg is a cached
    # read), pair generation blocks on hash-split-capped clusters:
    # k-means balance degrades with corpus size (round-9 probe: max
    # cluster 256 = 4× target at ×16, candidate pairs +2.35× per
    # doubling) and the cap bounds pair volume linearly. Below the
    # threshold the balance is measured fine (max cluster 74–79 at
    # sf0.001/0.01/0.1 vs cap 128) and the unpersisted frame would pay
    # a third assign evaluation for the size agg (measured +55% on the
    # sf0.1 suite number), so the plan blocks on the raw bucket —
    # byte-identical to round 8, Q118_SQL untouched.
    from ..operators.similarity import TWO_LEVEL_MIN_K

    if k >= TWO_LEVEL_MIN_K:
        blocked, blk_col = (
            split_oversized_blocks(bucketed, "bucket", "vec_id"),
            "__blk",
        )
    else:
        blocked, blk_col = bucketed, "bucket"
    pairs = cosine_neardup_pairs(
        blocked, block_col=blk_col, threshold=SEMDEDUP_THRESHOLD
    )
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return (
        bucketed.select("vec_id", "bucket")
        .join(dropped.withColumn("_d", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("bucket").cast("int").alias("bucket"),
            F.col("_d").isNull().alias("kept"),
        )
    )


Q118_SQL = f"""
WITH {{KMEANS_CTES}},
nrm AS (
    SELECT vec_id,
           sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)) AS nn
    FROM u GROUP BY vec_id
),
pd AS (
    SELECT a1.vec_id AS id_a, a2.vec_id AS id_b,
           CAST(SUM(CAST(ua.v * ub.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM asgf a1
    JOIN asgf a2 ON a1.bucket = a2.bucket AND a1.vec_id < a2.vec_id
    JOIN u ua ON ua.vec_id = a1.vec_id
    JOIN u ub ON ub.vec_id = a2.vec_id AND ub.pos = ua.pos
    GROUP BY 1, 2
),
dropped AS (
    SELECT DISTINCT id_b AS vec_id
    FROM pd
    JOIN nrm na ON na.vec_id = pd.id_a
    JOIN nrm nb ON nb.vec_id = pd.id_b
    WHERE pd.dot / NULLIF(na.nn * nb.nn, 0.0) >= {SEMDEDUP_THRESHOLD}
)
SELECT a.vec_id, CAST(a.bucket AS INT) AS bucket,
       (d.vec_id IS NULL) AS kept
FROM asgf a LEFT JOIN dropped d ON d.vec_id = a.vec_id
""".replace(
    "{KMEANS_CTES}",
    _kmeans_unrolled_sql(
        "SELECT CAST(CEIL(COUNT(*) / "
        f"{float(SEMDEDUP_TARGET_CLUSTER)}) AS BIGINT) FROM embeddings",
        KMEANS_ITERS,
    ),
)



# ---------------------------------------------------------------------------
# Q145 — product quantization (Jégou et al. 2011; operators/similarity.py:
# pq_encode): m=4 independent per-subspace k-means codebooks (k=16, the
# same deterministic integer Lloyd's as q106) encode every vector as 4
# codes + its EXACT integer squared reconstruction error. The oracle
# unrolls ALL FOUR training chains in SQL (suffixed q106-style CTEs) and
# replays the error against each chain's final centroids, so the whole
# train+encode pipeline is hash-checked.
# ---------------------------------------------------------------------------

PQ_M = 4
PQ_K = 16
PQ_ITERS = 2


def q145_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_encode(
        emb, dim=EMBED_DIM, m=PQ_M, k=PQ_K, iters=PQ_ITERS,
        cache_key=(sf_dir,),
    )


def _kmeans_unrolled_sub_sql(
    k: int, iters: int, lo: int, width: int, sfx: str
) -> str:
    """Per-subspace DuckDB twin of kmeans_assign over
    ``embedding[lo+1 : lo+width]`` with every CTE name suffixed, so m
    independent chains coexist in one WITH (the q106 generator's shape,
    parameterized for PQ)."""
    from ..functions.text import hash60_sql

    seed_h = hash60_sql("'seed:' || CAST(vec_id AS VARCHAR)")
    parts = [
        f"""u{sfx} AS (
    SELECT vec_id, CAST(r.i AS INT) AS pos,
           CAST(embedding[r.i + {lo + 1}] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(0, {width}) r(i)
),
ui{sfx} AS (
    SELECT vec_id, pos,
           CAST(FLOOR(v * {float(_KMEANS_SCALE)}) AS BIGINT) AS v9
    FROM u{sfx}
),
sh{sfx} AS (
    SELECT vec_id,
           ROW_NUMBER() OVER (ORDER BY {seed_h}, vec_id) - 1 AS bucket
    FROM embeddings
),
cent0{sfx} AS (
    SELECT s.bucket, ui.pos, ui.v9 AS c9
    FROM sh{sfx} s JOIN ui{sfx} ui ON ui.vec_id = s.vec_id
    WHERE s.bucket < {k}
)"""
    ]
    prev = f"cent0{sfx}"
    for t in range(1, iters + 2):
        last = t == iters + 1
        asg = f"asgf{sfx}" if last else f"asg{t}{sfx}"
        parts.append(
            f""",
dist{t}{sfx} AS (
    SELECT ui.vec_id, c.bucket,
           SUM(CAST(ui.v9 - c.c9 AS HUGEINT)
             * CAST(ui.v9 - c.c9 AS HUGEINT)) AS d
    FROM ui{sfx} ui JOIN {prev} c USING (pos)
    GROUP BY ui.vec_id, c.bucket
),
{asg} AS (
    SELECT vec_id, bucket FROM (
        SELECT vec_id, bucket,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, bucket) AS rn
        FROM dist{t}{sfx}
    ) WHERE rn = 1
)"""
        )
        if not last:
            parts.append(
                f""",
cent{t}{sfx} AS (
    SELECT a.bucket, ui.pos, SUM(ui.v9) // COUNT(*) AS c9
    FROM asg{t}{sfx} a JOIN ui{sfx} ui USING (vec_id)
    GROUP BY a.bucket, ui.pos
)"""
            )
            prev = f"cent{t}{sfx}"
    parts.append(
        f""",
err{sfx} AS (
    SELECT a.vec_id, a.bucket,
           SUM(CAST(ui.v9 - c.c9 AS HUGEINT)
             * CAST(ui.v9 - c.c9 AS HUGEINT)) AS e
    FROM asgf{sfx} a
    JOIN ui{sfx} ui ON ui.vec_id = a.vec_id
    JOIN cent{iters}{sfx} c ON c.bucket = a.bucket AND c.pos = ui.pos
    GROUP BY 1, 2
)"""
    )
    return "".join(parts)


def _pq_oracle_sql(m: int, k: int, iters: int, dim: int) -> str:
    width = dim // m
    chains = ",".join(
        _kmeans_unrolled_sub_sql(k, iters, j * width, width, f"_s{j}")
        for j in range(m)
    )
    code_cols = ", ".join(
        f"CAST(err_s{j}.bucket AS INT) AS code_{j}" for j in range(m)
    )
    err_sum = " + ".join(f"err_s{j}.e" for j in range(m))
    joins = " ".join(
        f"JOIN err_s{j} USING (vec_id)" for j in range(1, m)
    )
    return f"""
WITH {chains}
SELECT err_s0.vec_id, {code_cols},
       CAST({err_sum} AS BIGINT) AS sq_err
FROM err_s0 {joins}
"""


Q145_SQL = _pq_oracle_sql(PQ_M, PQ_K, PQ_ITERS, EMBED_DIM)


# ---------------------------------------------------------------------------
# Q150 — IVF-PQ search with asymmetric distance computation: the FULL
# FAISS recipe (coarse pruning + per-query LUTs over PQ codes) composed
# from the engine's trained quantizers (operators/similarity.py:
# ivfpq_search). The oracle unrolls the coarse chain AND all four PQ
# chains, rebuilds the per-query LUTs in SQL, and replays the ADC
# ranking — every number exact int64 on the quantization grid.
# ---------------------------------------------------------------------------


def q150_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivfpq_search

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    return ivfpq_search(
        emb,
        queries,
        dim=EMBED_DIM,
        coarse_k=KMEANS_K,
        nprobe=IVF_NPROBE,
        m=PQ_M,
        pq_k=PQ_K,
        iters=PQ_ITERS,
        topk=TOP_K,
        cache_key=(sf_dir,),
    )


def _ivfpq_oracle_sql() -> str:
    m, k_pq, iters, dim = PQ_M, PQ_K, PQ_ITERS, EMBED_DIM
    width = dim // m
    coarse = _kmeans_unrolled_sql(KMEANS_K, iters)
    chains = ",".join(
        _kmeans_unrolled_sub_sql(k_pq, iters, j * width, width, f"_s{j}")
        for j in range(m)
    )
    luts = ",".join(
        f"""
lut{j} AS (
    SELECT q.vec_id AS query_id, c.bucket AS code,
           SUM(CAST(q.v9 - c.c9 AS HUGEINT)
             * CAST(q.v9 - c.c9 AS HUGEINT)) AS d
    FROM ui_s{j} q JOIN cent{iters}_s{j} c USING (pos)
    WHERE q.vec_id < {N_QUERY_VECS}
    GROUP BY 1, 2
)"""
        for j in range(m)
    )
    code_joins = " ".join(
        f"JOIN asgf_s{j} a{j} ON a{j}.vec_id = cand.neighbor_id "
        f"JOIN lut{j} l{j} ON l{j}.query_id = cand.query_id "
        f"AND l{j}.code = a{j}.bucket"
        for j in range(m)
    )
    adc = " + ".join(f"l{j}.d" for j in range(m))
    return f"""
WITH {coarse},{chains},
qd AS (
    SELECT ui.vec_id, c.bucket,
           SUM(CAST(ui.v9 - c.c9 AS HUGEINT)
             * CAST(ui.v9 - c.c9 AS HUGEINT)) AS d
    FROM ui JOIN cent{iters} c USING (pos)
    WHERE ui.vec_id < {N_QUERY_VECS}
    GROUP BY 1, 2
),
probes AS (
    SELECT vec_id AS query_id, bucket FROM (
        SELECT vec_id, bucket,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, bucket) AS rn
        FROM qd
    ) WHERE rn <= {IVF_NPROBE}
),{luts},
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN asgf a ON a.bucket = p.bucket
    WHERE a.vec_id <> p.query_id
),
scored AS (
    SELECT cand.query_id, cand.neighbor_id, {adc} AS adc
    FROM cand {code_joins}
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adc, neighbor_id
    ) AS INT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(adc AS BIGINT) AS adc_dist, rank
FROM ranked WHERE rank <= {TOP_K}
"""


Q150_SQL = _ivfpq_oracle_sql()


# ---------------------------------------------------------------------------
# Q151 — approximate k-NN GRAPH over the whole corpus: every vector is a
# query; candidates come from the nprobe trained coarse clusters nearest
# each vector (operators/similarity.py:knn_graph). The graph is the
# upstream artifact of graph-based curation (connected-component dedup,
# agglomerative topic clustering); brute force is n² and exists only as
# the recall reference in tests. Reuses q106's trained codebook via the
# session training cache, so the family trains once. The oracle unrolls
# the identical k-means chain, then replays probe selection + in-bucket
# exact-decimal cosine + per-source ranking over ALL vectors.
# ---------------------------------------------------------------------------

KNN_GRAPH_K = 4


def q151_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_assign, knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    # SIZE-DERIVED cluster count (the q118 contract knn_graph's docstring
    # requires): a FIXED k makes the in-bucket candidate join quadratic —
    # the round-8 ×8/×16 probe measured exponent 1.56 (x8 334 s) with
    # k=8 pinned, and every vector is a query here. k = ceil(n/64) is
    # exactly KMEANS_K=8 at the sf0.01 oracle corpus, so Q151_SQL's
    # unrolled k stays bit-correct where it is evaluated; the training is
    # shared with q118 through the same (cache_key, k, iters) memo.
    emb_k = _size_derived_k(spark, sf_dir, emb)
    bucketed, cent = kmeans_assign(
        emb, k=emb_k, iters=KMEANS_ITERS,
        cache_key=(sf_dir, "full"),
        return_centroids=True,
    )
    out = knn_graph(
        bucketed, cent, bucket_col="bucket", k=KNN_GRAPH_K, nprobe=IVF_NPROBE
    )
    return out.withColumn("cosine", F.round(F.col("cosine"), 9))


# The oracle replays the identical integers: probe ranking by exact
# squared distance to the trained integer centroids (cent{iters} from the
# unrolled k-means chain — the same statistic q150's coarse probes pin),
# then the integer dot / sqrt-int-norm cosine over in-bucket candidates.
Q151_BODY = f"""{_kmeans_unrolled_sql(KMEANS_K, KMEANS_ITERS)},
vnorm AS (
    SELECT vec_id, SUM(CAST(v9 * v9 AS HUGEINT)) AS nq FROM ui GROUP BY 1
),
qd AS (
    SELECT ui.vec_id, c.bucket,
           SUM(CAST(ui.v9 - c.c9 AS HUGEINT)
             * CAST(ui.v9 - c.c9 AS HUGEINT)) AS d
    FROM ui JOIN cent{KMEANS_ITERS} c USING (pos)
    GROUP BY 1, 2
),
probes AS (
    SELECT vec_id AS src_id, bucket FROM (
        SELECT vec_id, bucket,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, bucket) AS rn
        FROM qd
    ) WHERE rn <= {IVF_NPROBE}
),
dots AS (
    SELECT p.src_id, c.vec_id AS dst_id,
           SUM(CAST(q.v9 * c.v9 AS HUGEINT)) AS dq
    FROM probes p
    JOIN asgf ac ON ac.bucket = p.bucket
    JOIN ui c ON c.vec_id = ac.vec_id AND c.vec_id <> p.src_id
    JOIN ui q ON q.vec_id = p.src_id AND q.pos = c.pos
    GROUP BY 1, 2
),
scored AS (
    SELECT dots.src_id, dots.dst_id,
           CAST(dots.dq AS DOUBLE)
               / NULLIF(sqrt(CAST(qv.nq AS DOUBLE))
                        * sqrt(CAST(cv2.nq AS DOUBLE)), 0.0) AS cosine
    FROM dots
    JOIN vnorm qv ON qv.vec_id = dots.src_id
    JOIN vnorm cv2 ON cv2.vec_id = dots.dst_id
),
ranked AS (
    SELECT src_id, dst_id, round(cosine, 9) AS r_cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY src_id ORDER BY cosine DESC NULLS LAST, dst_id
           ) AS INT) AS rank
    FROM scored
)"""

Q151_SQL = f"""
WITH {Q151_BODY}
SELECT src_id, dst_id, r_cosine AS cosine, rank
FROM ranked WHERE rank <= {KNN_GRAPH_K}
"""


# ---------------------------------------------------------------------------
# Q166 — BINARY quantization search (sign-bit vectors + Hamming pruning,
# the 32x-memory recipe modern vector stores ship as "BQ"): every
# embedding compresses to its 64 sign bits packed into two 32-bit words;
# candidate search ranks by Hamming distance (two XOR + bit_count ops
# per pair — the cheapest possible scoring), keeps the top
# BQ_CANDIDATES, and re-ranks those few with the exact integer-grid
# cosine (q151's fold). Sign bits and all distances are exact integers,
# so the whole pipeline carries a full value oracle. Scale: the packed
# corpus is 8 bytes/vector — the profile where a billion vectors fit in
# cluster memory; scoring is codegen bit ops; only |queries| x
# BQ_CANDIDATES rows ever touch raw vectors again.
# ---------------------------------------------------------------------------

BQ_CANDIDATES = 10


def q166_binary_quant_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import KMEANS_SCALE as _SC

    emb = load_table(spark, sf_dir, "embeddings")
    def words(col):
        bit = lambda i: F.when(
            F.element_at(col, i + 1) >= 0, F.lit(1 << (i % 32))
        ).otherwise(F.lit(0))
        lo = bit(0)
        for i in range(1, 32):
            lo = lo + bit(i)
        hi = bit(32)
        for i in range(33, 64):
            hi = hi + bit(i)
        return lo.cast("long"), hi.cast("long")

    q_int = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(float(_SC))),
    )
    lo, hi = words(F.col("embedding"))
    packed = emb.select(
        "vec_id",
        lo.alias("lo"),
        hi.alias("hi"),
        q_int.alias("qv"),
    )
    queries = packed.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
        F.col("qv").alias("qq"),
    )
    ham = F.bit_count(
        F.col("lo").bitwiseXOR(F.col("qlo"))
    ) + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
    cw = Window.partitionBy("query_id").orderBy(
        F.col("hamming"), F.col("vec_id")
    )
    cand = (
        packed.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("hamming", ham.cast("int"))
        .withColumn("cr", F.row_number().over(cw))
        .where(F.col("cr") <= BQ_CANDIDATES)
    )
    dot_q = F.aggregate(
        F.zip_with(F.col("qq"), F.col("qv"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    def int_norm(c):
        return F.aggregate(
            F.transform(c, lambda x: x * x),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
    scored = cand.withColumn(
        "cosine",
        F.round(
            dot_q.cast("double")
            / F.nullif(
                F.sqrt(int_norm(F.col("qq")).cast("double"))
                * F.sqrt(int_norm(F.col("qv")).cast("double")),
                F.lit(0.0),
            ),
            9,
        ),
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "hamming",
            "cosine",
            F.col("rank").cast("int"),
        )
    )


# The `pos < 64` bound on _BQ_HI matters (ADVICE r10): without it, an
# embedding longer than 64 dims would alias bits 64+ onto bits 32-63 via
# `pos % 32`, silently diverging from pack_sign_words (similarity.py),
# which hard-caps the signature at the first 64 dims on the engine side.
_BQ_LO = "SUM(CASE WHEN v >= 0 AND pos < 32 THEN CAST(1 AS BIGINT) << (pos % 32) ELSE 0 END)"
_BQ_HI = "SUM(CASE WHEN v >= 0 AND pos >= 32 AND pos < 64 THEN CAST(1 AS BIGINT) << (pos % 32) ELSE 0 END)"

Q166_SQL = f"""
WITH u AS (
    SELECT vec_id, CAST(r.i AS INT) AS pos,
           CAST(embedding[r.i + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(0, 4096) r(i) WHERE r.i < len(embedding)
),
ui AS (
    SELECT vec_id, pos,
           CAST(FLOOR(v * {float(_KMEANS_SCALE)}) AS BIGINT) AS v9
    FROM u
),
packed AS (
    SELECT vec_id, {_BQ_LO} AS lo, {_BQ_HI} AS hi FROM u GROUP BY vec_id
),
vnorm AS (
    SELECT vec_id, SUM(CAST(v9 * v9 AS HUGEINT)) AS nq FROM ui GROUP BY 1
),
cand AS (
    SELECT q.vec_id AS query_id, c.vec_id,
           CAST(bit_count(xor(CAST(c.lo AS BIT), CAST(q.lo AS BIT)))
              + bit_count(xor(CAST(c.hi AS BIT), CAST(q.hi AS BIT)))
             AS INT) AS hamming
    FROM packed c
    JOIN packed q ON q.vec_id < {N_QUERY_VECS} AND c.vec_id <> q.vec_id
),
kept AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY hamming, vec_id
        ) AS cr FROM cand
    ) WHERE cr <= {BQ_CANDIDATES}
),
dots AS (
    SELECT k.query_id, k.vec_id, k.hamming,
           SUM(CAST(a.v9 * b.v9 AS HUGEINT)) AS dq
    FROM kept k
    JOIN ui a ON a.vec_id = k.query_id
    JOIN ui b ON b.vec_id = k.vec_id AND b.pos = a.pos
    GROUP BY 1, 2, 3
),
scored AS (
    SELECT d.query_id, d.vec_id, d.hamming,
           round(CAST(d.dq AS DOUBLE)
               / NULLIF(sqrt(CAST(qn.nq AS DOUBLE))
                        * sqrt(CAST(cn.nq AS DOUBLE)), 0.0), 9) AS cosine
    FROM dots d
    JOIN vnorm qn ON qn.vec_id = d.query_id
    JOIN vnorm cn ON cn.vec_id = d.vec_id
)
SELECT query_id, vec_id AS neighbor_id, hamming, cosine,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, vec_id
       ) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Q178 — SEMANTIC CLUSTERS over the k-NN graph: q151's neighbor edges
# thresholded at cosine >= 0.35, symmetrized, and closed into connected
# components (operators/graph.py label propagation) — the "graph-based
# clustering" consumer the knn-graph docstring promises, and the
# agglomerative alternative to q118's SemDeDup keep-rule (clusters
# instead of survivors). Threshold applies to the ROUNDED cosine both
# engines already agree on. Oracle: the q151 chain as CTEs + the q147
# recursive-closure pattern over the embeddings vertex set.
# ---------------------------------------------------------------------------

KNN_CLUSTER_THRESHOLD = 0.35


def q178_knn_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import neardup_components

    g = q151_knn_graph(spark, sf_dir)
    pairs = (
        g.where(F.col("cosine") >= KNN_CLUSTER_THRESHOLD)
        .select(
            F.least("src_id", "dst_id").alias("va"),
            F.greatest("src_id", "dst_id").alias("vb"),
        )
        .distinct()
        # Truncate the training+graph lineage BEFORE the iterative
        # closure: label propagation's own persist would otherwise
        # re-execute the whole q151 chain on first materialization and
        # drag it through every round's plan (measured 15.6s -> ~2s for
        # the closure step). The checkpointed frame is |edges| rows.
        .localCheckpoint()
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    # Two-phase CC: the thresholded k-NN graph grows CHAINS (each node
    # keeps its 4 best neighbors, so similar regions string together),
    # which is label propagation's worst case — measured 11.5s vs 4.9s
    # at sf0.1 (5 two-phase rounds).
    return neardup_components(
        pairs, emb, id_col="vec_id", pair_a="va", pair_b="vb",
        algorithm="two-phase",
    ).orderBy("vec_id")


Q178_SQL = f"""
WITH RECURSIVE {Q151_BODY},
knn AS (
    SELECT src_id, dst_id FROM ranked
    WHERE rank <= {KNN_GRAPH_K} AND r_cosine >= {KNN_CLUSTER_THRESHOLD}
),
edges AS (
    SELECT src_id AS a, dst_id AS b FROM knn
    UNION
    SELECT dst_id, src_id FROM knn
),
reach(node, r) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
),
comp AS (
    SELECT node AS vec_id, MIN(r) AS component FROM reach GROUP BY node
),
sizes AS (
    SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
)
SELECT comp.vec_id, comp.component, sizes.cluster_size,
       comp.vec_id = comp.component AS is_keeper
FROM comp JOIN sizes USING (component)
ORDER BY comp.vec_id
"""


# ---------------------------------------------------------------------------
# Q192 — Embedding snapshot drift: compare two corpus snapshots (old =
# even vec_id, new = odd — in production, yesterday's and today's
# embedding runs) per label cluster: row-count shift plus the cosine
# between the snapshots' centroid vectors. The centroid cosine needs no
# per-row pairing: cos(mean_a, mean_b) = cos(sum_a, sum_b) because the
# 1/n scalars cancel, so the whole statistic is one posexplode +
# per-(label, snapshot, pos) exact-decimal sum (the q25 determinism
# recipe) and a label-keyed fold — linear, shuffle-light, and a full
# value oracle. A drifting label (centroid cosine << 1 or count ratio
# far from 1) is the trigger to re-run downstream ANN index builds.
# ---------------------------------------------------------------------------


def q192_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    parts = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("snap"),
        F.posexplode("embedding").alias("pos", "v"),
    )
    sums = parts.groupBy("label", "snap", "pos").agg(
        F.sum(F.col("v").cast("decimal(38,18)")).cast("double").alias("s"),
        F.count("*").alias("n"),
    )
    a = sums.where(F.col("snap") == 0).select(
        "label", "pos", F.col("s").alias("sa")
    )
    b = sums.where(F.col("snap") == 1).select(
        "label", "pos", F.col("s").alias("sb")
    )
    folded = (
        a.join(b, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.sum(
                (F.col("sa") * F.col("sb")).cast("decimal(38,18)")
            ).cast("double").alias("dot"),
            F.sum(
                (F.col("sa") * F.col("sa")).cast("decimal(38,18)")
            ).cast("double").alias("na"),
            F.sum(
                (F.col("sb") * F.col("sb")).cast("decimal(38,18)")
            ).cast("double").alias("nb"),
        )
    )
    counts = (
        emb.groupBy("label")
        .agg(
            F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0)).alias(
                "n_old"
            ),
            F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)).alias(
                "n_new"
            ),
        )
    )
    return (
        counts.join(folded, "label")
        .select(
            "label",
            "n_old",
            "n_new",
            F.round(
                F.col("dot")
                / F.nullif(
                    F.sqrt(F.col("na")) * F.sqrt(F.col("nb")), F.lit(0.0)
                ),
                9,
            ).alias("centroid_cosine"),
            (
                F.col("n_new").cast("double") / F.col("n_old").cast("double")
            ).alias("count_ratio"),
        )
        .orderBy("label")
    )


Q192_SQL = """
WITH parts AS (
    SELECT label, vec_id % 2 AS snap, CAST(r.i AS INT) AS pos,
           CAST(embedding[r.i + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(0, 4096) r(i)
    WHERE r.i < len(embedding)
),
sums AS (
    SELECT label, snap, pos,
           CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE) AS s
    FROM parts GROUP BY label, snap, pos
),
folded AS (
    SELECT a.label,
           CAST(SUM(CAST(a.s * b.s AS DECIMAL(38,18))) AS DOUBLE) AS dot,
           CAST(SUM(CAST(a.s * a.s AS DECIMAL(38,18))) AS DOUBLE) AS na,
           CAST(SUM(CAST(b.s * b.s AS DECIMAL(38,18))) AS DOUBLE) AS nb
    FROM (SELECT label, pos, s FROM sums WHERE snap = 0) a
    JOIN (SELECT label, pos, s FROM sums WHERE snap = 1) b
      USING (label, pos)
    GROUP BY a.label
),
counts AS (
    SELECT label,
           CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
           CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
    FROM embeddings GROUP BY label
)
SELECT label, n_old, n_new,
       round(dot / NULLIF(sqrt(na) * sqrt(nb), 0.0), 9) AS centroid_cosine,
       CAST(n_new AS DOUBLE) / CAST(n_old AS DOUBLE) AS count_ratio
FROM counts JOIN folded USING (label)
ORDER BY label
"""


# ---------------------------------------------------------------------------
# Q258 — TOP PRINCIPAL COMPONENT by exact-integer power iteration: the
# dimensionality-reduction primitive (PCA direction) embedding pipelines
# run before whitening / low-rank ANN, computed fully DISTRIBUTED with
# the engine's deterministic-iteration recipe (pagerank/HITS family):
#
#   1. quantize components to the KMEANS_SCALE integer grid;
#   2. center on the integer grid (mean9 = SUM(v9) DIV n — integral
#      division, identical on both engines; bias ≤ one grid unit);
#   3. power-iterate w ← Cᵀ(Cw): per-vector score sᵢ = Σ c9·w9 is an
#      exact int64 sum (|c9| ≤ 2e7, |w9| ≤ 1e6, dim 64 → < 2^63); the
#      re-projection Σ sᵢ·c9 runs in DECIMAL(38,0); each round
#      max-normalizes back to the 1e6 integer grid with exactly one
#      double rounding chain (decimal→double cast, division, ×1e6,
#      floor — every step correctly rounded, so both engines land on
#      the SAME integer grid point, and the next round is exact again).
#
# No driver state at all — the weight vector is a dim-bounded (64-row)
# broadcast frame, unlike k-means' collected centroids. Per round: two
# keyed shuffles (by vec_id, by pos); everything else is broadcast.
# Sign is pinned by the all-positive start vector. At 100 TB: linear
# scans, dim-bounded joins, DECIMAL(38) headroom to n ~ 1e12 rows.
# ---------------------------------------------------------------------------

PCA_ITERS = 2
#: Weight-vector grid: loadings live on the 1e6 integer lattice.
PCA_WSCALE = 1_000_000


def q258_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ui = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(
                    x.cast("double") * F.lit(float(_KMEANS_SCALE))
                ),
            )
        ).alias("pos", "v9"),
    )
    mean = ui.groupBy("pos").agg(
        F.expr("sum(v9) div count(*)").alias("m9")
    )
    c = ui.join(F.broadcast(mean), "pos").select(
        "vec_id", "pos", (F.col("v9") - F.col("m9")).alias("c9")
    )
    w = spark.range(EMBED_DIM).select(
        F.col("id").cast("int").alias("pos"),
        F.lit(PCA_WSCALE).cast("long").alias("w9"),
    )
    for _ in range(PCA_ITERS):
        s = (
            c.join(F.broadcast(w), "pos")
            .groupBy("vec_id")
            .agg(F.sum(F.col("c9") * F.col("w9")).alias("s"))
        )
        r = (
            c.join(s, "vec_id")
            .groupBy("pos")
            .agg(
                F.sum(
                    F.col("s").cast("decimal(20,0)")
                    * F.col("c9").cast("decimal(9,0)")
                ).alias("r")
            )
        )
        m = r.agg(F.max(F.abs(F.col("r"))).alias("m"))
        w = (
            r.crossJoin(F.broadcast(m))
            .select(
                "pos",
                F.floor(
                    F.col("r").cast("double")
                    / F.col("m").cast("double")
                    * F.lit(float(PCA_WSCALE))
                ).alias("w9"),
            )
        )
    return w.select(
        "pos",
        F.col("w9").cast("long").alias("loading9"),
        (F.col("w9").cast("double") / F.lit(float(PCA_WSCALE))).alias(
            "loading"
        ),
    ).orderBy("pos")


def _pca_round_sql(t: int) -> str:
    """One unrolled power-iteration round (DuckDB): score, re-project in
    HUGEINT, max-normalize back to the PCA_WSCALE grid."""
    return f"""s{t} AS (
    SELECT c.vec_id, SUM(c.c9 * w.w9) AS s
    FROM c JOIN w{t - 1} w USING (pos) GROUP BY 1
),
r{t} AS (
    SELECT c.pos, SUM(CAST(s.s AS HUGEINT) * CAST(c.c9 AS HUGEINT)) AS r
    FROM c JOIN s{t} s USING (vec_id) GROUP BY 1
),
m{t} AS (SELECT MAX(ABS(r)) AS m FROM r{t}),
w{t} AS (
    SELECT pos,
           CAST(FLOOR(CAST(r AS DOUBLE) / CAST(m AS DOUBLE)
                      * {float(PCA_WSCALE)}) AS BIGINT) AS w9
    FROM r{t} CROSS JOIN m{t}
)"""


Q258_SQL = f"""
WITH u AS (
    SELECT vec_id, CAST(r.i AS INT) AS pos,
           CAST(embedding[r.i + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(0, {EMBED_DIM}) r(i)
),
ui AS (
    SELECT vec_id, pos,
           CAST(FLOOR(v * {float(_KMEANS_SCALE)}) AS BIGINT) AS v9
    FROM u
),
mean AS (SELECT pos, SUM(v9) // COUNT(*) AS m9 FROM ui GROUP BY pos),
c AS (
    SELECT ui.vec_id, ui.pos, ui.v9 - mean.m9 AS c9
    FROM ui JOIN mean USING (pos)
),
w0 AS (
    SELECT CAST(r.i AS INT) AS pos, CAST({PCA_WSCALE} AS BIGINT) AS w9
    FROM range(0, {EMBED_DIM}) r(i)
),
{",".join(_pca_round_sql(t) for t in range(1, PCA_ITERS + 1))}
SELECT pos, w9 AS loading9,
       CAST(w9 AS DOUBLE) / {float(PCA_WSCALE)} AS loading
FROM w{PCA_ITERS}
ORDER BY pos
"""


# ---------------------------------------------------------------------------
# Q259 — MUTUAL NEAREST NEIGHBORS: pairs where each vector is the
# other's top-1 cosine neighbor — the reciprocal-best-match criterion
# dataset-alignment and cross-lingual mining pipelines use to accept a
# pair without a threshold (MNN is far more precise than one-directional
# top-1: a hub vector is many vectors' nearest neighbor, but is mutual
# with at most one of them). Composition: q151's IVF-blocked k-NN edges
# (same trained coarse quantizer, same exact integer-grid cosine), rank-1
# edges self-joined on (src=dst, dst=src), emitted once with id_a <
# id_b. The oracle replays Q151's CTE chain and the same mutual join.
# Scale: adds one equi-join on (lo, hi) over the already-bounded rank-1
# edge set (|V| rows) — nothing quadratic.
# ---------------------------------------------------------------------------


def q259_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_assign, knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    # SIZE-DERIVED coarse quantizer (the q118 SemDeDup contract:
    # k = ceil(n / target) keeps cluster SIZE constant as the corpus
    # grows, so candidate volume is n × target = LINEAR — the round-6
    # probe measured exponent 1.04 trending quadratic with fixed k=8,
    # the round-3 q118 hazard reappearing; see PLANS.md round-6).
    # At the sf0.01 gate the formula yields exactly k=8, so results are
    # bit-identical to a fixed-k=8 registration, and the codebook is
    # the SAME cached training q118/q151 use (shared cache key + helper).
    k = _size_derived_k(spark, sf_dir, emb)
    bucketed, cent = kmeans_assign(
        emb, k=k, iters=KMEANS_ITERS,
        cache_key=(sf_dir, "full"),
        return_centroids=True,
    )
    top1 = (
        knn_graph(
            bucketed, cent, bucket_col="bucket", k=1, nprobe=IVF_NPROBE
        )
        .where(F.col("rank") == 1)
        .select("src_id", "dst_id", "cosine")
        # The mutual join reads this frame TWICE (a ⋈ b); without the
        # checkpoint the whole kNN build executes twice per action
        # (measured 2x at the x4 probe).
        .localCheckpoint()
    )
    a = top1.alias("a")
    b = top1.alias("b")
    return (
        a.join(
            b,
            (F.col("a.src_id") == F.col("b.dst_id"))
            & (F.col("a.dst_id") == F.col("b.src_id")),
        )
        .where(F.col("a.src_id") < F.col("a.dst_id"))
        .select(
            F.col("a.src_id").alias("id_a"),
            F.col("a.dst_id").alias("id_b"),
            F.round(F.col("a.cosine"), 9).alias("cosine"),
        )
    )


# Q259's oracle is Q151's CTE chain with the SIZE-DERIVED cluster count
# swapped in for the fixed k (the chain after the k-means CTEs is
# k-independent — it reads cent{iters}/asgf by name).
_Q259_BODY = _kmeans_unrolled_sql(
    "SELECT CAST(CEIL(COUNT(*) / "
    f"{float(SEMDEDUP_TARGET_CLUSTER)}) AS BIGINT) FROM embeddings",
    KMEANS_ITERS,
) + Q151_BODY[len(_kmeans_unrolled_sql(KMEANS_K, KMEANS_ITERS)) :]

Q259_SQL = f"""
WITH {_Q259_BODY},
top1 AS (SELECT src_id, dst_id, r_cosine FROM ranked WHERE rank = 1)
SELECT a.src_id AS id_a, a.dst_id AS id_b, a.r_cosine AS cosine
FROM top1 a
JOIN top1 b ON a.src_id = b.dst_id AND a.dst_id = b.src_id
WHERE a.src_id < a.dst_id
"""


# ---------------------------------------------------------------------------
# Q260 — CLUSTER-QUALITY REPORT for the trained k-means quantizer: per
# bucket, population, exact integer inertia (Σ squared grid distance to
# the assigned centroid — kmeans_assign's argmin already carries it),
# mean squared error, the exact integer squared distance to the NEAREST
# OTHER centroid, and the Davies-Bouldin-style compactness/separation
# ratio mean_sqerr / nearest_d2. This is the go/no-go gauge for every
# IVF/SemDeDup consumer of the codebook (q26/q106/q118/q150/q151): a
# bucket with ratio ≫ its peers means the quantizer under-fits there
# and ANN recall will sag. All integers exact on the KMEANS_SCALE grid;
# the two doubles are single correctly-rounded divisions, so the report
# carries a full value oracle. Scale: inertia is one keyed agg over the
# assignment (DECIMAL(38) sums — n·2.6e16 overflows int64 at corpus
# scale); centroid separation is k×k over BOUNDED broadcast state.
# ---------------------------------------------------------------------------


def q260_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cent = kmeans_assign(
        emb, k=KMEANS_K, iters=KMEANS_ITERS,
        cache_key=(sf_dir, "full"),
        return_centroids=True, attach_centroid=True,
    )
    per_bucket = assigned.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum(F.col("sq_err").cast("decimal(20,0)")).alias("inertia_d"),
    )
    cdf = local_frame(
        spark,
        [(int(b), [int(v) for v in cv]) for b, cv in cent],
        "bucket INT, cq ARRAY<BIGINT>",
    )
    pair_d2 = F.aggregate(
        F.zip_with(
            F.col("a.cq"), F.col("b.cq"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    nearest = (
        cdf.alias("a")
        .join(
            F.broadcast(cdf.alias("b")),
            F.col("a.bucket") != F.col("b.bucket"),
        )
        .select(F.col("a.bucket").alias("bucket"), pair_d2.alias("d2"))
        .groupBy("bucket")
        .agg(F.min("d2").alias("nearest_d2"))
    )
    mean_sqerr = F.col("inertia_d").cast("double") / F.col("n").cast(
        "double"
    )
    return (
        per_bucket.join(F.broadcast(nearest), "bucket")
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("n").cast("long").alias("n"),
            F.col("inertia_d").cast("double").alias("inertia"),
            F.round(mean_sqerr, 6).alias("mean_sqerr"),
            F.col("nearest_d2").cast("long").alias("nearest_d2"),
            F.round(
                mean_sqerr / F.col("nearest_d2").cast("double"), 9
            ).alias("db_ratio"),
        )
        .orderBy("bucket")
    )


Q260_SQL = f"""
WITH {{KMEANS_CTES}},
err AS (
    SELECT a.vec_id, a.bucket,
           SUM(CAST(ui.v9 - c.c9 AS HUGEINT)
             * CAST(ui.v9 - c.c9 AS HUGEINT)) AS sq_err
    FROM asgf a
    JOIN ui ON ui.vec_id = a.vec_id
    JOIN cent{KMEANS_ITERS} c ON c.bucket = a.bucket AND c.pos = ui.pos
    GROUP BY 1, 2
),
per_bucket AS (
    SELECT bucket, COUNT(*) AS n, SUM(sq_err) AS inertia
    FROM err GROUP BY bucket
),
cpairs AS (
    SELECT a.bucket AS ab, b.bucket AS bb,
           SUM(CAST(a.c9 - b.c9 AS HUGEINT)
             * CAST(a.c9 - b.c9 AS HUGEINT)) AS d2
    FROM cent{KMEANS_ITERS} a
    JOIN cent{KMEANS_ITERS} b
      ON a.pos = b.pos AND a.bucket <> b.bucket
    GROUP BY 1, 2
),
nearest AS (SELECT ab AS bucket, MIN(d2) AS nearest_d2 FROM cpairs GROUP BY 1)
SELECT CAST(p.bucket AS INT) AS bucket, CAST(n AS BIGINT) AS n,
       CAST(inertia AS DOUBLE) AS inertia,
       round(CAST(inertia AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_sqerr,
       CAST(nearest_d2 AS BIGINT) AS nearest_d2,
       round(CAST(inertia AS DOUBLE) / CAST(n AS DOUBLE)
             / CAST(nearest_d2 AS DOUBLE), 9) AS db_ratio
FROM per_bucket p JOIN nearest USING (bucket)
ORDER BY bucket
""".replace(
    "{KMEANS_CTES}", _kmeans_unrolled_sql(KMEANS_K, KMEANS_ITERS)
)


# ---------------------------------------------------------------------------
# Q271 — ANN RECALL EVALUATION: recall@k of the IVF approximate search
# (q26's pipeline, nprobe=2) against exact brute-force top-k (q25's
# pipeline) on the same query set — THE metric that decides whether an
# approximate index is shippable, computed inside the engine instead of
# in a notebook. Both sides use the identical deterministic ranking
# (cosine desc, neighbor_id tiebreak), so the top-k sets — and hence
# the exact-integer recall — are reproducible across engines. Per query:
# hits, k, recall ppm.
#
# Plan: the two operators' frames joined on (query_id, neighbor_id) —
# query-count-bounded (N_QUERY_VECS·k rows each side), one keyed agg.
# The oracle nests the full Q25 and Q26 SQL chains as CTEs.
# ---------------------------------------------------------------------------


def q271_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    exact = cosine_topk_exact(queries, emb, k=TOP_K).select(
        "query_id", "neighbor_id"
    )
    approx = (
        ivf_topk_exact(queries, emb, k=TOP_K, nprobe=IVF_NPROBE)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
        .selectExpr(
            "query_id",
            "k",
            "n_hits",
            "CAST(n_hits * 1000000 DIV k AS BIGINT) AS recall_ppm",
        )
        .orderBy("query_id")
    )


Q271_SQL = f"""
WITH exact AS (
{Q25_SQL}
),
approx AS (
{Q26_SQL}
)
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(COUNT(a.neighbor_id) * 1000000 // COUNT(*) AS BIGINT)
           AS recall_ppm
FROM exact e
LEFT JOIN approx a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


# ---------------------------------------------------------------------------
# Q289 — EMBEDDING HYGIENE AUDIT, per label partition: the vector-
# quality gate every ANN/semantic pipeline should run before indexing —
# row count, distinct dimensionalities (a mixed-dim partition breaks
# every dot product downstream), all-zero vectors, near-zero norms
# (norm² < 1e-12 on the exact DECIMAL(38,18) sum — un-normalizable),
# and null-element vectors. Pure counts — exactly portable.
#
# Plan: one scan, one JVM-side fold per row (no explode), one keyed
# agg. The norm² fold is the same exact-decimal recipe q25 uses.
# ---------------------------------------------------------------------------


def q289_embedding_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norm2 = F.aggregate(
        "embedding",
        F.lit(0).cast("decimal(38,18)"),
        # Decimal + widens to (38,17) under precision-loss rules; cast
        # back so the fold's type matches the accumulator each step.
        lambda acc, v: (
            acc + (v.cast("double") * v.cast("double")).cast("decimal(38,18)")
        ).cast("decimal(38,18)"),
    )
    has_null_elem = F.exists("embedding", lambda v: v.isNull())
    per_vec = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        norm2.alias("n2"),
        has_null_elem.cast("int").alias("has_null"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.count_distinct("dim").cast("long").alias("n_dims"),
            F.min("dim").cast("long").alias("min_dim"),
            F.max("dim").cast("long").alias("max_dim"),
            F.sum((F.col("n2") == 0).cast("int"))
            .cast("long")
            .alias("n_zero_vecs"),
            F.sum(
                (F.col("n2") < F.lit(1e-12).cast("decimal(38,18)")).cast(
                    "int"
                )
            )
            .cast("long")
            .alias("n_near_zero"),
            F.sum("has_null").cast("long").alias("n_with_nulls"),
        )
        .orderBy("label")
    )


Q289_SQL = """
WITH per_vec AS (
    SELECT label,
           len(embedding) AS dim,
           list_sum(list_transform(embedding,
               v -> CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
                         AS DECIMAL(38,18)))) AS n2,
           CASE WHEN len(list_filter(embedding, v -> v IS NULL)) > 0
                THEN 1 ELSE 0 END AS has_null
    FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COUNT(DISTINCT dim) AS BIGINT) AS n_dims,
       CAST(MIN(dim) AS BIGINT) AS min_dim,
       CAST(MAX(dim) AS BIGINT) AS max_dim,
       CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_vecs,
       CAST(SUM(CASE WHEN n2 < CAST(0.000000000001 AS DECIMAL(38,18))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_near_zero,
       CAST(SUM(has_null) AS BIGINT) AS n_with_nulls
FROM per_vec
GROUP BY label
ORDER BY label
"""


# ---------------------------------------------------------------------------
# Q309 — LABEL BALANCE REPORT: class distribution of the embedding
# corpus — per label: count, share ppm, and the exact χ² contribution
# vs the uniform expectation (micro, the q297 per-cell algebra on
# HUGEINT/DECIMAL(38)) — the class-imbalance gate before training any
# classifier on these labels. |labels|-row output from one keyed agg
# + a 1-row (N, K) anchor.
# ---------------------------------------------------------------------------


def q309_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(F.count("*").alias("n"))
    anchor = counts.groupBy().agg(
        F.sum("n").alias("total"), F.count("*").alias("k")
    )
    d38 = "DECIMAL(38,0)"
    return (
        counts.crossJoin(F.broadcast(anchor))
        .selectExpr(
            "label",
            "CAST(n AS BIGINT) AS n_vecs",
            "CAST(n * 1000000 DIV total AS BIGINT) AS share_ppm",
            # chi2 vs uniform: (n - total/k)^2 / (total/k), scaled 1e6,
            # cross-multiplied to integers: 1e6 * (n*k - total)^2 / (k*total)
            f"CAST(1000000 * (CAST(n AS {d38}) * k - total)"
            f" * (CAST(n AS {d38}) * k - total)"
            f" DIV (CAST(k AS {d38}) * total) AS BIGINT)"
            " AS chi2_uniform_micro",
        )
        .orderBy("label")
    )


Q309_SQL = """
WITH counts AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1),
anchor AS (SELECT SUM(n) AS total, COUNT(*) AS k FROM counts)
SELECT label,
       CAST(n AS BIGINT) AS n_vecs,
       CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
       CAST(1000000 * (CAST(n AS HUGEINT) * k - total)
                    * (CAST(n AS HUGEINT) * k - total)
            // (CAST(k AS HUGEINT) * total) AS BIGINT)
           AS chi2_uniform_micro
FROM counts CROSS JOIN anchor
ORDER BY label
"""


# ---------------------------------------------------------------------------
# Q318 — ANN search from a PERSISTED index artifact (round-6 VERDICT
# item 6). q106 trains its IVF quantizer in-session; a real pipeline
# trains once, writes the index to the lake, and every later search job
# reloads it. This query exercises the full artifact round-trip:
#
#   train (exact-integer Lloyd's, same codebook cache as q106)
#     → save  (sinks/ann_index.py: quantized centroids + bucket-
#              partitioned postings as parquet + _META.json)
#     → load  (fresh scan of the artifact — centroids re-collected from
#              parquet, postings a lazy DataFrame)
#     → search (q26/q106's exact-decimal probe/re-rank over the LOADED
#              assignment, corpus vectors joined to loaded postings)
#
# Parity contract: integers round-trip losslessly through parquet, so
# search-from-loaded must equal search-from-trained bit-for-bit — the
# oracle is therefore EXACTLY Q106_SQL, and any drift in save/load
# (lost bucket, truncated centroid, wrong join) breaks the value hash.
# tests/test_round7_properties.py additionally pins loaded centroids ==
# trained centroids as driver objects.
#
# 100 TB posture: the index write is one shuffle of O(corpus) two-int
# rows partitioned by bucket (nprobe searches later prune their posting
# scan to probed directories); centroid I/O is k×dim ints. The
# postings⋈embeddings join is a plain equi-join on vec_id — at cluster
# scale both sides bucket by vec_id (sinks/layout.py) to skip the
# exchange.
# ---------------------------------------------------------------------------


def q318_ann_saved_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_assign
    from ..sinks.ann_index import (
        ivf_index_path,
        load_ivf_index,
        save_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bucketed, cent = kmeans_assign(
        emb,
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        cache_key=(sf_dir, "full"),
        return_centroids=True,
    )
    path = ivf_index_path(sf_dir)
    save_ivf_index(
        spark,
        cent,
        bucketed.select("vec_id", "bucket"),
        path,
        meta={"iters": KMEANS_ITERS, "source": sf_dir},
    )
    loaded_cent, postings, meta = load_ivf_index(spark, path)
    if loaded_cent != cent:
        raise ValueError(
            f"ANN index round-trip drift at {path}: loaded centroids "
            "differ from trained (parquet round-trip should be lossless)"
        )
    searchable = emb.join(postings, "vec_id")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    out = ivf_topk_exact(
        queries, searchable, bucket_col="bucket", k=TOP_K, nprobe=IVF_NPROBE
    )
    return out.withColumn("cosine", F.round(F.col("cosine"), 9))


#: Search-from-loaded == search-from-trained, so the oracle is q106's.
Q318_SQL = Q106_SQL


# ---------------------------------------------------------------------------
# Q322 — IVF-PQ search from the PERSISTED quantizer state: q318's
# round-trip extended to the full FAISS-shaped artifact (round-6 VERDICT
# item 6 names "centroids + codebooks + postings"). The coarse codebook
# AND all m per-subspace PQ codebooks are written to one parquet
# codebooks table (sinks/ann_index.py:save_pq_index), reloaded, verified
# equal to the trained state (loud raise on drift — integers round-trip
# losslessly), and INJECTED into the training cache
# (similarity.preload_trained_codebook), so the q150 search path
# consumes the LOADED objects end-to-end: coarse probe selection, ADC
# lookup tables, and code assignment all run off disk state. Oracle =
# Q150_SQL exactly.
# ---------------------------------------------------------------------------


def q322_ivfpq_saved_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        ivfpq_search,
        kmeans_assign,
        preload_trained_codebook,
    )
    from ..sinks.ann_index import (
        ivf_index_path,
        load_pq_index,
        save_pq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = (sf_dir,)
    width = EMBED_DIM // PQ_M
    _, coarse = kmeans_assign(
        emb,
        k=KMEANS_K,
        iters=PQ_ITERS,
        return_centroids=True,
        cache_key=(*base, "full"),
    )
    subs = []
    for j in range(PQ_M):
        sub = emb.select(
            "vec_id", F.slice("embedding", j * width + 1, width).alias("__sub")
        )
        _, cent = kmeans_assign(
            sub,
            vec_col="__sub",
            k=PQ_K,
            iters=PQ_ITERS,
            return_centroids=True,
            cache_key=(*base, f"sub{j}"),
        )
        subs.append(cent)
    path = ivf_index_path(sf_dir) + "_pq"
    save_pq_index(
        spark, coarse, subs, path, meta={"iters": PQ_ITERS, "source": sf_dir}
    )
    lcoarse, lsubs, _meta = load_pq_index(spark, path)
    if lcoarse != coarse or lsubs != subs:
        raise ValueError(
            f"PQ index round-trip drift at {path}: loaded quantizer state "
            "differs from trained"
        )
    # The search runs under its own "loaded" key, so it consumes the
    # LOADED quantizers even when this session trained the same ones.
    loaded = (sf_dir, "loaded")
    preload_trained_codebook(spark, (*loaded, "full"), KMEANS_K, PQ_ITERS, lcoarse)
    for j in range(PQ_M):
        preload_trained_codebook(spark, (*loaded, f"sub{j}"), PQ_K, PQ_ITERS, lsubs[j])
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    return ivfpq_search(
        emb,
        queries,
        dim=EMBED_DIM,
        coarse_k=KMEANS_K,
        nprobe=IVF_NPROBE,
        m=PQ_M,
        pq_k=PQ_K,
        iters=PQ_ITERS,
        topk=TOP_K,
        cache_key=loaded,
    )


#: Search-from-loaded-quantizers == search-from-trained: q150's oracle.
Q322_SQL = Q150_SQL


# ---------------------------------------------------------------------------
# Q332 — IVF index APPEND maintenance: the missing member of the
# index-as-artifact family (q318 saved+searched, q322 saved the full PQ
# state, q330 compacted band indexes, q331 incrementally maintained
# SCD2). A real vector pipeline does not retrain its quantizer per
# ingest: it trains ONCE on the initial corpus, persists the index, and
# every later batch is assigned with the FROZEN centroids and appended
# to the inverted lists — FAISS's add() against a trained index.
#
#   train on the initial ingest (vec_id % 10 <> 7)
#     → save artifact (centroids + bucket-partitioned postings)
#     → later batch (vec_id % 10 = 7) assigned via the LOADED centroids
#       (preload_trained_codebook: the cache consumes disk state)
#     → append_ivf_postings: new parquet files inside the same bucket=N
#       partition dirs + _META count bump — O(|batch|) work, no rewrite
#     → reload; recount-audit (n_base + n_batch, loud raise on drift)
#     → q106's exact-decimal probe/re-rank over the appended postings.
#
# Parity contract: append-then-search == train-on-base-assign-everyone,
# so the oracle is Q106_SQL with the training population restricted to
# the base predicate while the final assignment covers the full corpus
# (_kmeans_unrolled_sql train_pred) — any lost/doubled batch row, wrong
# frozen assignment, or centroid drift breaks the value hash.
#
# 100 TB posture: maintenance cost is bounded by the BATCH (one shuffle
# of |batch| two-int rows into the partitioned layout), never the
# corpus; the search path is exactly q318's (nprobe partition-pruned
# posting scan, packed-centroid broadcast assignment).
# ---------------------------------------------------------------------------

#: Later-ingest batch: every 10th vector (by id) arrives after the index
#: was trained and saved. Written over bare vec_id so the same text
#: serves the Spark filter and the oracle's train_pred.
_MAINT_BATCH_MOD = 10
_MAINT_BATCH_REM = 7


def q332_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        kmeans_assign,
        preload_trained_codebook,
    )
    from ..sinks.ann_index import (
        append_ivf_postings,
        ivf_index_path,
        load_ivf_index,
        save_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = (F.col("vec_id") % _MAINT_BATCH_MOD) == _MAINT_BATCH_REM
    base, batch = emb.where(~is_batch), emb.where(is_batch)
    n_base, n_batch = base.count(), batch.count()
    bucketed, cent = kmeans_assign(
        base,
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        cache_key=(sf_dir, "maintbase"),
        return_centroids=True,
    )
    path = ivf_index_path(sf_dir) + "_maint"
    save_ivf_index(
        spark,
        cent,
        bucketed.select("vec_id", "bucket"),
        path,
        meta={"iters": KMEANS_ITERS, "source": sf_dir, "n_postings": n_base},
    )
    loaded_cent, _, _ = load_ivf_index(spark, path)
    if loaded_cent != cent:
        raise ValueError(
            f"ANN index round-trip drift at {path}: loaded centroids "
            "differ from trained"
        )
    # The append job consumes the LOADED quantizer, not the trainer's
    # in-memory state — the cache key is distinct so the frozen
    # assignment provably runs off disk state.
    preload_trained_codebook(
        spark, (sf_dir, "maintload"), KMEANS_K, KMEANS_ITERS, loaded_cent
    )
    batch_bucketed = kmeans_assign(
        batch,
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        cache_key=(sf_dir, "maintload"),
    )
    append_ivf_postings(
        spark,
        batch_bucketed.select("vec_id", "bucket"),
        path,
        tag="ingest1",
        n_new=n_batch,
    )
    cent2, postings, meta2 = load_ivf_index(spark, path)
    if cent2 != cent:
        raise ValueError(
            f"ANN index at {path} lost its centroids across the append"
        )
    n_loaded = postings.count()
    if n_loaded != n_base + n_batch or meta2.get("n_postings") != n_loaded:
        raise ValueError(
            f"appended index at {path} failed its recount audit: "
            f"{n_loaded} postings loaded, expected {n_base + n_batch} "
            f"(meta says {meta2.get('n_postings')})"
        )
    searchable = emb.join(postings, "vec_id")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    out = ivf_topk_exact(
        queries, searchable, bucket_col="bucket", k=TOP_K, nprobe=IVF_NPROBE
    )
    return out.withColumn("cosine", F.round(F.col("cosine"), 9))


_MAINT_TRAIN_PRED = f"vec_id % {_MAINT_BATCH_MOD} <> {_MAINT_BATCH_REM}"

#: Append-then-search == train-on-base, frozen-assign-everyone: q106's
#: oracle with the training CTEs restricted to the base population.
Q332_SQL = Q106_SQL.replace(
    _kmeans_unrolled_sql(KMEANS_K, KMEANS_ITERS),
    _kmeans_unrolled_sql(
        KMEANS_K, KMEANS_ITERS, train_pred=_MAINT_TRAIN_PRED
    ),
)
if Q332_SQL == Q106_SQL:  # pragma: no cover - import-time self-check
    raise AssertionError(
        "Q332_SQL failed to specialize Q106_SQL's training CTEs"
    )


# ---------------------------------------------------------------------------
# Q335 — Matryoshka truncated-dimension funnel audit. MRL-style
# embeddings (Kusupati et al., NeurIPS 2022) let retrieval prefilter on
# a PREFIX of the vector (here: first 16 of 64 dims — 4× less compute
# and I/O per score) and re-rank only the survivors at full width — the
# two-stage funnel every production vector store runs. Before shipping
# that funnel you must MEASURE what the cheap stage loses: per query,
# recall@k of (truncated top-m → full-dim re-rank → top-k) against the
# exact full-dim top-k.
#
# Everything is the q25 exact-decimal cosine on both engines (the
# truncated stage just caps the position explode / F.slice), so the
# audit carries a full value oracle. On this synthetic corpus the
# measured recall is LOW (random dims are uncorrelated; a trained MRL
# embedding front-loads variance) — which is precisely the verdict the
# audit exists to deliver before anyone trusts a truncation width.
#
# Scale: the truncated scan is the only corpus-scale stage and scores
# 16-dim prefixes (the packed-broadcast q25 shape, no |corpus|×dim
# shuffle); the re-rank touches |Q|·m candidates. The recall join is
# |Q|·k rows.
# ---------------------------------------------------------------------------

MAT_DIMS = 16
MAT_M = 12


def q335_matryoshka_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot_exact, norm_exact
    from ..operators.similarity import cosine_topk_exact

    emb = load_table(spark, sf_dir, "embeddings")
    emb_t = emb.select(
        "vec_id", F.slice("embedding", 1, MAT_DIMS).alias("embedding")
    )
    pre = cosine_topk_exact(
        emb_t.where(F.col("vec_id") < N_QUERY_VECS), emb_t, k=MAT_M
    ).select("query_id", "neighbor_id")
    qv = emb.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        norm_exact(F.col("embedding")).alias("qn"),
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        norm_exact(F.col("embedding")).alias("cn"),
    )
    rr = (
        pre.join(F.broadcast(qv), "query_id")
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
        F.col("cosine").desc_nulls_last(), "neighbor_id"
    )
    sel = (
        rr.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    truth = cosine_topk_exact(
        emb.where(F.col("vec_id") < N_QUERY_VECS), emb, k=TOP_K
    ).select("query_id", "neighbor_id")
    per_q = truth.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_truth")
    )
    ov = (
        truth.join(sel, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    return (
        per_q.join(ov, "query_id", "left")
        .na.fill(0, ["n_overlap"])
        .selectExpr(
            "query_id",
            "n_truth",
            "n_overlap",
            "CAST(1000 * n_overlap DIV n_truth AS BIGINT) AS recall_milli",
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Q339 — Hard-negative mining via the shared IVF quantizer: per anchor,
# the top-k most-similar vectors with a DIFFERENT label — the negatives
# that actually move a contrastive loss. q325 mines the cheap random
# flavor (hash into the key range); this is the ANN flavor every
# embedding-model pipeline runs at scale (in-batch negatives are too
# easy, exhaustive mining is O(n²)). Candidate generation reuses q106's
# trained coarse quantizer (session codebook cache — trains once per
# corpus) and the label-mismatch predicate applies at CANDIDATE stage,
# so each anchor always gets k true negatives, never a post-filtered
# short list. Oracle = Q106_SQL with the label anti-predicate injected
# into the candidate join and the anchor set widened to 20.
# ---------------------------------------------------------------------------

HN_ANCHORS = 20


def q339_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_hard_negatives, kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = kmeans_assign(
        emb,
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        cache_key=(sf_dir, "full"),
    )
    queries = emb.where(F.col("vec_id") < HN_ANCHORS)
    out = ivf_hard_negatives(
        queries, bucketed, k=TOP_K, nprobe=IVF_NPROBE
    )
    return out.withColumn("cosine", F.round(F.col("cosine"), 9))


_HN_DOTS_OLD = """dots AS (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           CAST(SUM(CAST(q.v * c.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM probes p
    JOIN asgf ac ON ac.bucket = p.bucket
    JOIN u c ON c.vec_id = ac.vec_id AND c.vec_id <> p.query_id
    JOIN qe q ON q.query_id = p.query_id AND q.pos = c.pos
    GROUP BY 1, 2
)"""

_HN_DOTS_NEW = """dots AS (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           CAST(SUM(CAST(q.v * c.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM probes p
    JOIN asgf ac ON ac.bucket = p.bucket
    JOIN embeddings cl ON cl.vec_id = ac.vec_id
    JOIN embeddings ql ON ql.vec_id = p.query_id
                      AND ql.label <> cl.label
    JOIN u c ON c.vec_id = ac.vec_id AND c.vec_id <> p.query_id
    JOIN qe q ON q.query_id = p.query_id AND q.pos = c.pos
    GROUP BY 1, 2
)"""

Q339_SQL = Q106_SQL.replace(_HN_DOTS_OLD, _HN_DOTS_NEW).replace(
    f"WHERE vec_id < {N_QUERY_VECS}", f"WHERE vec_id < {HN_ANCHORS}"
)
if (  # pragma: no cover - import-time self-check
    _HN_DOTS_NEW not in Q339_SQL or f"vec_id < {HN_ANCHORS}" not in Q339_SQL
):
    raise AssertionError("Q339_SQL failed to specialize Q106_SQL")


def _rank_ctes_sql(tag: str, dimcap: int | None, nq: int) -> str:
    """Q25-shaped per-query cosine ranking CTEs, optionally over only the
    first ``dimcap`` vector positions (the matryoshka prefix)."""
    pred = f"pos < {dimcap}" if dimcap else "TRUE"
    return f"""
{tag}q AS (SELECT vec_id AS q_id, pos, v FROM ce
           WHERE vec_id < {nq} AND {pred}),
{tag}c AS (SELECT vec_id AS c_id, pos, v FROM ce WHERE {pred}),
{tag}qn AS (
    SELECT q_id, sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)) AS qn
    FROM {tag}q GROUP BY q_id
),
{tag}cn AS (
    SELECT c_id, sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)) AS cn
    FROM {tag}c GROUP BY c_id
),
{tag}d AS (
    SELECT q_id, c_id,
           CAST(SUM(CAST(a.v * b.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM {tag}q a JOIN {tag}c b USING (pos)
    WHERE q_id <> c_id GROUP BY q_id, c_id
),
{tag}r AS (
    SELECT q_id, c_id, ROW_NUMBER() OVER (
        PARTITION BY q_id
        ORDER BY dot / NULLIF(qn * cn, 0.0) DESC NULLS LAST, c_id
    ) AS rnk
    FROM {tag}d JOIN {tag}qn USING (q_id) JOIN {tag}cn USING (c_id)
)"""


Q335_SQL = f"""
WITH ce AS (
    SELECT vec_id, CAST(r.i AS INT) AS pos,
           CAST(embedding[r.i + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(0, 4096) r(i)
    WHERE r.i < len(embedding)
),{_rank_ctes_sql("f", None, N_QUERY_VECS)},{_rank_ctes_sql("t", MAT_DIMS, N_QUERY_VECS)},
pre AS (SELECT q_id, c_id FROM tr WHERE rnk <= {MAT_M}),
rr AS (
    SELECT fd.q_id, fd.c_id, ROW_NUMBER() OVER (
        PARTITION BY fd.q_id
        ORDER BY dot / NULLIF(qn * cn, 0.0) DESC NULLS LAST, fd.c_id
    ) AS rnk
    FROM fd
    JOIN pre ON pre.q_id = fd.q_id AND pre.c_id = fd.c_id
    JOIN fqn ON fqn.q_id = fd.q_id
    JOIN fcn ON fcn.c_id = fd.c_id
),
truth AS (SELECT q_id, c_id FROM fr WHERE rnk <= {TOP_K}),
sel AS (SELECT q_id, c_id FROM rr WHERE rnk <= {TOP_K})
SELECT t.q_id AS query_id,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COUNT(s.c_id) AS BIGINT) AS n_overlap,
       CAST(1000 * COUNT(s.c_id) // COUNT(*) AS BIGINT) AS recall_milli
FROM truth t
LEFT JOIN sel s ON s.q_id = t.q_id AND s.c_id = t.c_id
GROUP BY t.q_id
ORDER BY query_id
"""


# ---------------------------------------------------------------------------
# Q348 — incremental SEMANTIC dedup from the persisted IVF index: the
# embedding member of the incremental-dedup family, closing that set
# across modalities too (MinHash q149/q323, SimHash q329, pHash media
# q347 — and now SemDeDup). The coarse quantizer trains on the HISTORY
# population only (q332's base/batch split and SHARED training cache),
# the (vec_id, bucket) postings go through the lake
# (sinks/ann_index.py), and the batch is assigned by the FROZEN loaded
# centroids — history is never re-trained, re-signatured, or re-paired
# with itself. A batch vector is flagged when it shares its frozen
# bucket with a history vector at exact-decimal cosine >=
# SEMDEDUP_THRESHOLD — exactly what q118 would flag had the batch been
# present at index time (the SemDeDup blocking contract).
#
# Oracle: q118's machinery with the training CTEs restricted to the
# history population (_kmeans_unrolled_sql(train_pred=...), the q332
# frozen-centroid device) + the asymmetric batch×history in-bucket
# cosine join.
# ---------------------------------------------------------------------------


def q348_semantic_index_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.similarity import (
        kmeans_assign,
        preload_trained_codebook,
        semantic_index_probe,
    )
    from ..sinks.ann_index import (
        ivf_index_path,
        load_ivf_index,
        save_ivf_index,
    )

    import math

    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = (F.col("vec_id") % _MAINT_BATCH_MOD) == _MAINT_BATCH_REM
    base, batch = emb.where(~is_batch), emb.where(is_batch)
    n_base = base.count()
    # SIZE-DERIVED list count over the HISTORY population (the q118
    # k ∝ n contract — a fixed k makes per-bucket candidate volume grow
    # n²/k, the round-3 hazard): ceil(n_base / 64) = exactly KMEANS_K=8
    # at every oracle corpus, so Q348_SQL's scalar-subquery k is
    # bit-stable where it is evaluated.
    sem_k = max(1, math.ceil(n_base / SEMDEDUP_TARGET_CLUSTER))
    bucketed, cent = kmeans_assign(
        base,
        k=sem_k,
        iters=KMEANS_ITERS,
        cache_key=(sf_dir, "sembase"),
        return_centroids=True,
    )
    path = ivf_index_path(sf_dir) + "_semdedup"
    save_ivf_index(
        spark,
        cent,
        bucketed.select("vec_id", "bucket"),
        path,
        meta={"iters": KMEANS_ITERS, "source": sf_dir, "n_postings": n_base},
    )
    loaded_cent, postings, _meta = load_ivf_index(spark, path)
    preload_trained_codebook(
        spark, (sf_dir, "semload"), sem_k, KMEANS_ITERS, loaded_cent
    )
    batch_assigned = kmeans_assign(
        batch,
        k=sem_k,
        iters=KMEANS_ITERS,
        cache_key=(sf_dir, "semload"),
    )
    history = emb.join(postings, "vec_id")
    return semantic_index_probe(
        batch_assigned, history, threshold=SEMDEDUP_THRESHOLD
    ).orderBy("vec_id")


Q348_SQL = f"""
WITH {{KMEANS_CTES}},
nrm AS (
    SELECT vec_id,
           sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)) AS nn
    FROM u GROUP BY vec_id
),
bat AS (
    SELECT vec_id, bucket FROM asgf
    WHERE vec_id % {_MAINT_BATCH_MOD} = {_MAINT_BATCH_REM}
),
hist AS (
    SELECT vec_id, bucket FROM asgf
    WHERE vec_id % {_MAINT_BATCH_MOD} <> {_MAINT_BATCH_REM}
),
pd AS (
    SELECT b.vec_id AS bid, h.vec_id AS hid,
           CAST(SUM(CAST(ub.v * uh.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM bat b JOIN hist h ON b.bucket = h.bucket
    JOIN u ub ON ub.vec_id = b.vec_id
    JOIN u uh ON uh.vec_id = h.vec_id AND uh.pos = ub.pos
    GROUP BY 1, 2
),
sc AS (
    SELECT bid, hid,
           pd.dot / NULLIF(nb.nn * nh.nn, 0.0) AS cos
    FROM pd
    JOIN nrm nb ON nb.vec_id = bid
    JOIN nrm nh ON nh.vec_id = hid
),
hits AS (
    SELECT bid,
           COUNT(*) AS n_candidates,
           SUM(CASE WHEN cos >= {SEMDEDUP_THRESHOLD} THEN 1 ELSE 0 END)
               AS n_dups,
           MIN(CASE WHEN cos >= {SEMDEDUP_THRESHOLD} THEN hid END)
               AS matched_min_id
    FROM sc GROUP BY 1
)
SELECT b.vec_id,
       CAST(b.bucket AS INT) AS bucket,
       CAST(COALESCE(n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(n_dups, 0) AS BIGINT) AS n_dups,
       CAST(matched_min_id AS BIGINT) AS matched_min_id,
       COALESCE(n_dups, 0) > 0 AS is_dup
FROM bat b LEFT JOIN hits ON hits.bid = b.vec_id
ORDER BY b.vec_id
""".replace(
    "{KMEANS_CTES}",
    _kmeans_unrolled_sql(
        "SELECT CAST(CEIL(COUNT(*) / "
        f"{float(SEMDEDUP_TARGET_CLUSTER)}) AS BIGINT) FROM embeddings "
        f"WHERE vec_id % {_MAINT_BATCH_MOD} <> {_MAINT_BATCH_REM}",
        KMEANS_ITERS,
        train_pred=_MAINT_TRAIN_PRED,
    ),
)


# ---------------------------------------------------------------------------
# Q350 — k-NN graph with a BINARY-QUANTIZED candidate stage (IVF + BQ +
# exact re-rank — FAISS's IVF+refine recipe; q166 is the flat-search
# twin). Round-10 ×64 octave decomposition: q151's superlinear tail is
# the candidate stage (bucket imbalance grows candidates/row 269→450
# per octave, each shipping two 64×8-byte vectors through the join —
# ~29 GB at ×64), not the coarse assign (linear after the beam). Here
# candidates carry an 8-byte sign signature, Hamming bit-ops pre-rank
# them, and raw vectors rejoin only the n×BQ_PRERANK survivors — the
# shuffle is linear by construction. Full value oracle: sign bits,
# Hamming, and the re-rank cosine are exact integers the SQL replays.
# ---------------------------------------------------------------------------

#: Exact re-rank margin (16×KNN_GRAPH_K): measured overlap with q151's
#: exact in-bucket edges at prerank 16/32/64 — gauss ×4 0.65/0.84/0.97,
#: salted ×4 0.90/0.95/0.99. Still linear: raw vectors touch n×prerank
#: rows. Buckets smaller than the margin re-rank EXACTLY (kept = whole
#: posting list), which is why the oracle corpora agree with q151.
BQ_PRERANK = 64


def q350_knn_graph_bq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_assign, knn_graph_bq

    emb = load_table(spark, sf_dir, "embeddings")
    emb_k = _size_derived_k(spark, sf_dir, emb)
    bucketed, cent = kmeans_assign(
        emb, k=emb_k, iters=KMEANS_ITERS,
        cache_key=(sf_dir, "full"),
        return_centroids=True,
    )
    return knn_graph_bq(
        bucketed, cent, bucket_col="bucket",
        k=KNN_GRAPH_K, nprobe=IVF_NPROBE, prerank=BQ_PRERANK,
    )


#: Q151's CTE chain up to (and including) the probes/vnorm/qd stages —
#: everything before its own 'ranked' re-rank, reused verbatim so the
#: BQ twin replays the identical trained probes.
_Q151_PRE_RANK = Q151_BODY.split(",\nranked AS")[0]

Q350_SQL = f"""
WITH {_Q151_PRE_RANK},
packed AS (
    SELECT vec_id, {_BQ_LO} AS lo, {_BQ_HI} AS hi FROM u GROUP BY vec_id
),
kept AS (
    SELECT * FROM (
        SELECT p.src_id, ac.vec_id AS dst_id,
               CAST(bit_count(xor(CAST(cp.lo AS BIT), CAST(qp.lo AS BIT)))
                  + bit_count(xor(CAST(cp.hi AS BIT), CAST(qp.hi AS BIT)))
                 AS INT) AS hamming,
               ROW_NUMBER() OVER (
                   PARTITION BY p.src_id
                   ORDER BY CAST(bit_count(xor(CAST(cp.lo AS BIT),
                                               CAST(qp.lo AS BIT)))
                              + bit_count(xor(CAST(cp.hi AS BIT),
                                              CAST(qp.hi AS BIT)))
                             AS INT), ac.vec_id
               ) AS cr
        FROM probes p
        JOIN asgf ac ON ac.bucket = p.bucket AND ac.vec_id <> p.src_id
        JOIN packed cp ON cp.vec_id = ac.vec_id
        JOIN packed qp ON qp.vec_id = p.src_id
    ) WHERE cr <= {BQ_PRERANK}
),
bq_dots AS (
    SELECT k.src_id, k.dst_id, k.hamming,
           SUM(CAST(a.v9 * b.v9 AS HUGEINT)) AS dq
    FROM kept k
    JOIN ui a ON a.vec_id = k.src_id
    JOIN ui b ON b.vec_id = k.dst_id AND b.pos = a.pos
    GROUP BY 1, 2, 3
),
bq_scored AS (
    SELECT d.src_id, d.dst_id, d.hamming,
           round(CAST(d.dq AS DOUBLE)
               / NULLIF(sqrt(CAST(qn.nq AS DOUBLE))
                        * sqrt(CAST(cn.nq AS DOUBLE)), 0.0), 9) AS cosine
    FROM bq_dots d
    JOIN vnorm qn ON qn.vec_id = d.src_id
    JOIN vnorm cn ON cn.vec_id = d.dst_id
)
SELECT src_id, dst_id, hamming, cosine,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY src_id ORDER BY cosine DESC NULLS LAST, dst_id
       ) AS INT) AS rank
FROM bq_scored
QUALIFY rank <= {KNN_GRAPH_K}
"""


# ---------------------------------------------------------------------------
# Q351 — BALANCED IVF posting assignment, oracle-checked end to end
# (round-11 VERDICT item 1's operator as a registered query). Every row
# gets its natural (argmin) bucket, its bounded-capacity balanced
# bucket, and the spill level the deterministic spread passes settled
# it at. cap = ceil(1.1·n/k) sits BELOW the trained max bucket on every
# oracle corpus (74–79 vs cap 69 at sf0.01), so real spills are
# exercised under the value oracle — the SQL twin replays the probe
# ranking and all three window passes with the identical integers and
# tie-breaks. The probe scan is the flat EXACT path at oracle k (< 64),
# so the query is exact under SPARK_GRAFT_FORCE_EXACT.
# ---------------------------------------------------------------------------

#: Demo capacity factor for q351: deliberately tighter than the
#: production BALANCE_CAP_FACTOR=2.0 so the oracle corpus genuinely
#: overflows (mean bucket n/k = 62.5 at sf0.01; natural max 74-79).
BALANCE_DEMO_CAP_FACTOR = 1.1


def q351_balanced_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators.similarity import (
        BALANCE_SPILL_PASSES,
        _with_probes,
        balanced_posting,
        kmeans_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k = _size_derived_k(spark, sf_dir, emb)
    _bucketed, cent = kmeans_assign(
        emb, k=k, iters=KMEANS_ITERS,
        cache_key=(sf_dir, "full"),
        return_centroids=True,
    )
    n = _corpus_rows(spark, sf_dir, emb)
    cap = max(1, math.ceil(BALANCE_DEMO_CAP_FACTOR * n / k))
    pr = _with_probes(emb, cent, "embedding", 4)
    posting = balanced_posting(pr, "vec_id", cap, passes=BALANCE_SPILL_PASSES)
    natural = pr.select(
        "vec_id",
        F.element_at(F.col("__probes"), 1)["bucket"]
        .cast("int")
        .alias("natural_bucket"),
    )
    return (
        natural.join(posting, F.col("vec_id") == F.col("__bid"))
        .select(
            "vec_id",
            "natural_bucket",
            F.col("__bbucket").cast("int").alias("balanced_bucket"),
            F.col("__blevel").cast("int").alias("spill_level"),
        )
        .orderBy("vec_id")
    )


def _q351_pass_sql(i: int) -> str:
    """One spread-spill pass: rank within the CURRENT bucket by
    (settled level, distance, id); overflow chunk j jumps j levels,
    clamped to the last probe (3). Identical integers and tie-breaks to
    balanced_posting's window pass."""
    return f"""
s{i} AS (
    SELECT p.vec_id, p.pos, pr.bucket, pr.d,
           ROW_NUMBER() OVER (
               PARTITION BY pr.bucket ORDER BY p.pos, pr.d, p.vec_id
           ) AS rk
    FROM p{i - 1} p
    JOIN pr4 pr ON pr.vec_id = p.vec_id AND pr.rn = p.pos + 1
),
p{i} AS (
    SELECT vec_id,
           CASE WHEN rk > (SELECT cap FROM meta)
                THEN LEAST(
                    pos + 1 + (rk - (SELECT cap FROM meta) - 1)
                              // (SELECT cap FROM meta),
                    3)
                ELSE pos END AS pos
    FROM s{i}
)"""


Q351_SQL = f"""
WITH {_kmeans_unrolled_sql(KMEANS_K, KMEANS_ITERS)},
qd AS (
    SELECT ui.vec_id, c.bucket,
           SUM(CAST(ui.v9 - c.c9 AS HUGEINT)
             * CAST(ui.v9 - c.c9 AS HUGEINT)) AS d
    FROM ui JOIN cent{KMEANS_ITERS} c USING (pos)
    GROUP BY 1, 2
),
pr4 AS (
    SELECT * FROM (
        SELECT vec_id, bucket, d,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY d, bucket
               ) AS rn
        FROM qd
    ) WHERE rn <= 4
),
meta AS (
    SELECT CAST(CEIL({BALANCE_DEMO_CAP_FACTOR} * COUNT(*) / {KMEANS_K})
                AS BIGINT) AS cap
    FROM embeddings
),
p0 AS (SELECT DISTINCT vec_id, 0 AS pos FROM pr4),
{",".join(_q351_pass_sql(i) for i in range(1, 4))}
SELECT p.vec_id,
       CAST(nat.bucket AS INT) AS natural_bucket,
       CAST(fin.bucket AS INT) AS balanced_bucket,
       CAST(p.pos AS INT) AS spill_level
FROM p3 p
JOIN pr4 nat ON nat.vec_id = p.vec_id AND nat.rn = 1
JOIN pr4 fin ON fin.vec_id = p.vec_id AND fin.rn = p.pos + 1
ORDER BY p.vec_id
"""


VECTOR_QUERIES = {
    "q351_balanced_assign": q351_balanced_assign,
    "q350_knn_graph_bq": q350_knn_graph_bq,
    "q348_semantic_index_probe": q348_semantic_index_probe,
    "q271_ann_recall": q271_ann_recall,
    "q289_embedding_hygiene": q289_embedding_hygiene,
    "q309_label_balance": q309_label_balance,
    "q25_cosine_topk": q25_cosine_topk,
    "q192_embedding_drift": q192_embedding_drift,
    "q26_ann_ivf": q26_ann_ivf,
    "q40_embedding_neardup": q40_embedding_neardup,
    "q56_ann_lsh": q56_ann_lsh,
    "q78_embedding_quantize": q78_embedding_quantize,
    "q106_ann_ivf_trained": q106_ann_ivf_trained,
    "q118_semantic_dedup": q118_semantic_dedup,
    "q145_pq_encode": q145_pq_encode,
    "q150_ivfpq_search": q150_ivfpq_search,
    "q151_knn_graph": q151_knn_graph,
    "q166_binary_quant_search": q166_binary_quant_search,
    "q178_knn_clusters": q178_knn_clusters,
    "q258_pca_power_iteration": q258_pca_power_iteration,
    "q259_mutual_nn": q259_mutual_nn,
    "q260_cluster_quality": q260_cluster_quality,
    "q318_ann_saved_index": q318_ann_saved_index,
    "q322_ivfpq_saved_index": q322_ivfpq_saved_index,
    "q332_ivf_index_append": q332_ivf_index_append,
    "q335_matryoshka_funnel": q335_matryoshka_funnel,
    "q339_hard_negatives": q339_hard_negatives,
}

VECTOR_ORACLES = {
    "q351_balanced_assign": Q351_SQL,
    "q350_knn_graph_bq": Q350_SQL,
    "q348_semantic_index_probe": Q348_SQL,
    "q271_ann_recall": Q271_SQL,
    "q289_embedding_hygiene": Q289_SQL,
    "q309_label_balance": Q309_SQL,
    "q258_pca_power_iteration": Q258_SQL,
    "q259_mutual_nn": Q259_SQL,
    "q260_cluster_quality": Q260_SQL,
    "q151_knn_graph": Q151_SQL,
    "q166_binary_quant_search": Q166_SQL,
    "q178_knn_clusters": Q178_SQL,
    "q106_ann_ivf_trained": Q106_SQL,
    "q118_semantic_dedup": Q118_SQL,
    "q145_pq_encode": Q145_SQL,
    "q150_ivfpq_search": Q150_SQL,
    "q25_cosine_topk": Q25_SQL,
    "q192_embedding_drift": Q192_SQL,
    "q26_ann_ivf": Q26_SQL,
    "q40_embedding_neardup": Q40_SQL,
    "q56_ann_lsh": Q56_SQL,
    "q78_embedding_quantize": Q78_SQL,
    "q318_ann_saved_index": Q318_SQL,
    "q322_ivfpq_saved_index": Q322_SQL,
    "q332_ivf_index_append": Q332_SQL,
    "q335_matryoshka_funnel": Q335_SQL,
    "q339_hard_negatives": Q339_SQL,
}
