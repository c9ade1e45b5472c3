"""[EXT] Text-analysis and dedup queries over the ``documents`` table.

These are the LLM-data-pipeline operators the build mandate adds beyond
reference parity (BASELINE.json north_star): text stats, language ID,
fingerprinting, exact dedup, n-gram Jaccard near-dup, MinHash-LSH and
SimHash. Every stage uses the cross-engine hash60 (md5-prefix) so the DuckDB
oracles replay the full hash pipeline bit-for-bit — including banding.

Shingle/tokenization contract shared by Spark and the oracles:
tokens = regex-split of TRIM(text) on \\s+; shingles = DISTINCT k-word
joins; hash60(x) = int(md5(x)[:15], 16).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_MARKERS,
    QUALITY_STOPWORDS,
    bpe_ish_token_count,
    fingerprint,
    hash60,
    lang_id,
    punct_count,
    quality_score,
    stopword_count,
    token_count,
    tokens,
)
from ..operators.textdedup import (
    novelty_scores,
    repeated_passages,
    MINHASH_PRIME,
    _exploded_shingles,
    base_hash31,
    exact_dedup_groups,
    minhash_lsh_pairs,
    minhash_signatures,
    minhash_params,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_signatures,
    winnowing_fingerprints,
)
from ..sources.tables import load_table, session_memo

# Shared oracle CTE fragments -------------------------------------------------

_SQL_TOKS = r"""
toks AS (
    SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
    FROM documents
)
"""

_SQL_SHINGLES = r"""
sh AS (
    SELECT DISTINCT doc_id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS shingle
    FROM toks, UNNEST(range(0, GREATEST(len(t) - 2, 0))) AS r(i)
)
"""

_SQL_HASH60 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

# ---------------------------------------------------------------------------
# Q16 — Per-document text statistics (token counts, punctuation, stopwords,
# quality score). All per-row arithmetic — embarrassingly parallel at scale.
# ---------------------------------------------------------------------------


def q16_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        punct_count("text").alias("n_punct"),
        stopword_count("text").alias("n_stopwords"),
        quality_score("text").alias("quality"),
    )


_SW = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)

Q16_SQL = rf"""
WITH base AS (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CASE WHEN TRIM(text) = '' THEN 0
                ELSE CAST(len(string_split_regex(TRIM(text), '\s+')) AS BIGINT)
           END AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct,
           CAST(len(list_filter(string_split_regex(TRIM(text), '\s+'),
                                x -> x IN ({_SW}))) AS BIGINT) AS n_stopwords
    FROM documents
)
SELECT doc_id, n_chars_actual, n_tokens, n_bpe_tokens, n_punct, n_stopwords,
       0.4 * least(CAST(n_chars_actual AS DOUBLE) / 500.0, 1.0)
       + 0.4 * least((CASE WHEN n_tokens > 0
                           THEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                           ELSE 0.0 END) * 4.0, 1.0)
       + 0.2 * (1.0 - least((CASE WHEN n_chars_actual > 0
                                  THEN CAST(n_punct AS DOUBLE) / CAST(n_chars_actual AS DOUBLE)
                                  ELSE 0.0 END) * 5.0, 1.0)) AS quality
FROM base
"""

# ---------------------------------------------------------------------------
# Q17 — Heuristic language ID: argmax of per-language marker-token hits,
# ties to the alphabetically-first language, no hits -> 'und'.
# ---------------------------------------------------------------------------


def q17_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        lang_id("text").alias("predicted_lang"),
    )


def _lang_sql() -> str:
    hit_cols = []
    for lang in sorted(LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        hit_cols.append(
            f"CAST(len(list_filter(string_split_regex(TRIM(text), '\\s+'), "
            f"x -> x IN ({markers}))) AS BIGINT) AS {lang}_hits"
        )
    langs = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"{lg}_hits" for lg in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN {lg}_hits > 0 AND {lg}_hits = {best} THEN '{lg}'" for lg in langs
    ) + " ELSE 'und' END"
    return f"""
WITH hits AS (
    SELECT doc_id, lang AS declared_lang, {', '.join(hit_cols)}
    FROM documents
)
SELECT doc_id, declared_lang, {case} AS predicted_lang
FROM hits
"""


Q17_SQL = _lang_sql()

# ---------------------------------------------------------------------------
# Q18 — Document fingerprint: sha256 of normalized text (lower, non-alnum
# runs -> single space, trim). Bit-identical across engines.
# ---------------------------------------------------------------------------


def q18_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fingerprint"))


Q18_SQL = r"""
SELECT doc_id,
       sha256(TRIM(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
FROM documents
"""

# ---------------------------------------------------------------------------
# Q19 — Exact dedup groups: one hash-aggregate on the fingerprint (the 100 TB
# shape: a single map-side-combinable shuffle).
# ---------------------------------------------------------------------------


def q19_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


Q19_SQL = r"""
SELECT sha256(TRIM(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keeper_id
FROM documents
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Q20 — Exact n-gram Jaccard near-dup pairs (word 3-shingles, j >= 0.8).
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.8


def q20_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=JACCARD_THRESHOLD
    )


Q20_SQL = rf"""
WITH {_SQL_TOKS}, {_SQL_SHINGLES},
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
SELECT doc_a, doc_b, common, sa.n AS na, sb.n AS nb,
       CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= {JACCARD_THRESHOLD}
"""

# ---------------------------------------------------------------------------
# Q21 — MinHash signatures (long format: doc_id × seed → minhash). One md5
# base hash per shingle, then the (a*h+b) mod p universal family — the same
# scheme as the engine's wide/banded one-pass variant
# (operators/textdedup.py:minhash_signatures); the long format is its
# SQL-comparable projection.
# ---------------------------------------------------------------------------

MINHASH_ORACLE_SEEDS = 16  # long-format oracle checks a prefix of the 64 seeds

_SQL_BASE31 = (
    "CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % " + str(MINHASH_PRIME)
)


def _params_values_sql(n: int) -> str:
    rows = ", ".join(
        f"({s}, {a}, {b})" for s, (a, b) in enumerate(minhash_params(n))
    )
    return f"params(seed, a, b) AS (SELECT * FROM (VALUES {rows}) v(seed, a, b))"


def q21_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = _exploded_shingles(docs, "doc_id", "text", 3).select(
        "doc_id", base_hash31(F.col("shingle")).alias("h")
    )
    params = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("seed"), F.lit(a).alias("a"), F.lit(b).alias("b")
                )
                for s, (a, b) in enumerate(minhash_params(MINHASH_ORACLE_SEEDS))
            ]
        )
    ).alias("p")
    return (
        sh.select("doc_id", "h", params)
        .select("doc_id", "p.seed", "p.a", "p.b", "h")
        .groupBy("doc_id", "seed")
        .agg(
            F.min((F.col("a") * F.col("h") + F.col("b")) % F.lit(MINHASH_PRIME)).alias(
                "minhash"
            )
        )
    )


Q21_SQL = rf"""
WITH {_SQL_TOKS}, {_SQL_SHINGLES},
{_params_values_sql(MINHASH_ORACLE_SEEDS)},
hashed AS (
    SELECT doc_id, {_SQL_BASE31} AS h FROM sh
)
SELECT doc_id, seed, MIN((a * h + b) % {MINHASH_PRIME}) AS minhash
FROM hashed CROSS JOIN params
GROUP BY doc_id, seed
"""

# ---------------------------------------------------------------------------
# Q22 — MinHash-LSH candidate pairs (64 hashes, 16 bands × 4): docs sharing
# >= 1 band bucket. Join is on (band_id, band_hash) — never an all-pairs
# product; this is the scale path that prunes candidates for Q20's exact
# verify.
# ---------------------------------------------------------------------------


def q22_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", k=3)


Q22_SQL = rf"""
WITH {_SQL_TOKS}, {_SQL_SHINGLES},
{_params_values_sql(64)},
hashed AS (
    SELECT doc_id, {_SQL_BASE31} AS h FROM sh
),
sig AS (
    SELECT doc_id, seed, MIN((a * h + b) % {MINHASH_PRIME}) AS minhash
    FROM hashed CROSS JOIN params
    GROUP BY doc_id, seed
),
banded AS (
    SELECT doc_id, seed // 4 AS band_id,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS band_hash
    FROM sig
    GROUP BY doc_id, seed // 4
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
FROM banded a
JOIN banded b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# Q23 — SimHash signatures (60-bit, token votes).
# ---------------------------------------------------------------------------


def q23_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_signatures(docs, "doc_id", "text")


Q23_SQL = rf"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS tok
    FROM documents
),
h AS (
    SELECT doc_id, {_SQL_HASH60.format(x='tok')} AS h
    FROM toks WHERE tok <> ''
),
votes AS (
    SELECT doc_id, CAST(r.i AS INT) AS bit,
           CASE WHEN (h >> CAST(r.i AS INT)) & 1 = 1 THEN 1 ELSE -1 END AS vote
    FROM h CROSS JOIN range(0, 60) r(i)
),
bitsums AS (
    SELECT doc_id, bit, CAST(SUM(vote) AS BIGINT) AS s
    FROM votes GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM bitsums
GROUP BY doc_id
"""

# ---------------------------------------------------------------------------
# Q24 — SimHash near-dup pairs, Hamming <= 3. Engine side joins on 15-bit
# bands (pigeonhole-complete, see operators/textdedup.py); the oracle brute-
# forces all pairs — same result set, which is exactly the point of the test.
# ---------------------------------------------------------------------------


def q24_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=3)


Q24_SQL = rf"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS tok
    FROM documents
),
h AS (
    SELECT doc_id, {_SQL_HASH60.format(x='tok')} AS h
    FROM toks WHERE tok <> ''
),
votes AS (
    SELECT doc_id, CAST(r.i AS INT) AS bit,
           CASE WHEN (h >> CAST(r.i AS INT)) & 1 = 1 THEN 1 ELSE -1 END AS vote
    FROM h CROSS JOIN range(0, 60) r(i)
),
bitsums AS (
    SELECT doc_id, bit, CAST(SUM(vote) AS BIGINT) AS s
    FROM votes GROUP BY 1, 2
),
sig AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM bitsums GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

# ---------------------------------------------------------------------------
# Q47 — winnowing fingerprints (MOSS): positional k-gram hashes → w-window
# minima → distinct. The rolling-hash fingerprint of the north-star list.
# ---------------------------------------------------------------------------

WINNOW_W = 4


def q47_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs, "doc_id", "text", k=3, w=WINNOW_W)


Q47_SQL = rf"""
WITH {_SQL_TOKS},
pidx AS (
    -- bounded by the document's own token count (no fixed position cap)
    SELECT doc_id, t, unnest(generate_series(0, len(t) - 3)) AS i FROM toks
),
psh AS (
    SELECT doc_id, CAST(i + 1 AS INT) AS pos,
           concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS shingle
    FROM pidx
    WHERE i <= len(t) - 3
),
h AS (
    SELECT doc_id, pos, {_SQL_HASH60.format(x='shingle')} AS hv FROM psh
),
m AS (
    SELECT doc_id, pos,
           MIN(hv) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS wmin,
           MAX(pos) OVER (PARTITION BY doc_id) AS maxpos
    FROM h
)
SELECT DISTINCT doc_id, wmin AS fp
FROM m WHERE pos <= GREATEST(1, maxpos - {WINNOW_W - 1})
"""


# ---------------------------------------------------------------------------
# Q54 — Near-dup cluster formation: connected components over the MinHash-
# LSH candidate pairs (operators/graph.py label propagation). The oracle
# replays the clustering with a recursive transitive-closure CTE — the
# iterative distributed algorithm and the SQL recursion must agree exactly.
# ---------------------------------------------------------------------------


def q54_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import neardup_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", k=3)
    return neardup_components(pairs, docs, id_col="doc_id")


# CTE block shared with q74 (plans/curation.py): everything up to the
# per-doc component + cluster-size relations.
Q54_CTES = rf"""
WITH RECURSIVE {_SQL_TOKS}, {_SQL_SHINGLES},
{_params_values_sql(64)},
hashed AS (
    SELECT doc_id, {_SQL_BASE31} AS h FROM sh
),
sig AS (
    SELECT doc_id, seed, MIN((a * h + b) % {MINHASH_PRIME}) AS minhash
    FROM hashed CROSS JOIN params
    GROUP BY doc_id, seed
),
banded AS (
    SELECT doc_id, seed // 4 AS band_id,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS band_hash
    FROM sig
    GROUP BY doc_id, seed // 4
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
),
comp AS (
    SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node
),
sizes AS (
    SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
)
"""

Q54_SQL = (
    Q54_CTES
    + """
SELECT comp.doc_id, comp.component, sizes.cluster_size,
       comp.doc_id = comp.component AS is_keeper
FROM comp JOIN sizes USING (component)
"""
)


# ---------------------------------------------------------------------------
# Q58 — TF-IDF distinctive terms: top-3 terms per document by a rational
# idf score. Uses (N+1)/(df+1) instead of ln((N+1)/(df+1)) so the score is
# a quotient of exact integers — bit-identical IEEE division on every
# engine; ln would be libm-dependent (documented swap for production
# ranking, where 1-ulp drift doesn't matter).
# ---------------------------------------------------------------------------

TFIDF_TOP_TERMS = 3


def q58_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
        )
        .where(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    nd = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            "tf",
            "doc_freq",
            (
                (F.col("tf") * (F.col("n") + 1)).cast("double")
                / (F.col("doc_freq") + 1).cast("double")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TFIDF_TOP_TERMS)
        .select("doc_id", "term", "tf", "doc_freq", "score", "rank")
    )


Q58_SQL = rf"""
WITH tk AS (
    SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf
    FROM tk WHERE term <> '' GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY term),
nd AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
    SELECT doc_id, term, tf, doc_freq,
           CAST(tf * (n + 1) AS DOUBLE) / CAST(doc_freq + 1 AS DOUBLE) AS score
    FROM tf JOIN dfreq USING (term) CROSS JOIN nd
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC
    ) AS INT) AS rank
    FROM scored
)
SELECT doc_id, term, tf, doc_freq, score, rank
FROM ranked WHERE rank <= {TFIDF_TOP_TERMS}
"""


# ---------------------------------------------------------------------------
# Q64 — Document chunking with overlap: fixed-size token windows with a
# stride, the canonical pre-tokenization step of an LLM training pipeline.
# Pure array ops (slice over the materialized token column, one explode) —
# no Python, output bounded at tokens/stride chunks per doc.
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8
_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


def q64_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    n = F.size("t")
    starts = F.sequence(F.lit(0), F.floor((n - 1) / _STRIDE).cast("int"))
    chunks = toks.select(
        "doc_id",
        "t",
        F.explode(starts).alias("chunk_idx"),
    ).where(F.col("chunk_idx") * _STRIDE < n)
    chunk = F.slice(
        F.col("t"), F.col("chunk_idx") * _STRIDE + 1, CHUNK_TOKENS
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.sha2(F.concat_ws(" ", chunk), 256).alias("chunk_sha"),
    )


Q64_SQL = rf"""
WITH {_SQL_TOKS},
jidx AS (
    -- bounded by the document's own token count (no fixed position cap)
    SELECT doc_id, t,
           unnest(generate_series(0, (len(t) - 1) // {_STRIDE})) AS j
    FROM toks WHERE len(t) > 0
),
idx AS (
    SELECT doc_id, t, CAST(j AS INT) AS chunk_idx
    FROM jidx
    WHERE j * {_STRIDE} < len(t)
),
c AS (
    SELECT doc_id, chunk_idx,
           t[chunk_idx * {_STRIDE} + 1 :
             LEAST(chunk_idx * {_STRIDE} + {CHUNK_TOKENS}, len(t))] AS chunk
    FROM idx
)
SELECT doc_id, chunk_idx,
       CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       sha256(array_to_string(chunk, ' ')) AS chunk_sha
FROM c
"""


# ---------------------------------------------------------------------------
# Q65 — Deterministic hash split + sampling: train/val/test assignment by
# a stable content-independent hash of the document id (80/10/10), plus a
# 10% hash sample per stratum. THE scalable sampling idiom: no RNG state,
# no shuffle, reproducible on any engine, stable under re-partitioning —
# rows join back to their split by recomputing the hash.
# ---------------------------------------------------------------------------


def q65_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = hash60(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return (
        docs.select(
            "lang",
            split.alias("split"),
            (h % 10 == 0).alias("in_10pct_sample"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("in_10pct_sample"), 1).otherwise(0))
            .cast("long")
            .alias("n_sampled"),
        )
        .orderBy("lang", "split")
    )


Q65_SQL = f"""
WITH h AS (
    SELECT lang,
           {_SQL_HASH60.format(x='CAST(doc_id AS VARCHAR)')} % 100 AS hv
    FROM documents
)
SELECT lang,
       CASE WHEN hv < 80 THEN 'train'
            WHEN hv < 90 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN hv % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM h
GROUP BY 1, 2
ORDER BY lang, split
"""


# ---------------------------------------------------------------------------
# Q115 — repeated-passage report (substring-level dedup): merged token
# spans covered by corpus-frequent k-shingles (Lee et al. 2022's
# training-data signal, relational formulation in
# operators/textdedup.py:repeated_passages). k=4/min_count=2 surfaces the
# corpus's shared boilerplate without degenerating to whole-doc matches.
# ---------------------------------------------------------------------------

_RP_K = 4
_RP_MIN_COUNT = 2


def q115_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return repeated_passages(
        docs, "doc_id", "text", k=_RP_K, min_count=_RP_MIN_COUNT
    )


_RP_SHINGLE = ", ".join(f"t[i+{j}]" for j in range(1, _RP_K + 1))

Q115_SQL = rf"""
WITH {_SQL_TOKS},
pidx AS (
    SELECT doc_id, t, unnest(generate_series(0, len(t) - {_RP_K})) AS i
    FROM toks
),
sh AS (
    SELECT doc_id, CAST(i + 1 AS INT) AS pos,
           concat_ws(' ', {_RP_SHINGLE}) AS shingle
    FROM pidx WHERE i <= len(t) - {_RP_K}
),
freq AS (
    SELECT shingle, COUNT(*) AS cnt FROM sh
    GROUP BY shingle HAVING COUNT(*) >= {_RP_MIN_COUNT}
),
hot AS (
    SELECT s.doc_id, s.pos, s.pos + {_RP_K - 1} AS endpos, f.cnt
    FROM sh s JOIN freq f USING (shingle)
),
flag AS (
    SELECT *, CASE WHEN pos > COALESCE(MAX(endpos) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        THEN 1 ELSE 0 END AS brk
    FROM hot
),
isl AS (
    SELECT *, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM flag
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(endpos) AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(MAX(cnt) AS BIGINT) AS max_occurrences
FROM isl GROUP BY doc_id, island
"""


# ---------------------------------------------------------------------------
# Q116 — distributed BPE merge training (operators/bpe.py). The oracle
# replays the SAME sequential algorithm in pure SQL with the rounds
# unrolled as CTE chains (the q106 unrolled-k-means pattern): per round,
# pair counts by positional self-join, deterministic argmax (count DESC,
# pair ASC), greedy-left merge via run-parity (candidates grouped into
# consecutive runs, odd ranks merge — provably identical to the engine's
# left-to-right fold since overlapping candidates only arise for a==b).
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6


def q116_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(spark, docs, "text", n_merges=_BPE_ROUNDS)


def _bpe_round_ctes(r: int) -> str:
    return f"""
p{r} AS (
    SELECT a.sym AS la, b.sym AS lb, SUM(a.cnt) AS pc
    FROM q{r} a JOIN q{r} b ON a.word = b.word AND b.pos = a.pos + 1
    GROUP BY 1, 2
),
best{r} AS MATERIALIZED (SELECT la, lb, pc FROM p{r} ORDER BY pc DESC, la, lb LIMIT 1),
cand{r} AS (
    SELECT a.word, a.pos
    FROM q{r} a JOIN q{r} b ON a.word = b.word AND b.pos = a.pos + 1
    JOIN best{r} x ON a.sym = x.la AND b.sym = x.lb
),
keep{r} AS MATERIALIZED (
    SELECT word, pos FROM (
        SELECT word, pos,
               ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) AS rn
        FROM (
            SELECT word, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp
            FROM cand{r}
        )
    ) WHERE rn % 2 = 1
),
m{r} AS (
    SELECT s.word, s.cnt, s.pos AS oldpos,
           CASE WHEN k.pos IS NOT NULL THEN s.sym || ns.sym ELSE s.sym END AS sym
    FROM q{r} s
    LEFT JOIN keep{r} k ON s.word = k.word AND s.pos = k.pos
    LEFT JOIN q{r} ns ON ns.word = s.word AND ns.pos = s.pos + 1
    WHERE NOT EXISTS (
        SELECT 1 FROM keep{r} k2 WHERE k2.word = s.word AND k2.pos = s.pos - 1
    )
),
q{r + 1} AS MATERIALIZED (
    SELECT word, cnt,
           ROW_NUMBER() OVER (PARTITION BY word ORDER BY oldpos) AS pos, sym
    FROM m{r}
),
tot{r} AS (SELECT SUM(cnt) AS n FROM q{r + 1})
"""


_BPE_BASE = r"""
WITH wtoks AS (
    SELECT unnest(string_split_regex(TRIM(text), '\s+')) AS word FROM documents
),
words AS (
    SELECT word, COUNT(*) AS cnt FROM wtoks WHERE word <> '' GROUP BY 1
),
c0 AS (SELECT word, cnt, regexp_extract_all(word, '.') AS cs FROM words),
s1 AS (
    SELECT word, cnt, unnest(generate_series(1, len(cs))) AS pos, cs FROM c0
),
q1 AS MATERIALIZED (SELECT word, cnt, pos, cs[pos] AS sym FROM s1)
"""


def _bpe_oracle_sql(n_rounds: int) -> str:
    base = _BPE_BASE
    rounds = "".join("," + _bpe_round_ctes(r) for r in range(1, n_rounds + 1))
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS round, la AS left_sym, lb AS right_sym,\n"
        f"       CAST(pc AS BIGINT) AS pair_count,\n"
        f"       CAST((SELECT n FROM tot{r}) AS BIGINT) AS corpus_symbols_after\n"
        f"FROM best{r}"
        for r in range(1, n_rounds + 1)
    )
    return base + rounds + "\n" + selects


Q116_SQL = _bpe_oracle_sql(_BPE_ROUNDS)


# ---------------------------------------------------------------------------
# Q132 — BPE ENCODING with the trained merge list (the pipeline step that
# USES q116's tokenizer): the corpus is tokenized by applying the six
# trained merges in rank order (operators/bpe.py:bpe_encode_docs — encode
# the distinct-word vocabulary map-only, join the word stream back, agg
# per doc). Output pins counts AND an order-exact sha256 of each doc's
# token stream. The oracle replays the identical unrolled training CTEs
# (q116's proven chain) — its final q7 frame IS the encoded vocabulary —
# then aggregates the same digest per document.
# ---------------------------------------------------------------------------

def _trained_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """Train-once-per-corpus-state merge list (n_merges rows of driver
    state — the tokenizer artifact, same bounded-collect pattern as the
    per-round argmax inside training)."""

    def train() -> list[tuple[str, str]]:
        rows = q116_bpe_merges(spark, sf_dir).orderBy("round").collect()
        return [(r["left_sym"], r["right_sym"]) for r in rows]

    return session_memo(spark, sf_dir, "bpe_merges", train)


def q132_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode_docs

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_docs(docs, "text", _trained_merges(spark, sf_dir))


def _bpe_encode_oracle_sql(n_rounds: int) -> str:
    rounds = "".join("," + _bpe_round_ctes(r) for r in range(1, n_rounds + 1))
    return rf"""{_BPE_BASE}{rounds},
vocab AS MATERIALIZED (
    SELECT word, COUNT(*) AS ntok,
           string_agg(sym, ' ' ORDER BY pos) AS toks_str
    FROM q{n_rounds + 1} GROUP BY word
),
dtoks AS (
    SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t FROM documents
),
dw AS (
    SELECT doc_id, unnest(generate_series(1, len(t))) AS wpos, t FROM dtoks
),
dws AS (SELECT doc_id, wpos, t[wpos] AS word FROM dw WHERE t[wpos] <> '')
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(v.ntok) AS BIGINT) AS n_bpe_tokens,
       sha256(string_agg(v.toks_str, ' ' ORDER BY d.wpos)) AS token_sha
FROM dws d JOIN vocab v USING (word)
GROUP BY d.doc_id
"""


Q132_SQL = _bpe_encode_oracle_sql(_BPE_ROUNDS)


# ---------------------------------------------------------------------------
# Q193 — Tokenizer fertility report: tokens-per-word and chars-per-token
# of the REAL trained BPE tokenizer (q116's merges, q132's encoder),
# aggregated per (lang, source) — the standard multi-corpus tokenizer
# health check (a language whose fertility spikes is being shredded into
# sub-word confetti and needs vocabulary budget before pretraining).
# Ratios are int/int double divisions of exact counts, so the report
# carries a full value oracle (the q132 unrolled-training chain wrapped
# as a subquery, then one keyed agg).
# ---------------------------------------------------------------------------


def q193_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode_docs

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_encode_docs(docs, "text", _trained_merges(spark, sf_dir))
    dims = docs.select(
        "doc_id", "lang", "source", F.length("text").cast("long").alias("nch")
    )
    return (
        enc.join(dims, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe_tokens").alias("n_tokens"),
            F.sum("nch").alias("n_chars"),
            (
                F.sum("n_bpe_tokens").cast("double")
                / F.sum("n_words").cast("double")
            ).alias("fertility"),
            (
                F.sum("nch").cast("double")
                / F.sum("n_bpe_tokens").cast("double")
            ).alias("chars_per_token"),
        )
        .orderBy("lang", "source")
    )


Q193_SQL = f"""
WITH enc AS ({Q132_SQL})
SELECT d.lang, d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(e.n_words) AS BIGINT) AS n_words,
       CAST(SUM(e.n_bpe_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(CAST(length(d.text) AS BIGINT)) AS BIGINT) AS n_chars,
       CAST(SUM(e.n_bpe_tokens) AS DOUBLE) / CAST(SUM(e.n_words) AS DOUBLE)
         AS fertility,
       CAST(SUM(CAST(length(d.text) AS BIGINT)) AS DOUBLE)
         / CAST(SUM(e.n_bpe_tokens) AS DOUBLE) AS chars_per_token
FROM enc e JOIN documents d USING (doc_id)
GROUP BY d.lang, d.source
ORDER BY d.lang, d.source
"""


# ---------------------------------------------------------------------------
# Q134 — bigram language-model fluency scoring (operators/lm.py): the
# CCNet-shape quality filter, trained on the corpus's own bigram counts
# with add-one smoothing and scored as the mean conditional probability
# on a FLOOR(p*1e9) integer grid — every step exact-int or one
# correctly-rounded IEEE op, so the full model + scoring pipeline is
# value-hash-checked (see operators/lm.py for why log-space perplexity
# cannot be).
# ---------------------------------------------------------------------------


def q134_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs, "doc_id", "text")


Q134_SQL = rf"""
WITH {_SQL_TOKS},
bgx AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks
),
bg AS (
    SELECT doc_id, t[i] AS a, t[i + 1] AS b
    FROM bgx WHERE t[i] <> '' AND t[i + 1] <> ''
),
cnt AS (SELECT a, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
hist AS (SELECT a, SUM(c) AS ch FROM cnt GROUP BY 1),
vocab AS (
    SELECT COUNT(DISTINCT w) AS v
    FROM (SELECT unnest(t) AS w FROM toks) WHERE w <> ''
),
stats AS (
    SELECT cnt.a, cnt.b,
           CAST(FLOOR(1000000000.0 *
               (CAST(cnt.c + 1 AS DOUBLE) /
                CAST(hist.ch + vocab.v AS DOUBLE))) AS BIGINT) AS qp
    FROM cnt JOIN hist USING (a) CROSS JOIN vocab
)
SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(qp) AS BIGINT) AS total_qprob,
       CAST(SUM(qp) // COUNT(*) AS BIGINT) AS avg_qprob
FROM bg JOIN stats USING (a, b)
GROUP BY bg.doc_id
"""


# ---------------------------------------------------------------------------
# Q143 — EXACT set-similarity join via prefix filtering (Bayardo/PPJoin;
# operators/textdedup.py:prefix_jaccard_join): all pairs with 3-shingle
# Jaccard >= 0.6, ZERO false negatives by theorem — the lossless
# counterpart to the MinHash-banded q22. The oracle is deliberately
# BRUTE FORCE (every co-occurring pair scored), so any pair the prefix
# filter lost would hash-mismatch — the losslessness claim is value-
# checked, not trusted.
# ---------------------------------------------------------------------------

_PJ_TNUM, _PJ_TDEN = 6, 10


def q143_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textdedup import prefix_jaccard_join

    docs = load_table(spark, sf_dir, "documents")
    return prefix_jaccard_join(
        docs, "doc_id", "text", t_num=_PJ_TNUM, t_den=_PJ_TDEN, k=3
    )


Q143_SQL = rf"""
WITH tk AS (
    SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
    FROM tk, unnest(generate_series(1, len(t) - 2)) r(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sa.n + sb.n - n_inter AS BIGINT) AS n_union,
       CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {_PJ_TDEN} * n_inter >= {_PJ_TNUM} * (sa.n + sb.n - n_inter)
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Q149 — incremental dedup: each "new batch" document (doc_id % 10 == 0)
# probed against the band index of the historical corpus (the other 90%)
# — operators/textdedup.py:minhash_index_probe, the continuous-crawl
# shape where history is never re-paired against itself. The oracle
# builds ONE banded pipeline over all documents and filters the two
# sides at the probe join (signatures are per-doc, so computing them
# together or apart is identical).
# ---------------------------------------------------------------------------


def q149_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textdedup import minhash_index_probe

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    return minhash_index_probe(history, batch)


Q149_SQL = rf"""
WITH {_SQL_TOKS}, {_SQL_SHINGLES},
{_params_values_sql(64)},
hashed AS (
    SELECT doc_id, {_SQL_BASE31} AS h FROM sh
),
sig AS (
    SELECT doc_id, seed, MIN((a * h + b) % {MINHASH_PRIME}) AS minhash
    FROM hashed CROSS JOIN params
    GROUP BY doc_id, seed
),
banded AS (
    SELECT doc_id, seed // 4 AS band_id,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed))
               AS band_hash
    FROM sig
    GROUP BY doc_id, seed // 4
),
hits AS (
    SELECT n.doc_id,
           COUNT(DISTINCT h.doc_id) AS n_history_matches,
           MIN(h.doc_id) AS matched_min_id
    FROM banded n
    JOIN banded h ON n.band_id = h.band_id AND n.band_hash = h.band_hash
    WHERE n.doc_id % 10 = 0 AND h.doc_id % 10 <> 0
    GROUP BY n.doc_id
),
probed AS (
    SELECT doc_id, COUNT(*) AS n_bands FROM banded
    WHERE doc_id % 10 = 0 GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(p.n_bands AS BIGINT) AS n_bands,
       CAST(COALESCE(h.n_history_matches, 0) AS BIGINT) AS n_history_matches,
       CAST(h.matched_min_id AS BIGINT) AS matched_min_id,
       COALESCE(h.n_history_matches, 0) > 0 AS is_dup
FROM probed p LEFT JOIN hits h USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Q159 — per-document novelty scoring (operators/textdedup.py:
# novelty_scores): fraction of each doc's distinct 3-shingles first seen
# in that doc, ingestion order = ascending doc_id. One shingle-keyed
# MIN agg + one join-back + one doc agg; ratio is one int64 division.
# ---------------------------------------------------------------------------


def q159_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return novelty_scores(docs, "doc_id", "text", k=3)


Q159_SQL = rf"""
WITH {_SQL_TOKS}, {_SQL_SHINGLES},
first AS (
    SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
)
SELECT sh.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN first.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN first.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty_ratio
FROM sh JOIN first USING (shingle)
GROUP BY sh.doc_id
"""


# ---------------------------------------------------------------------------
# Q160 — collocations by lift (operators/lm.py:collocations_by_lift):
# top-50 adjacent token pairs by c(a,b)·N/(c(a)·c(b)) at support >= 5 —
# PMI ranking without the logarithm (monotone transform), so the
# statistic is one exact-int division and fully value-oracled.
# ---------------------------------------------------------------------------


def q160_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import collocations_by_lift

    docs = load_table(spark, sf_dir, "documents")
    return collocations_by_lift(docs, "doc_id", "text")


Q160_SQL = rf"""
WITH {_SQL_TOKS},
uni AS (
    SELECT u.tok, COUNT(*) AS c
    FROM toks, UNNEST(t) AS u(tok)
    WHERE u.tok <> ''
    GROUP BY u.tok
),
total AS (SELECT SUM(c) AS n_tokens FROM uni),
bg AS (
    SELECT t[r.i] AS a, t[r.i + 1] AS b, COUNT(*) AS c_ab
    FROM toks, UNNEST(range(1, GREATEST(len(t), 1))) AS r(i)
    WHERE t[r.i] <> '' AND t[r.i + 1] <> ''
    GROUP BY 1, 2
    HAVING COUNT(*) >= 5
)
SELECT a, b, c_ab, c_a, c_b, lift FROM (
    SELECT bg.a, bg.b, bg.c_ab, ua.c AS c_a, ub.c AS c_b,
           round(CAST(bg.c_ab * total.n_tokens AS DOUBLE)
                 / CAST(ua.c * ub.c AS DOUBLE), 9) AS lift
    FROM bg
    JOIN uni ua ON ua.tok = bg.a
    JOIN uni ub ON ub.tok = bg.b
    CROSS JOIN total
)
ORDER BY lift DESC, a, b
LIMIT 50
"""


# ---------------------------------------------------------------------------
# Q164 — shingle CONTAINMENT pairs: ordered pairs where >= 80% of the
# smaller document's distinct 3-shingles appear in the other — the
# asymmetric dedup relation Jaccard misses (a quote or excerpt inside a
# longer page has high containment but low Jaccard, because the union is
# dominated by the container). Same keyed-shingle co-occurrence shape as
# q20 (shingle equi-join, never all-pairs); the threshold test is
# cross-multiplied integers, no float division in the filter.
# ---------------------------------------------------------------------------

CONTAINMENT_NUM, CONTAINMENT_DEN = 4, 5  # containment >= 4/5


def q164_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textdedup import _exploded_shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = _exploded_shingles(docs, "doc_id", "text", 3).persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("contained_doc"), "shingle")
    b = sh.select(F.col("doc_id").alias("container_doc"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("contained_doc") != F.col("container_doc"))
        .groupBy("contained_doc", "container_doc")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(
            sizes.select(
                F.col("doc_id").alias("contained_doc"), F.col("n").alias("n_contained")
            ),
            "contained_doc",
        )
        .where(
            F.col("common") * F.lit(CONTAINMENT_DEN)
            >= F.col("n_contained") * F.lit(CONTAINMENT_NUM)
        )
        .select(
            "contained_doc",
            "container_doc",
            "common",
            "n_contained",
            (
                F.col("common").cast("double")
                / F.col("n_contained").cast("double")
            ).alias("containment"),
        )
    )


Q164_SQL = rf"""
WITH {_SQL_TOKS}, {_SQL_SHINGLES},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
common AS (
    SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
           COUNT(*) AS common
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT contained_doc, container_doc, common, s.n AS n_contained,
       CAST(common AS DOUBLE) / CAST(s.n AS DOUBLE) AS containment
FROM common JOIN sizes s ON s.doc_id = contained_doc
WHERE common * {CONTAINMENT_DEN} >= s.n * {CONTAINMENT_NUM}
"""


# ---------------------------------------------------------------------------
# Q176 — MinHash ACCURACY report: for every LSH candidate pair, the
# signature-match estimate (matching components / 64) next to the exact
# shingle Jaccard and the |error| — the calibration evidence that the
# banded sketch is doing what the s-curve math claims. Everything is
# deterministic (the md5-seeded hash family Q21/Q22 already replicate
# in SQL), so even the "approximate" column carries a full value
# oracle; within_tol is a COMPUTED comparison, not a pinned constant.
# Shapes: the q22 banded candidate join + two signature joins on doc
# ids + the q20 common-shingle agg restricted to candidates.
# ---------------------------------------------------------------------------

MINHASH_ACC_TOL = 0.35


def q176_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # ONE persisted signature pass feeds every signature consumer: the
    # LSH banding inside minhash_lsh_pairs AND both sides of the
    # component-match join below. Before (opt r12) the shingle→hash→
    # 64-min pipeline executed three times in this plan — once for the
    # banding, once per unpersisted join side (guide §1.2: remove
    # repeated passes before tuning anything else).
    sig = minhash_signatures(docs, "doc_id", "text").persist()
    # Candidates feed three consumers (the output spine, the id
    # restriction, the exact-join keys) — persist so LSH banding runs once.
    cand = (
        minhash_lsh_pairs(docs, "doc_id", "text", signatures=sig)
        .select("doc_a", "doc_b")
        .persist()
    )
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    n = 64
    # selectExpr / F.expr: one py4j round trip per frame instead of one
    # per column (opt r11); identical projections and the identical
    # 64-term left-associated match sum.
    sa = sig.selectExpr(
        "doc_id AS doc_a", *[f"h{i} AS a{i}" for i in range(n)]
    )
    sb = sig.selectExpr(
        "doc_id AS doc_b", *[f"h{i} AS b{i}" for i in range(n)]
    )
    match = F.expr(
        " + ".join(f"CAST((a{i} = b{i}) AS INT)" for i in range(n))
    )
    # Candidate-bounded exact audit (round-7 verdict item 5): semi-join
    # the shingle frame to LSH-candidate doc ids BEFORE the common-shingle
    # aggregation — the superset pairs it still emits are cut to candidate
    # pairs by the inner join below, so results are unchanged while the
    # expensive pair join never sees non-candidate docs.
    exact = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.0, restrict_ids=cand_ids
    ).select("doc_a", "doc_b", "jaccard")
    est = F.col("n_matching").cast("double") / F.lit(float(n))
    err = F.abs(est - F.col("jaccard"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_matching", match.cast("int"))
        .select("doc_a", "doc_b", "n_matching")
        .join(exact, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "n_matching",
            F.round(est, 9).alias("minhash_estimate"),
            F.round("jaccard", 9).alias("exact_jaccard"),
            F.round(err, 9).alias("abs_err"),
            (err <= MINHASH_ACC_TOL).alias("within_tol"),
        )
    )


Q176_SQL = rf"""
WITH {_SQL_TOKS}, {_SQL_SHINGLES},
{_params_values_sql(64)},
hashed AS (
    SELECT doc_id, {_SQL_BASE31} AS h FROM sh
),
sig AS (
    SELECT doc_id, seed, MIN((a * h + b) % {MINHASH_PRIME}) AS minhash
    FROM hashed CROSS JOIN params
    GROUP BY doc_id, seed
),
banded AS (
    SELECT doc_id, seed // 4 AS band_id,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS band_hash
    FROM sig
    GROUP BY doc_id, seed // 4
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                AND a.doc_id < b.doc_id
),
matches AS (
    SELECT c.doc_a, c.doc_b,
           CAST(SUM(CASE WHEN x.minhash = y.minhash THEN 1 ELSE 0 END) AS INT)
               AS n_matching
    FROM cand c
    JOIN sig x ON x.doc_id = c.doc_a
    JOIN sig y ON y.doc_id = c.doc_b AND y.seed = x.seed
    GROUP BY 1, 2
),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
exact AS (
    SELECT doc_a, doc_b,
           CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE)
               AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
)
SELECT m.doc_a, m.doc_b, m.n_matching,
       round(CAST(m.n_matching AS DOUBLE) / 64.0, 9) AS minhash_estimate,
       round(e.jaccard, 9) AS exact_jaccard,
       round(ABS(CAST(m.n_matching AS DOUBLE) / 64.0 - e.jaccard), 9)
           AS abs_err,
       ABS(CAST(m.n_matching AS DOUBLE) / 64.0 - e.jaccard)
           <= {MINHASH_ACC_TOL} AS within_tol
FROM matches m JOIN exact e USING (doc_a, doc_b)
"""


# ---------------------------------------------------------------------------
# Q184 — term BURSTINESS (variance-to-mean dispersion index): for the
# highest-document-frequency terms, VMR = (Σx² − (Σx)²/n)/Σx over
# per-doc occurrence counts x (including zeros via n = |docs|) — VMR >
# 1 marks bursty/topical terms, ≈ 1 Poisson-like function words; the
# content-word detector term-weighting literature builds on. Per-term
# counts are one keyed agg; all moments exact int64 (counts bounded by
# doc length); the final chain is fixed IEEE. Top-30 terms by document
# frequency via sort-limit.
# ---------------------------------------------------------------------------

_BURST_TOP_N = 30


def q184_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # |docs| as a LAZY 1-row broadcast anchor (the q216 pattern) — no
    # driver-side .count() at plan-construction time, no double scan.
    n_docs = docs.groupBy().agg(
        F.count("*").cast("double").alias("n_docs")
    )
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("x"))
    )
    stats = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("doc_freq"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    vmr = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double")
        * F.col("sx").cast("double")
        / F.col("n_docs")
    ) / F.col("sx").cast("double")
    return (
        stats.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "doc_freq",
            F.col("sx").alias("total_occurrences"),
            F.round(vmr, 9).alias("vmr"),
        )
        .orderBy(F.col("doc_freq").desc(), "term")
        .limit(_BURST_TOP_N)
    )


Q184_SQL = rf"""
WITH n_docs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
tf AS (
    SELECT doc_id, u.term, COUNT(*) AS x
    FROM (
        SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
        FROM documents
    ), UNNEST(t) AS u(term)
    WHERE u.term <> ''
    GROUP BY doc_id, u.term
),
stats AS (
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM tf GROUP BY term
)
SELECT term, doc_freq, sx AS total_occurrences,
       round((CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_docs.n)
             / CAST(sx AS DOUBLE), 9) AS vmr
FROM stats CROSS JOIN n_docs
ORDER BY doc_freq DESC, term
LIMIT {_BURST_TOP_N}
"""


# ---------------------------------------------------------------------------
# Q262 — SPAN-DEDUP REWRITE (first-occurrence-wins): the TRANSFORM
# counterpart of q115's repeated-passage REPORT — instead of flagging
# duplicated spans, it removes them and emits the cleaned corpus, the
# way training pipelines strip boilerplate/recurring passages before
# tokenization. Documents are cut into fixed 8-token chunks; a chunk
# occurrence survives iff it is the GLOBAL first occurrence of its
# token sequence (min (doc_id, chunk_idx) — a total order, so the keep
# set is unique), and each document is reassembled from its surviving
# chunks in order. Output: per-doc kept/dropped counts + cleaned text.
#
# Everything is deterministic string/array algebra — no hashing, no
# floats. Scale: one explode (linear in tokens), one chunk-keyed argmin
# agg (the dedup shuffle), one doc-keyed ordered reassembly; the
# same shape as exact dedup q19 with a rewrite stage on top.
# ---------------------------------------------------------------------------

_SPAN_CHUNK_TOKENS = 8


def q262_span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
    )
    n_chunks = F.ceil(F.size("toks") / F.lit(_SPAN_CHUNK_TOKENS)).cast(
        "int"
    )
    chunked = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(
                            F.col("toks"),
                            i * _SPAN_CHUNK_TOKENS + 1,
                            _SPAN_CHUNK_TOKENS,
                        ),
                        " ",
                    ),
                )
            ).alias("idx", "chunk"),
        )
    )
    first = chunked.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "idx")).alias("f")
    )
    kept = chunked.join(first, "chunk").where(
        (F.col("doc_id") == F.col("f.doc_id"))
        & (F.col("idx") == F.col("f.idx"))
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    totals = chunked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_dropped"
            ),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


Q262_SQL = rf"""
WITH d AS (
    SELECT doc_id,
           list_filter(string_split_regex(TRIM(text), '\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
chunked AS (
    SELECT doc_id, CAST(r.i AS INT) AS idx,
           array_to_string(
               toks[r.i * {_SPAN_CHUNK_TOKENS} + 1 :
                    (r.i + 1) * {_SPAN_CHUNK_TOKENS}], ' ') AS chunk
    FROM d CROSS JOIN range(0, 100000) r(i)
    WHERE r.i < CAST(CEIL(len(toks) / {_SPAN_CHUNK_TOKENS}.0) AS BIGINT)
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY chunk ORDER BY doc_id, idx
    ) AS rn
    FROM chunked
),
rebuilt AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           string_agg(chunk, ' ' ORDER BY idx) AS cleaned_text
    FROM ranked WHERE rn = 1 GROUP BY doc_id
),
totals AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
    FROM chunked GROUP BY doc_id
)
SELECT t.doc_id, t.n_chunks,
       COALESCE(r.n_kept, 0) AS n_kept,
       t.n_chunks - COALESCE(r.n_kept, 0) AS n_dropped,
       COALESCE(r.cleaned_text, '') AS cleaned_text
FROM totals t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
ORDER BY t.doc_id
"""


# ---------------------------------------------------------------------------
# Q268 — χ² FEATURE SELECTION: the most language-discriminative terms
# per lang over the documents corpus — the classic supervised
# term-selection step before training a text classifier (and the
# data-curation gauge for "which tokens leak the label"). For each
# (term, lang) the 2×2 contingency table over DOC PRESENCE is
#   a = docs of lang containing term      b = other docs containing term
#   c = docs of lang without term         d = other docs without term
# and χ²·1000 = 1000·N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)), computed on
# DECIMAL(38)/HUGEINT so the integral quotient is exact on both engines
# (int64 would overflow at the x4 probe: N·(ad−bc)² can pass 2e20).
# Terms seen in < MIN_DF docs or in every doc are pruned (zero/noise
# denominators). Top 5 per lang, χ² desc, term asc tiebreak.
#
# Plan: doc-presence explode → (term, lang) counts → term totals join
# (term-keyed equi-join) → lang totals + N as 1-row broadcast anchors
# (the q216 pattern) → one window rank on the term-grain frame.
# ---------------------------------------------------------------------------

_CHI2_MIN_DF = 5
_CHI2_TOP = 5


def q268_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pres = (
        docs.select("doc_id", "lang", F.col("text").alias("t"))
        .withColumn("tok", tokens(F.col("t")))
        .select("doc_id", "lang", F.explode(F.array_distinct("tok")).alias("term"))
        .where(F.col("term") != "")
    )
    tl = pres.groupBy("term", "lang").agg(F.count("*").alias("a"))
    tt = pres.groupBy("term").agg(F.count("*").alias("n_t"))
    lt = pres.select("doc_id", "lang").distinct().groupBy("lang").agg(
        F.count("*").alias("n_l")
    )
    n = pres.select("doc_id").distinct().groupBy().agg(
        F.count("*").alias("n_docs")
    )
    d38 = "DECIMAL(38,0)"
    joined = (
        tl.join(tt, "term")
        .join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(n))
        .where((F.col("n_t") >= _CHI2_MIN_DF) & (F.col("n_t") < F.col("n_docs")))
        .selectExpr(
            "term",
            "lang",
            f"CAST(a AS {d38}) AS a",
            f"CAST(n_t - a AS {d38}) AS b",
            f"CAST(n_l - a AS {d38}) AS c",
            f"CAST(n_docs - n_t - n_l + a AS {d38}) AS d",
            f"CAST(n_docs AS {d38}) AS n",
        )
        .selectExpr(
            "term",
            "lang",
            "CAST(a AS BIGINT) AS df_in_lang",
            "CAST(1000 * n * (a*d - b*c) * (a*d - b*c) DIV "
            "((a+b) * (c+d) * (a+c) * (b+d)) AS BIGINT) AS chi2_milli",
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("chi2_milli").desc(), F.col("term").asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _CHI2_TOP)
        .select("lang", "rank", "term", "df_in_lang", "chi2_milli")
        .orderBy("lang", "rank")
    )


Q268_SQL = f"""
WITH pres AS (
    SELECT DISTINCT doc_id, lang, t.term
    FROM documents,
         UNNEST(string_split_regex(TRIM(text), '\\s+')) AS t(term)
    WHERE t.term <> ''
),
tl AS (SELECT term, lang, COUNT(*) AS a FROM pres GROUP BY 1, 2),
tt AS (SELECT term, COUNT(*) AS n_t FROM pres GROUP BY 1),
lt AS (SELECT lang, COUNT(DISTINCT doc_id) AS n_l FROM pres GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM pres),
cells AS (
    SELECT tl.term, tl.lang,
           CAST(tl.a AS HUGEINT) AS a,
           CAST(tt.n_t - tl.a AS HUGEINT) AS b,
           CAST(lt.n_l - tl.a AS HUGEINT) AS c,
           CAST(n.n_docs - tt.n_t - lt.n_l + tl.a AS HUGEINT) AS d,
           CAST(n.n_docs AS HUGEINT) AS nn
    FROM tl JOIN tt USING (term) JOIN lt USING (lang) CROSS JOIN n
    WHERE tt.n_t >= {_CHI2_MIN_DF} AND tt.n_t < n.n_docs
),
scored AS (
    SELECT term, lang, CAST(a AS BIGINT) AS df_in_lang,
           CAST(1000 * nn * (a*d - b*c) * (a*d - b*c)
                // ((a+b) * (c+d) * (a+c) * (b+d)) AS BIGINT) AS chi2_milli
    FROM cells
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY chi2_milli DESC, term ASC
    ) AS INT) AS rank
    FROM scored
)
SELECT lang, rank, term, df_in_lang, chi2_milli
FROM ranked WHERE rank <= {_CHI2_TOP}
ORDER BY lang, rank
"""


# ---------------------------------------------------------------------------
# Q274 — VOCABULARY PRUNING + OOV AUDIT: build the min-count vocabulary
# (tokens with global occurrence count ≥ MIN_COUNT — the standard
# embedding-table pruning rule) and report, per source, how much of its
# token stream falls out-of-vocabulary: total token occurrences, OOV
# occurrences, OOV ppm, and distinct OOV types. The go/no-go gauge for
# "can this source be tokenized by the pruned vocab without flooding
# <unk>".
#
# Plan: ONE explode → (source, token) occurrence counts (the only
# full-corpus shuffle) → token-grain global counts derived FROM that
# grouped frame (never a second scan) → token-keyed equi-join at
# token grain → one keyed agg per source. Output is |sources| rows.
# ---------------------------------------------------------------------------

_VOCAB_MIN_COUNT = 3


def q274_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    occ = (
        docs.select("source", F.col("text").alias("t"))
        .withColumn("tok", tokens(F.col("t")))
        .select("source", F.explode("tok").alias("token"))
        .where(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count("*").alias("cnt"))
    )
    glob = occ.groupBy("token").agg(F.sum("cnt").alias("g"))
    return (
        occ.join(glob, "token")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("g") < _VOCAB_MIN_COUNT, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.sum((F.col("g") < _VOCAB_MIN_COUNT).cast("int"))
            .cast("long")
            .alias("n_oov_types"),
        )
        .selectExpr(
            "source",
            "n_tokens",
            "n_oov",
            "CAST(n_oov * 1000000 DIV n_tokens AS BIGINT) AS oov_ppm",
            "n_oov_types",
        )
        .orderBy("source")
    )


Q274_SQL = f"""
WITH occ AS (
    SELECT source, t.token, COUNT(*) AS cnt
    FROM documents,
         UNNEST(string_split_regex(TRIM(text), '\\s+')) AS t(token)
    WHERE t.token <> ''
    GROUP BY 1, 2
),
gl AS (SELECT token, SUM(cnt) AS g FROM occ GROUP BY 1)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN g < {_VOCAB_MIN_COUNT} THEN cnt ELSE 0 END)
            AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN g < {_VOCAB_MIN_COUNT} THEN cnt ELSE 0 END)
            * 1000000 // SUM(cnt) AS BIGINT) AS oov_ppm,
       CAST(SUM(CASE WHEN g < {_VOCAB_MIN_COUNT} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_oov_types
FROM occ JOIN gl USING (token)
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q275 — HEAPS'-LAW VOCABULARY GROWTH: cumulative distinct vocabulary
# vs cumulative token count at 10 corpus checkpoints (doc_id deciles) —
# the curve that says whether a corpus is still yielding new types or
# has gone repetitive (sublinear growth V ∝ n^β, β≈0.5 for natural
# text; β→0 means duplication). NO global row sort: each token's
# FIRST-occurrence doc rides min(doc_id), deciles are VALUE-based
# buckets off a lazy 1-row max-doc anchor, and the only running sums
# are over the 10-row decile frame.
# ---------------------------------------------------------------------------

_HEAPS_BUCKETS = 10


def q275_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    anchor = docs.groupBy().agg((F.max("doc_id") + 1).alias("n_ids"))
    base = (
        docs.select("doc_id", F.col("text").alias("t"))
        .withColumn("tok", tokens(F.col("t")))
        .crossJoin(F.broadcast(anchor))
        .select(
            "doc_id",
            F.expr(
                f"CAST(doc_id * {_HEAPS_BUCKETS} DIV n_ids AS INT)"
            ).alias("bucket"),
            "tok",
        )
    )
    toks_per_bucket = (
        base.select(
            "bucket", F.explode("tok").alias("token")
        )
        .where(F.col("token") != "")
    )
    token_counts = toks_per_bucket.groupBy("bucket").agg(
        F.count("*").alias("n_tok")
    )
    first_seen = (
        toks_per_bucket.groupBy("token")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_new_types"))
    )
    docs_per_bucket = base.groupBy("bucket").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        docs_per_bucket.join(token_counts, "bucket", "left")
        .join(first_seen, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_docs").over(w).cast("long").alias("cum_docs"),
            F.sum(F.coalesce("n_tok", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_tokens"),
            F.sum(F.coalesce("n_new_types", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_vocab"),
        )
        .selectExpr(
            "bucket",
            "cum_docs",
            "cum_tokens",
            "cum_vocab",
            "CAST(cum_vocab * 1000000 DIV greatest(cum_tokens, 1) AS BIGINT)"
            " AS type_token_ppm",
        )
        .orderBy("bucket")
    )


Q275_SQL = f"""
WITH anchor AS (SELECT MAX(doc_id) + 1 AS n_ids FROM documents),
base AS (
    SELECT doc_id,
           CAST(doc_id * {_HEAPS_BUCKETS} // n_ids AS INT) AS bucket,
           string_split_regex(TRIM(text), '\\s+') AS tok
    FROM documents CROSS JOIN anchor
),
tpb AS (
    SELECT bucket, t.token
    FROM base, UNNEST(tok) AS t(token)
    WHERE t.token <> ''
),
token_counts AS (SELECT bucket, COUNT(*) AS n_tok FROM tpb GROUP BY 1),
first_seen AS (
    SELECT bucket, COUNT(*) AS n_new_types FROM (
        SELECT token, MIN(bucket) AS bucket FROM tpb GROUP BY token
    ) GROUP BY bucket
),
dpb AS (SELECT bucket, COUNT(*) AS n_docs FROM base GROUP BY 1),
cum AS (
    SELECT d.bucket,
           CAST(SUM(d.n_docs) OVER (ORDER BY d.bucket) AS BIGINT) AS cum_docs,
           CAST(SUM(COALESCE(tc.n_tok, 0)) OVER (ORDER BY d.bucket)
                AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(fs.n_new_types, 0)) OVER (ORDER BY d.bucket)
                AS BIGINT) AS cum_vocab
    FROM dpb d
    LEFT JOIN token_counts tc ON tc.bucket = d.bucket
    LEFT JOIN first_seen fs ON fs.bucket = d.bucket
)
SELECT bucket, cum_docs, cum_tokens, cum_vocab,
       CAST(cum_vocab * 1000000 // GREATEST(cum_tokens, 1) AS BIGINT)
           AS type_token_ppm
FROM cum
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Q279 — SENTENCE-SEGMENTATION QUALITY REPORT, per source: split each
# doc on terminal-punctuation runs ([.!?]+), count non-blank sentences,
# and gauge readability — mean sentences per doc (milli), mean tokens
# per sentence (milli), and how many docs contain a RUN-ON sentence
# (> _RUNON_TOKENS whitespace tokens) — the low-cost proxy quality
# filters use for "is this prose or a token dump". Pure string/array
# algebra on both engines; every ratio is an exact integral quotient.
# ---------------------------------------------------------------------------

_RUNON_TOKENS = 60


def q279_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(
            F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )
    per_doc = docs.select(
        "source",
        F.size(sents).cast("long").alias("n_sents"),
        token_count("text").alias("n_toks"),
        F.exists(
            sents,
            lambda s: F.size(F.split(s, r"\s+")) > _RUNON_TOKENS,
        ).cast("int").alias("has_runon"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_sents").cast("long").alias("n_sentences"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum("has_runon").cast("long").alias("n_runon_docs"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_sentences",
            "CAST(n_sentences * 1000 DIV n_docs AS BIGINT)"
            " AS sents_per_doc_milli",
            "CAST(n_tokens * 1000 DIV greatest(n_sentences, 1) AS BIGINT)"
            " AS tokens_per_sent_milli",
            "n_runon_docs",
        )
        .orderBy("source")
    )


Q279_SQL = f"""
WITH per_doc AS (
    SELECT source,
           len(list_filter(
               list_transform(string_split_regex(text, '[.!?]+'),
                              s -> TRIM(s)),
               s -> s <> '')) AS n_sents,
           CASE WHEN TRIM(text) = '' THEN 0
                ELSE len(string_split_regex(TRIM(text), '\\s+')) END
               AS n_toks,
           CASE WHEN len(list_filter(
                    list_transform(string_split_regex(text, '[.!?]+'),
                                   s -> TRIM(s)),
                    s -> s <> ''
                        AND len(string_split_regex(s, '\\s+'))
                            > {_RUNON_TOKENS})) > 0
                THEN 1 ELSE 0 END AS has_runon
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_sents) AS BIGINT) AS n_sentences,
       CAST(SUM(n_sents) * 1000 // COUNT(*) AS BIGINT)
           AS sents_per_doc_milli,
       CAST(SUM(n_toks) * 1000 // GREATEST(SUM(n_sents), 1) AS BIGINT)
           AS tokens_per_sent_milli,
       CAST(SUM(has_runon) AS BIGINT) AS n_runon_docs
FROM per_doc
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q281 — BOILERPLATE AFFIX DETECTION: repeated 8-token document
# prefixes and suffixes within a source — the "subscribe to our
# newsletter" / footer detector web-scrape curation runs before
# training (boilerplate inflates dedup similarity and wastes tokens).
# Docs shorter than 8 tokens are skipped; an affix is reported when ≥
# MIN_DOCS docs of the same source share it, with its share of the
# source's eligible docs in exact ppm.
#
# The synthetic corpus has no natural 8-token boilerplate, so the
# fixture injects it deterministically (the q189 injected-drift
# precedent): every doc_id % 5 == 0 gains the footer, every
# doc_id % 11 == 0 the header — the expected answer is exactly the
# injected affixes, replayed identically by the oracle.
#
# Plan: one scan → two affix projections unioned → one keyed count +
# a broadcast join to the |sources|-row eligible-doc denominators.
# ---------------------------------------------------------------------------

_AFFIX_TOKENS = 8
_AFFIX_MIN_DOCS = 3
_AFFIX_FOOTER = "subscribe to our newsletter for daily updates thanks"
_AFFIX_HEADER = "terms of service apply to all content below"


def q281_boilerplate_affixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.concat_ws(
        " ",
        F.when(F.col("doc_id") % 11 == 0, F.lit(_AFFIX_HEADER)),
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(_AFFIX_FOOTER)),
    )
    base = (
        docs.select("source", tokens(text).alias("t"))
        .where(F.size("t") >= _AFFIX_TOKENS)
    )
    prefix = base.select(
        "source",
        F.lit("prefix").alias("kind"),
        F.concat_ws(" ", F.slice("t", 1, _AFFIX_TOKENS)).alias("affix"),
    )
    suffix = base.select(
        "source",
        F.lit("suffix").alias("kind"),
        F.concat_ws(" ", F.slice("t", -_AFFIX_TOKENS, _AFFIX_TOKENS)).alias(
            "affix"
        ),
    )
    denom = base.groupBy("source").agg(
        F.count("*").alias("n_eligible")
    )
    return (
        prefix.unionByName(suffix)
        .groupBy("source", "kind", "affix")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= _AFFIX_MIN_DOCS)
        .join(F.broadcast(denom), "source")
        .selectExpr(
            "source",
            "kind",
            "affix",
            "n_docs",
            "CAST(n_docs * 1000000 DIV n_eligible AS BIGINT) AS share_ppm",
        )
        .orderBy("source", "kind", "affix")
    )


Q281_SQL = f"""
WITH fixed AS (
    SELECT source,
           concat_ws(' ',
               CASE WHEN doc_id % 11 = 0 THEN '{_AFFIX_HEADER}' END,
               text,
               CASE WHEN doc_id % 5 = 0 THEN '{_AFFIX_FOOTER}' END) AS text
    FROM documents
),
base AS (
    SELECT source, string_split_regex(TRIM(text), '\\s+') AS t
    FROM fixed
    WHERE len(string_split_regex(TRIM(text), '\\s+')) >= {_AFFIX_TOKENS}
),
affixes AS (
    SELECT source, 'prefix' AS kind,
           array_to_string(t[1:{_AFFIX_TOKENS}], ' ') AS affix
    FROM base
    UNION ALL
    SELECT source, 'suffix' AS kind,
           array_to_string(t[len(t) - {_AFFIX_TOKENS - 1}:len(t)], ' ')
               AS affix
    FROM base
),
denom AS (SELECT source, COUNT(*) AS n_eligible FROM base GROUP BY 1),
counted AS (
    SELECT source, kind, affix, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM affixes GROUP BY 1, 2, 3
    HAVING COUNT(*) >= {_AFFIX_MIN_DOCS}
)
SELECT c.source, c.kind, c.affix, c.n_docs,
       CAST(c.n_docs * 1000000 // d.n_eligible AS BIGINT) AS share_ppm
FROM counted c JOIN denom d USING (source)
ORDER BY c.source, c.kind, c.affix
"""


# ---------------------------------------------------------------------------
# Q283 — DEDUP SAVINGS REPORT: the capacity-planning readout of q19's
# exact dedup — cluster-size histogram over the normalized fingerprint
# (sizes ≥ 2), with docs removable and characters saved if each cluster
# keeps its min-doc_id survivor. chars_saved uses each member's OWN
# n_chars (normalization can cluster unequal raw texts), so the number
# is the true storage delta, not size·keeper_chars.
#
# The synthetic corpus has zero exact duplicates, so the fixture
# simulates a partial re-crawl deterministically (q189's injected-drift
# precedent): every doc_id % 7 == 0 is re-ingested once (+1_000_000 id
# offset) and every doc_id % 21 == 0 twice — the expected histogram is
# exactly the size-2 and size-3 rows, replayed by the oracle.
#
# Plan: one fingerprint agg (cluster grain) → one size-grain agg.
# ---------------------------------------------------------------------------

_RECRAWL_OFFSET = 1_000_000


def q283_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    recrawl1 = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + _RECRAWL_OFFSET).alias("doc_id"), "text", "n_chars"
    )
    recrawl2 = docs.where(F.col("doc_id") % 21 == 0).select(
        (F.col("doc_id") + 2 * _RECRAWL_OFFSET).alias("doc_id"),
        "text",
        "n_chars",
    )
    corpus = docs.unionByName(recrawl1).unionByName(recrawl2)
    fp = F.sha2(
        F.trim(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
        ),
        256,
    )
    clusters = (
        corpus.select(fp.alias("fingerprint"), "doc_id", "n_chars")
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("size"),
            F.sum("n_chars").alias("total_chars"),
            F.min(F.struct("doc_id", "n_chars"))["n_chars"].alias(
                "keeper_chars"
            ),
        )
        .where(F.col("size") >= 2)
    )
    return (
        clusters.groupBy("size")
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum(F.col("size") - 1).cast("long").alias("docs_removed"),
            F.sum(F.col("total_chars") - F.col("keeper_chars"))
            .cast("long")
            .alias("chars_saved"),
        )
        .selectExpr(
            "CAST(size AS BIGINT) AS size",
            "n_clusters",
            "docs_removed",
            "chars_saved",
        )
        .orderBy("size")
    )


Q283_SQL = f"""
WITH corpus AS (
    SELECT doc_id, text, n_chars FROM documents
    UNION ALL
    SELECT doc_id + {_RECRAWL_OFFSET}, text, n_chars
    FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + {2 * _RECRAWL_OFFSET}, text, n_chars
    FROM documents WHERE doc_id % 21 = 0
),
clusters AS (
    SELECT sha256(TRIM(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS fingerprint,
           COUNT(*) AS size,
           SUM(n_chars) AS total_chars,
           arg_min(n_chars, doc_id) AS keeper_chars
    FROM corpus
    GROUP BY 1
    HAVING COUNT(*) >= 2
)
SELECT CAST(size AS BIGINT) AS size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(size - 1) AS BIGINT) AS docs_removed,
       CAST(SUM(total_chars - keeper_chars) AS BIGINT) AS chars_saved
FROM clusters
GROUP BY size
ORDER BY size
"""


# ---------------------------------------------------------------------------
# Q290 — SOURCE VOCABULARY SIMILARITY: cosine between sources' token-
# count vectors — the corpus-mixing diagnostic ("are src3 and src11
# the same crawl twice?") that decides whether two sources deserve
# separate mixture weights. Dot products and norms accumulate as exact
# BIGINT sums over the token-keyed join (only SHARED tokens produce
# numerator rows — never a |V|² anything); the single final
# sqrt-divide is one correctly-rounded double op per pair, rounded to
# 9 dp for the cross-engine contract. Top-10 pairs, (a,b) tiebreak.
#
# Plan: one explode → (source, token) counts → token-keyed self-join
# (a < b) → pair agg → broadcast norm join → one rank over ≤ K²/2 rows.
# ---------------------------------------------------------------------------

_SRCSIM_TOP = 10


def q290_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.col("text").alias("t"))
        .withColumn("tok", tokens(F.col("t")))
        .select("source", F.explode("tok").alias("token"))
        .where(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )
    norms = tc.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).alias("nrm2")
    )
    dots = (
        tc.alias("l")
        .join(tc.alias("r"), "token")
        .where(F.col("l.source") < F.col("r.source"))
        .groupBy(
            F.col("l.source").alias("a"), F.col("r.source").alias("b")
        )
        .agg(F.sum(F.col("l.c") * F.col("r.c")).alias("dot"))
    )
    scored = (
        dots.join(
            F.broadcast(norms.select(F.col("source").alias("a"),
                                     F.col("nrm2").alias("na"))),
            "a",
        )
        .join(
            F.broadcast(norms.select(F.col("source").alias("b"),
                                     F.col("nrm2").alias("nb"))),
            "b",
        )
        .select(
            "a",
            "b",
            F.col("dot").cast("long").alias("dot"),
            F.round(
                F.col("dot")
                / (F.sqrt(F.col("na").cast("double"))
                   * F.sqrt(F.col("nb").cast("double"))),
                9,
            ).alias("cosine"),
        )
    )
    w = Window.orderBy(
        F.col("cosine").desc(), F.col("a").asc(), F.col("b").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _SRCSIM_TOP)
        .select("rank", "a", "b", "dot", "cosine")
        .orderBy("rank")
    )


Q290_SQL = f"""
WITH tc AS (
    SELECT source, t.token, COUNT(*) AS c
    FROM documents,
         UNNEST(string_split_regex(TRIM(text), '\\s+')) AS t(token)
    WHERE t.token <> ''
    GROUP BY 1, 2
),
norms AS (SELECT source, SUM(c * c) AS nrm2 FROM tc GROUP BY 1),
dots AS (
    SELECT l.source AS a, r.source AS b, SUM(l.c * r.c) AS dot
    FROM tc l JOIN tc r USING (token)
    WHERE l.source < r.source
    GROUP BY 1, 2
),
scored AS (
    SELECT a, b, CAST(dot AS BIGINT) AS dot,
           round(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.nrm2 AS DOUBLE))
                    * sqrt(CAST(nb.nrm2 AS DOUBLE))), 9) AS cosine
    FROM dots
    JOIN norms na ON na.source = dots.a
    JOIN norms nb ON nb.source = dots.b
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        ORDER BY cosine DESC, a ASC, b ASC
    ) AS INT) AS rank
    FROM scored
)
SELECT rank, a, b, dot, cosine
FROM ranked WHERE rank <= {_SRCSIM_TOP}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# Q296 — DOC-LENGTH MAD OUTLIERS per source: robust per-source length
# fences — the grouped twin of q153's MAD gauge, on n_chars. Median
# and MAD use the LOWER-median convention (smallest value whose
# cumulative count covers half, cross-multiplied: 2·cum ≥ n), so every
# statistic is an integer from the data and the whole chain — median,
# |x−med|, MAD, the 3-MAD fence — is exact on both engines. Flags docs
# beyond 3·MAD (truncated dumps / concatenation accidents).
#
# Plan: value-counts CDFs at (source, length) grain (the q45 lesson —
# never a per-group sort of raw rows), two median passes, one count.
# ---------------------------------------------------------------------------

_MAD_K = 3


def _lower_median(counted: DataFrame, key: str, val: str) -> DataFrame:
    """Lower median per key from a (key, val, cnt) value-counts frame."""
    w_cum = Window.partitionBy(key).orderBy(val).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy(key)
    cdf = counted.select(
        key,
        val,
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    return (
        cdf.where(F.col("cum") * 2 >= F.col("n"))
        .groupBy(key)
        .agg(F.min(val).alias("med"))
    )


def q296_doclen_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    vc = docs.groupBy("source", "n_chars").agg(F.count("*").alias("cnt"))
    med = _lower_median(vc, "source", "n_chars")
    dev = (
        vc.join(F.broadcast(med), "source")
        .select(
            "source",
            F.abs(F.col("n_chars") - F.col("med")).alias("d"),
            "cnt",
        )
        .groupBy("source", "d")
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = _lower_median(dev, "source", "d").withColumnRenamed("med", "mad")
    fences = med.join(F.broadcast(mad), "source")
    return (
        docs.join(F.broadcast(fences), "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.max("med").cast("long").alias("median_chars"),
            F.max("mad").cast("long").alias("mad_chars"),
            F.sum(
                (
                    F.abs(F.col("n_chars") - F.col("med"))
                    > _MAD_K * F.col("mad")
                ).cast("int")
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("source")
    )


Q296_SQL = f"""
WITH vc AS (
    SELECT source, n_chars, COUNT(*) AS cnt FROM documents GROUP BY 1, 2
),
cdf AS (
    SELECT source, n_chars,
           SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(cnt) OVER (PARTITION BY source) AS n
    FROM vc
),
med AS (
    SELECT source, MIN(n_chars) AS med FROM cdf
    WHERE cum * 2 >= n GROUP BY 1
),
dev AS (
    SELECT vc.source, abs(vc.n_chars - med.med) AS d, SUM(vc.cnt) AS cnt
    FROM vc JOIN med USING (source)
    GROUP BY 1, 2
),
dcdf AS (
    SELECT source, d,
           SUM(cnt) OVER (PARTITION BY source ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(cnt) OVER (PARTITION BY source) AS n
    FROM dev
),
mad AS (
    SELECT source, MIN(d) AS mad FROM dcdf WHERE cum * 2 >= n GROUP BY 1
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(med.med) AS BIGINT) AS median_chars,
       CAST(MAX(mad.mad) AS BIGINT) AS mad_chars,
       CAST(SUM(CASE WHEN abs(d.n_chars - med.med) > {_MAD_K} * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM documents d
JOIN med USING (source)
JOIN mad USING (source)
GROUP BY d.source
ORDER BY d.source
"""


# ---------------------------------------------------------------------------
# Q303 — LANGUAGE-ID CONFUSION MATRIX: declared lang × q17's predicted
# lang, counts + within-declared-language share ppm + the per-language
# recall on the diagonal — the evaluation harness for the engine's own
# lang-id heuristic (an eval op, not another classifier: the registry
# gains the CONFUSION-MATRIX shape every model-quality pipeline needs).
# Composes q17's exact marker-count prediction; the oracle nests
# Q17_SQL as a CTE so both engines score the identical classifier.
# ---------------------------------------------------------------------------


def q303_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    preds = q17_lang_id(spark, sf_dir)
    counts = preds.groupBy("declared_lang", "predicted_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    w = Window.partitionBy("declared_lang")
    return counts.select(
        "declared_lang",
        "predicted_lang",
        "n_docs",
        F.expr(
            "CAST(n_docs * 1000000 DIV "
            "SUM(n_docs) OVER (PARTITION BY declared_lang) AS BIGINT)"
        ).alias("share_ppm"),
        (F.col("declared_lang") == F.col("predicted_lang"))
        .cast("int")
        .alias("is_correct"),
    ).orderBy("declared_lang", "predicted_lang")


Q303_SQL = f"""
WITH preds AS (
{Q17_SQL}
),
counts AS (
    SELECT declared_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM preds GROUP BY 1, 2
)
SELECT declared_lang, predicted_lang, n_docs,
       CAST(n_docs * 1000000 // SUM(n_docs)
            OVER (PARTITION BY declared_lang) AS BIGINT) AS share_ppm,
       CAST(CASE WHEN declared_lang = predicted_lang THEN 1 ELSE 0 END
            AS INT) AS is_correct
FROM counts
ORDER BY declared_lang, predicted_lang
"""


# ---------------------------------------------------------------------------
# Q312 — NEAR-DUP TRANSITIVITY AUDIT: how transitive are q22's MinHash
# LSH candidate pairs? Counts wedges (x–m, m–y with x<y) and how many
# close into triangles — high closure means the pairs form clean
# duplicate CLUSTERS (safe to connected-component them, q54's move);
# low closure means chains/bridges and a cluster-collapse dedup would
# over-merge. One self-join of the (tiny) pair frame on the shared
# endpoint + one semi-join against the pair set; oracle nests Q22_SQL.
# ---------------------------------------------------------------------------


def q312_lsh_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # The pair frame feeds FOUR branches (edges twice, the closure
    # semi-join, and the count anchor); without a persist the entire
    # minhash signature chain re-executes per branch (the q73 lesson —
    # measured exponent 0.63 at the birth probe, 0.34 after).
    pairs = (
        minhash_lsh_pairs(docs, "doc_id", "text", k=3)
        .select("doc_a", "doc_b")
        .persist()
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    wedges = (
        edges.alias("l")
        .join(
            edges.alias("r"),
            (F.col("l.doc_a") == F.col("r.doc_a"))
            & (F.col("l.doc_b") < F.col("r.doc_b")),
        )
        .select(
            F.col("l.doc_b").alias("x"),
            F.col("l.doc_a").alias("m"),
            F.col("r.doc_b").alias("y"),
        )
    )
    closed = wedges.join(
        pairs.select(
            F.col("doc_a").alias("x"), F.col("doc_b").alias("y")
        ),
        ["x", "y"],
        "left_semi",
    )
    n_pairs = pairs.groupBy().agg(F.count("*").alias("n_pairs"))
    n_wedges = wedges.groupBy().agg(F.count("*").alias("n_wedges"))
    n_closed = closed.groupBy().agg(F.count("*").alias("n_closed"))
    return (
        n_pairs.crossJoin(F.broadcast(n_wedges))
        .crossJoin(F.broadcast(n_closed))
        .selectExpr(
            "CAST(n_pairs AS BIGINT) AS n_pairs",
            "CAST(n_wedges AS BIGINT) AS n_wedges",
            "CAST(n_closed AS BIGINT) AS n_closed",
            "CAST(CASE WHEN n_wedges = 0 THEN 0"
            " ELSE n_closed * 1000000 DIV n_wedges END AS BIGINT)"
            " AS closure_ppm",
        )
    )


Q312_SQL = f"""
WITH pairs AS (
{Q22_SQL}
),
edges AS (
    SELECT doc_a, doc_b FROM pairs
    UNION ALL
    SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
wedges AS (
    SELECT l.doc_b AS x, l.doc_a AS m, r.doc_b AS y
    FROM edges l JOIN edges r
      ON l.doc_a = r.doc_a AND l.doc_b < r.doc_b
),
closed AS (
    SELECT w.x, w.y FROM wedges w
    WHERE EXISTS (SELECT 1 FROM pairs p
                  WHERE p.doc_a = w.x AND p.doc_b = w.y)
),
counts AS (
    SELECT (SELECT COUNT(*) FROM pairs) AS n_pairs,
           (SELECT COUNT(*) FROM wedges) AS n_wedges,
           (SELECT COUNT(*) FROM closed) AS n_closed
)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(n_wedges AS BIGINT) AS n_wedges,
       CAST(n_closed AS BIGINT) AS n_closed,
       CAST(CASE WHEN n_wedges = 0 THEN 0
                 ELSE n_closed * 1000000 // n_wedges END AS BIGINT)
           AS closure_ppm
FROM counts
"""


# ---------------------------------------------------------------------------
# Q317 — sorted-suffix EXACT-SUBSTRING dedup (the distributed
# approximation of ExactSubstr from Lee et al., "Deduplicating Training
# Data Makes Language Models Better" — SURVEY §2.12's citation; the one
# text-dedup modality q115's shingle spans only approximated).
#
# Method (suffix-array-without-the-array, the standard scale rewrite):
#   1. Emit every token-boundary suffix of every document, truncated to
#      _SX_K = 64 chars. Joining _SX_TOKS = 33 tokens provably covers the
#      64-char key (33 one-char tokens + 32 spaces = 65 chars), so each
#      suffix costs O(K) — the naive full-tail join would be O(n^2) chars
#      per document.
#   2. Range-partition by the first _SX_BUCKET = 16 chars of the suffix
#      and SORT WITHIN the bucket — this is the distributed suffix-array
#      construction step. A global orderBy window would serialize into
#      one partition (a scale-killer); bucketing is EXACT here because
#      any reported match has LCP >= _SX_MIN = 30 > 16 chars, so both
#      members necessarily share the 16-char bucket prefix and are
#      sorted adjacent within one bucket.
#   3. Neighbor-compare each sorted suffix to its predecessor (window
#      lag) from a DIFFERENT doc; LCP via a 6-level unrolled binary
#      search on substr equality (engine-portable integer CASE chain —
#      no UDF). Like ExactSubstr, adjacency-only comparison can credit a
#      shared run to interleaving third documents, but every document
#      containing a >=30-char duplicated substring is flagged.
#   4. Aggregate to doc pairs: longest shared substring + match sites.
#
# 100 TB posture: suffix emission is linear (x64 char blow-up, bounded
# by truncation); the sort is a range-partitioned shuffle (Spark's sort
# machinery, spill-safe); the window is per-bucket, never global. Bucket
# skew follows text statistics (common 16-char openings); worst case is
# a planted boilerplate prefix — the same skew a real suffix-array build
# faces, and AQE splits oversized sort partitions.
# ---------------------------------------------------------------------------

_SX_K = 64  # suffix key truncation (chars)
_SX_TOKS = 33  # tokens that provably cover _SX_K chars when joined
_SX_MIN = 30  # min shared-substring length to report
_SX_BUCKET = 16  # sort-bucket prefix; exact because _SX_BUCKET < _SX_MIN


def _lcp_expr(a: str, b: str) -> str:
    """Engine-portable exact LCP of two strings (keys <= 64 chars) as a
    FLAT 64-term indicator sum: prefix-equality at length L implies it at
    every shorter length, so Σ_L [substr(a,1,L) = substr(b,1,L)] IS the
    LCP — clamped by both lengths for the identical/prefix cases (substr
    past the end returns the whole string, which would over-count).
    Identical text is evaluated by Spark (F.expr) and DuckDB (oracle), so
    the match length is bit-identical by construction.

    The first cut was a NESTED unrolled binary search whose accumulator
    was inlined 4× per level — a ~4^6-node expression tree per row, the
    same blow-up q320's first draft hit (4^12). That version made the
    q317 LCP projection the single hottest stage in the whole bench:
    63 s at sf0.1, vs ~7 s with this flat form (identical results,
    hash-verified)."""
    terms = " + ".join(
        f"(CASE WHEN substr({a}, 1, {L}) = substr({b}, 1, {L}) "
        f"THEN 1 ELSE 0 END)"
        for L in range(1, 65)
    )
    return (
        f"CAST(LEAST({terms}, length({a}), length({b})) AS INT)"
    )


_SX_MATCH_LEN = _lcp_expr("suffix", "p_suffix")


def q317_suffix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.partitioning import ensure_min_parallelism

    docs = load_table(spark, sf_dir, "documents")
    # The suffix fan-out (tokenize + per-token substring build) is the
    # CPU-heavy stage, and a single-row-group corpus file pins it to ONE
    # task (profiled r11: 2.1 s serial on 32 idle cores). Spread the doc
    # rows first — a |docs|-row shuffle, no-op on a many-file corpus.
    tok = ensure_min_parallelism(docs, F.col("doc_id")).select(
        "doc_id", tokens("text").alias("t")
    )
    sufs = F.transform(
        F.sequence(F.lit(1), F.size("t")),
        lambda i: F.substring(
            F.concat_ws(" ", F.slice(F.col("t"), i, _SX_TOKS)), 1, _SX_K
        ),
    )
    # Suffixes shorter than the reporting floor can never match; dropping
    # them BEFORE the window both shrinks the sort input and stops a short
    # tail suffix from sitting between (and hiding) two genuine duplicates.
    suf = tok.select(
        "doc_id", F.posexplode(sufs).alias("pos0", "suffix")
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "suffix"
    ).where(F.length("suffix") >= _SX_MIN)
    w = Window.partitionBy(
        F.substring("suffix", 1, _SX_BUCKET)
    ).orderBy("suffix", "doc_id", "pos")
    lagged = suf.select(
        "doc_id",
        "pos",
        "suffix",
        F.lag("suffix").over(w).alias("p_suffix"),
        F.lag("doc_id").over(w).alias("p_doc"),
    )
    pairs = (
        lagged.where(
            F.col("p_doc").isNotNull() & (F.col("p_doc") != F.col("doc_id"))
        )
        .withColumn("match_len", F.expr(_SX_MATCH_LEN))
        .where(F.col("match_len") >= _SX_MIN)
    )
    return (
        pairs.select(
            F.least("doc_id", "p_doc").alias("doc_lo"),
            F.greatest("doc_id", "p_doc").alias("doc_hi"),
            "match_len",
        )
        .groupBy("doc_lo", "doc_hi")
        .agg(
            F.max("match_len").cast("int").alias("max_match_chars"),
            F.count("*").cast("long").alias("n_matching_sites"),
        )
        .orderBy("doc_lo", "doc_hi")
    )


Q317_SQL = rf"""
WITH {_SQL_TOKS},
suf AS (
    SELECT doc_id, CAST(i AS INT) AS pos,
           left(array_to_string(t[i:i + {_SX_TOKS - 1}], ' '), {_SX_K})
               AS suffix
    FROM toks, UNNEST(generate_series(1, len(t))) AS r(i)
    -- sub-floor suffixes can never report; pruning them pre-window
    -- mirrors the engine and caps the windowed row count
    WHERE length(suffix) >= {_SX_MIN}
),
lagged AS (
    SELECT doc_id, pos, suffix,
           LAG(suffix) OVER w AS p_suffix,
           LAG(doc_id) OVER w AS p_doc
    FROM suf
    WINDOW w AS (PARTITION BY substr(suffix, 1, {_SX_BUCKET})
                 ORDER BY suffix, doc_id, pos)
),
m AS (
    SELECT doc_id, p_doc, {_SX_MATCH_LEN} AS match_len
    FROM lagged
    WHERE p_doc IS NOT NULL AND p_doc <> doc_id
)
SELECT LEAST(doc_id, p_doc) AS doc_lo,
       GREATEST(doc_id, p_doc) AS doc_hi,
       CAST(MAX(match_len) AS INT) AS max_match_chars,
       CAST(COUNT(*) AS BIGINT) AS n_matching_sites
FROM m
WHERE match_len >= {_SX_MIN}
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Q323 — incremental dedup from the PERSISTED band index: q149's probe
# re-run against a band index that went through the lake (save → load →
# probe), completing the "index as artifact" family on the dedup side
# (the MinHash mirror of q318's IVF round-trip — round-7 VERDICT item
# 6). History banded signatures are written partitioned by band_id via
# sinks/band_index.py, reloaded as a lazy scan, and the batch probes the
# LOADED frame — history text is never re-signatured. (doc_id, band_id)
# are integers and band_hash an md5 hex string: all round-trip parquet
# losslessly, so probe-from-loaded must equal probe-from-trained
# bit-for-bit and the oracle is EXACTLY Q149_SQL; any drift in the
# artifact (lost band, truncated hash, family mismatch) breaks the value
# hash. tests/test_round8_properties.py additionally pins loaded ==
# trained as collected sets.
# ---------------------------------------------------------------------------


def q323_banded_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textdedup import banded_signatures, minhash_index_probe
    from ..sinks.band_index import (
        band_index_path,
        load_band_index,
        save_band_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    path = band_index_path(sf_dir)
    save_band_index(
        spark,
        banded_signatures(history, "doc_id", "text"),
        path,
        meta={"source": sf_dir},
    )
    loaded, _meta = load_band_index(spark, path)
    return minhash_index_probe(None, batch, history_index=loaded)


#: Probe-from-loaded == probe-from-trained, so the oracle is q149's.
Q323_SQL = Q149_SQL


# ---------------------------------------------------------------------------
# Q329 — incremental SimHash dedup from the PERSISTED slice index: the
# SimHash member of the index-as-artifact family (q318/q322 ANN state,
# q323 MinHash bands). History (doc_id % 10 != 0) slices go through the
# lake (sinks/simhash_index.py: partitioned by band_id, sorted by slice,
# _META.json family check, staged-rename publish); the batch
# (doc_id % 10 == 0) probes the LOADED frame. Pigeonhole (hamming ≤ 3 <
# 4 bands) makes the banded probe EXACT, so the oracle is the
# brute-force history×batch Hamming join — band-candidate counts come
# from the same slice-equality disjunction the index join uses.
# ---------------------------------------------------------------------------


def q329_simhash_index_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.textdedup import simhash_index_probe, simhash_slices
    from ..sinks.simhash_index import (
        load_simhash_index,
        save_simhash_index,
        simhash_index_path,
    )

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    path = simhash_index_path(sf_dir)
    save_simhash_index(
        spark,
        simhash_slices(history, "doc_id", "text"),
        path,
        meta={"source": sf_dir},
    )
    loaded, _meta = load_simhash_index(spark, path)
    return simhash_index_probe(
        None, batch, history_index=loaded
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Q330 — band-index COMPACTION: two per-ingest-day band indexes (history
# split by doc parity) merged into one artifact
# (sinks/band_index.py:merge_band_indexes — a pure union + repartition
# rewrite, no re-signaturing), then probed by the q149 batch. The merged
# artifact must behave exactly like an index built in ONE shot over the
# whole history, so the oracle IS Q149_SQL — any merge drift (lost rows,
# family mix-up, double counting) breaks the hash.
# ---------------------------------------------------------------------------


def q330_band_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textdedup import banded_signatures, minhash_index_probe
    from ..sinks.band_index import (
        band_index_path,
        load_band_index,
        merge_band_indexes,
        save_band_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    day_a = history.where(F.col("doc_id") % 2 == 0)
    day_b = history.where(F.col("doc_id") % 2 == 1)
    root = band_index_path(sf_dir)
    pa, pb, merged_path = f"{root}-dayA", f"{root}-dayB", f"{root}-merged"
    save_band_index(
        spark, banded_signatures(day_a, "doc_id", "text"), pa
    )
    save_band_index(
        spark, banded_signatures(day_b, "doc_id", "text"), pb
    )
    merge_band_indexes(spark, [pa, pb], merged_path)
    loaded, _meta = load_band_index(spark, merged_path)
    return minhash_index_probe(None, batch, history_index=loaded)


#: Merged-probe == single-build probe, so the oracle is q149's.
Q330_SQL = Q149_SQL


_SH_BAND_BITS = 60 // 4
_SH_MASK = (1 << _SH_BAND_BITS) - 1
_SH_SHARES_SLICE = " OR ".join(
    f"((n.simhash >> {i * _SH_BAND_BITS}) & {_SH_MASK})"
    f" = ((h.simhash >> {i * _SH_BAND_BITS}) & {_SH_MASK})"
    for i in range(4)
)

Q329_SQL = rf"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS tok
    FROM documents
),
hh AS (
    SELECT doc_id, {_SQL_HASH60.format(x='tok')} AS h
    FROM toks WHERE tok <> ''
),
votes AS (
    SELECT doc_id, CAST(r.i AS INT) AS bit,
           CASE WHEN (h >> CAST(r.i AS INT)) & 1 = 1 THEN 1 ELSE -1 END AS vote
    FROM hh CROSS JOIN range(0, 60) r(i)
),
bitsums AS (
    SELECT doc_id, bit, CAST(SUM(vote) AS BIGINT) AS s
    FROM votes GROUP BY 1, 2
),
sig AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM bitsums GROUP BY doc_id
),
hist AS (SELECT * FROM sig WHERE doc_id % 10 <> 0),
new AS (SELECT * FROM sig WHERE doc_id % 10 = 0),
cand AS (
    SELECT n.doc_id, h.doc_id AS hist_id,
           CAST(bit_count(xor(n.simhash, h.simhash)) AS INT) AS hamming
    FROM new n JOIN hist h ON ({_SH_SHARES_SLICE})
),
hits AS (
    SELECT doc_id,
           COUNT(*) AS n_band_candidates,
           SUM(CASE WHEN hamming <= 3 THEN 1 ELSE 0 END) AS n_dups,
           MIN(CASE WHEN hamming <= 3 THEN hist_id END) AS matched_min_id
    FROM cand GROUP BY doc_id
)
SELECT n.doc_id,
       CAST(COALESCE(h.n_band_candidates, 0) AS BIGINT) AS n_band_candidates,
       CAST(COALESCE(h.n_dups, 0) AS BIGINT) AS n_dups,
       CAST(h.matched_min_id AS BIGINT) AS matched_min_id,
       COALESCE(h.n_dups, 0) > 0 AS is_dup
FROM new n LEFT JOIN hits h USING (doc_id)
ORDER BY n.doc_id
"""


LLM_TEXT_QUERIES = {
    "q296_doclen_outliers": q296_doclen_outliers,
    "q303_langid_confusion": q303_langid_confusion,
    "q312_lsh_transitivity": q312_lsh_transitivity,
    "q268_chi2_terms": q268_chi2_terms,
    "q274_vocab_oov": q274_vocab_oov,
    "q275_heaps_law": q275_heaps_law,
    "q279_sentence_stats": q279_sentence_stats,
    "q281_boilerplate_affixes": q281_boilerplate_affixes,
    "q283_dedup_savings": q283_dedup_savings,
    "q290_source_similarity": q290_source_similarity,
    "q262_span_dedup_rewrite": q262_span_dedup_rewrite,
    "q16_text_stats": q16_text_stats,
    "q17_lang_id": q17_lang_id,
    "q18_fingerprint": q18_fingerprint,
    "q19_exact_dedup": q19_exact_dedup,
    "q20_ngram_jaccard": q20_ngram_jaccard,
    "q21_minhash_signatures": q21_minhash_signatures,
    "q22_minhash_lsh_pairs": q22_minhash_lsh_pairs,
    "q23_simhash": q23_simhash,
    "q24_simhash_pairs": q24_simhash_pairs,
    "q47_winnowing": q47_winnowing,
    "q54_neardup_groups": q54_neardup_groups,
    "q58_tfidf_terms": q58_tfidf_terms,
    "q115_repeated_passages": q115_repeated_passages,
    "q116_bpe_merges": q116_bpe_merges,
    "q132_bpe_encode": q132_bpe_encode,
    "q134_bigram_lm_scores": q134_bigram_lm_scores,
    "q143_prefix_jaccard_join": q143_prefix_jaccard_join,
    "q149_incremental_dedup": q149_incremental_dedup,
    "q64_chunking": q64_chunking,
    "q65_hash_split": q65_hash_split,
    "q159_novelty_scores": q159_novelty_scores,
    "q160_collocations": q160_collocations,
    "q164_containment_pairs": q164_containment_pairs,
    "q176_minhash_accuracy": q176_minhash_accuracy,
    "q184_term_burstiness": q184_term_burstiness,
    "q193_tokenizer_fertility": q193_tokenizer_fertility,
    "q317_suffix_dedup": q317_suffix_dedup,
    "q323_banded_index_roundtrip": q323_banded_index_roundtrip,
    "q329_simhash_index_roundtrip": q329_simhash_index_roundtrip,
    "q330_band_index_merge": q330_band_index_merge,
}

LLM_TEXT_ORACLES = {
    "q268_chi2_terms": Q268_SQL,
    "q274_vocab_oov": Q274_SQL,
    "q275_heaps_law": Q275_SQL,
    "q279_sentence_stats": Q279_SQL,
    "q281_boilerplate_affixes": Q281_SQL,
    "q283_dedup_savings": Q283_SQL,
    "q290_source_similarity": Q290_SQL,
    "q296_doclen_outliers": Q296_SQL,
    "q303_langid_confusion": Q303_SQL,
    "q312_lsh_transitivity": Q312_SQL,
    "q262_span_dedup_rewrite": Q262_SQL,
    "q16_text_stats": Q16_SQL,
    "q17_lang_id": Q17_SQL,
    "q18_fingerprint": Q18_SQL,
    "q19_exact_dedup": Q19_SQL,
    "q20_ngram_jaccard": Q20_SQL,
    "q21_minhash_signatures": Q21_SQL,
    "q22_minhash_lsh_pairs": Q22_SQL,
    "q23_simhash": Q23_SQL,
    "q24_simhash_pairs": Q24_SQL,
    "q47_winnowing": Q47_SQL,
    "q54_neardup_groups": Q54_SQL,
    "q58_tfidf_terms": Q58_SQL,
    "q115_repeated_passages": Q115_SQL,
    "q116_bpe_merges": Q116_SQL,
    "q132_bpe_encode": Q132_SQL,
    "q134_bigram_lm_scores": Q134_SQL,
    "q143_prefix_jaccard_join": Q143_SQL,
    "q149_incremental_dedup": Q149_SQL,
    "q64_chunking": Q64_SQL,
    "q65_hash_split": Q65_SQL,
    "q159_novelty_scores": Q159_SQL,
    "q160_collocations": Q160_SQL,
    "q164_containment_pairs": Q164_SQL,
    "q176_minhash_accuracy": Q176_SQL,
    "q184_term_burstiness": Q184_SQL,
    "q193_tokenizer_fertility": Q193_SQL,
    "q317_suffix_dedup": Q317_SQL,
    "q323_banded_index_roundtrip": Q323_SQL,
    "q329_simhash_index_roundtrip": Q329_SQL,
    "q330_band_index_merge": Q330_SQL,
}
