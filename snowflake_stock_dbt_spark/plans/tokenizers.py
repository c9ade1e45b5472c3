"""Tokenizer + batch-shape queries: unigram-LM train (q320) and encode
(q321), prefix-cache sharing (q327), padding waste (q328).

The Spark side is operators/unigram_lm.py (hard-EM Viterbi on the exact
integer grid). The oracle UNROLLS the identical computation in DuckDB
SQL — the q106/q116 technique: the bounded DP (positions 0..UL_MAXLEN,
lookback UL_PIECE_MAX) becomes a CTE per position, each EM round a CTE
chain, the per-word argmin the same ROW_NUMBER total order
``(np, sc DESC, backpointer)``. Both queries therefore carry FULL value
oracles, and the pair is tied by the q132-style cross-operator gate
(tests/test_round7_properties.py): the encoder's corpus token total
must equal the trainer's summed piece usage EXACTLY.

Reference capability: SURVEY §2.12's tokenizer-training row (Kudo 2018,
SentencePiece) — the subword counterpart to q116's BPE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.unigram_lm import (
    UL_MAXLEN,
    UL_PIECE_MAX,
    UL_PRUNE_MIN,
    UL_ROUNDS,
    UL_SEED_MIN,
    piece_usage,
    unigram_train,
)
from ..functions.text import tokens
from ..sources.tables import load_table


def q320_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    segs = unigram_train(docs, cache_key=(sf_dir,))
    return (
        piece_usage(segs)
        .select(
            "piece",
            F.length("piece").cast("int").alias("piece_len"),
            F.col("usage").cast("long").alias("usage"),
        )
        .orderBy(F.col("usage").desc(), "piece")
    )


def q321_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    segs = unigram_train(docs, cache_key=(sf_dir,))
    dw = (
        docs.select("doc_id", F.explode(tokens("text")).alias("word"))
        .where((F.col("word") != "") & (F.length("word") <= UL_MAXLEN))
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("cn"))
    )
    # No broadcast hint: the word inventory is NOT driver-bounded at
    # cluster scale (unigram_lm.unigram_train's posture) — let AQE pick
    # the build side from runtime stats (round-7 ADVICE).
    return (
        dw.join(segs.select("word", "np"), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cn").cast("long").alias("n_words"),
            F.sum(F.col("cn") * F.col("np")).cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# --- the unrolled DuckDB twin ----------------------------------------------


def _ul_dp_ctes(r: int) -> str:
    """The Viterbi DP of EM round ``r`` against vocabulary CTE ``v{r}``:
    one CTE per position j, candidates unioned per lookback i, argmin by
    the total order (np, sc DESC, pi)."""
    parts = [
        f""",
r{r}dp0 AS (
    SELECT word, cnt, 0 AS np, CAST(0 AS BIGINT) AS sc,
           CAST([] AS VARCHAR[]) AS pieces
    FROM words
)"""
    ]
    for j in range(1, UL_MAXLEN + 1):
        branches = "\n      UNION ALL\n".join(
            f"""      SELECT d.word, d.cnt, d.np + 1 AS np,
             d.sc + v.score AS sc, {i} AS pi,
             d.pieces || [v.piece] AS pieces
      FROM r{r}dp{i} d JOIN v{r} v
        ON v.piece = substr(d.word, {i + 1}, {j - i})
      WHERE length(d.word) >= {j}"""
            for i in range(max(0, j - UL_PIECE_MAX), j)
        )
        parts.append(
            f""",
r{r}dp{j} AS MATERIALIZED (
    SELECT word, cnt, np, sc, pieces FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY word ORDER BY np, sc DESC, pi) AS rn
        FROM (
{branches}
        )
    ) WHERE rn = 1
)"""
        )
    finals = "\n    UNION ALL\n".join(
        f"    SELECT word, cnt, np, sc, pieces FROM r{r}dp{j}"
        f" WHERE length(word) = {j}"
        for j in range(1, UL_MAXLEN + 1)
    )
    parts.append(
        f""",
r{r}seg AS MATERIALIZED (
{finals}
),
u{r} AS MATERIALIZED (
    SELECT p.piece, SUM(s.cnt) AS usage
    FROM r{r}seg s, unnest(s.pieces) AS p(piece)
    GROUP BY 1
)"""
    )
    return "".join(parts)


def _ul_base_and_rounds() -> str:
    base = rf"""
WITH wtoks AS (
    SELECT unnest(string_split_regex(TRIM(text), '\s+')) AS word
    FROM documents
),
words AS MATERIALIZED (
    SELECT word, COUNT(*) AS cnt FROM wtoks
    WHERE word <> '' AND length(word) <= {UL_MAXLEN} GROUP BY 1
),
seedpos AS (
    SELECT substr(word, CAST(i + 1 AS INT), CAST(l AS INT)) AS piece,
           SUM(cnt) AS score
    FROM words,
         unnest(generate_series(1, {UL_PIECE_MAX})) AS a(l),
         unnest(generate_series(0, {UL_MAXLEN - 1})) AS b(i)
    WHERE i + l <= length(word)
    GROUP BY 1
),
v1 AS MATERIALIZED (
    SELECT piece, score FROM seedpos
    WHERE length(piece) = 1 OR score >= {UL_SEED_MIN}
)"""
    rounds = []
    for r in range(1, UL_ROUNDS + 1):
        if r > 1:
            rounds.append(
                f""",
v{r} AS MATERIALIZED (
    SELECT sp.piece, COALESCE(u{r - 1}.usage, 0) AS score
    FROM (SELECT piece FROM v1 WHERE length(piece) = 1) sp
    LEFT JOIN u{r - 1} USING (piece)
    UNION ALL
    SELECT piece, usage AS score FROM u{r - 1}
    WHERE length(piece) >= 2 AND usage >= {UL_PRUNE_MIN}
)"""
            )
        rounds.append(_ul_dp_ctes(r))
    return base + "".join(rounds)


_R = UL_ROUNDS

Q320_SQL = (
    _ul_base_and_rounds()
    + f"""
SELECT piece, CAST(length(piece) AS INT) AS piece_len,
       CAST(usage AS BIGINT) AS usage
FROM u{_R}
ORDER BY usage DESC, piece
"""
)

Q321_SQL = (
    _ul_base_and_rounds()
    + rf""",
dtoks AS (
    SELECT doc_id,
           unnest(string_split_regex(TRIM(text), '\s+')) AS word
    FROM documents
),
dw AS (
    SELECT doc_id, word, COUNT(*) AS cn FROM dtoks
    WHERE word <> '' AND length(word) <= {UL_MAXLEN}
    GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(cn) AS BIGINT) AS n_words,
       CAST(SUM(cn * s.np) AS BIGINT) AS n_tokens
FROM dw JOIN r{_R}seg s USING (word)
GROUP BY doc_id
ORDER BY doc_id
"""
)


# ---------------------------------------------------------------------------
# Q327 — Prompt prefix-sharing audit (KV-cache planning): for each probe
# prefix length, how many documents share a byte-identical prefix with
# another document. The serving-side twin of dedup: a shared prefix is a
# shared KV-cache entry, so `cache_hit_milli` = (n_docs − n_prefixes)/n_docs
# is the attainable prefix-cache hit rate at that depth. One explode
# (|lens| rows/doc) into ONE map-side-combinable keyed count — the same
# linear shape as exact dedup (q19), never a self-join.
# ---------------------------------------------------------------------------

_PREFIX_LENS = [4, 8, 16]


def q327_prefix_sharing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pl = docs.select(
        F.explode(
            F.array(*[F.lit(n) for n in _PREFIX_LENS])
        ).alias("prefix_len"),
        "text",
    ).select(
        "prefix_len",
        F.expr("substring(text, 1, prefix_len)").alias("prefix"),
    )
    grp = pl.groupBy("prefix_len", "prefix").agg(F.count("*").alias("g"))
    return (
        grp.groupBy("prefix_len")
        .agg(
            F.sum("g").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_prefixes"),
            F.sum(F.when(F.col("g") > 1, F.col("g")).otherwise(0))
            .cast("long")
            .alias("docs_in_shared"),
            F.max("g").cast("long").alias("max_group"),
        )
        .select(
            "prefix_len",
            "n_docs",
            "n_prefixes",
            "docs_in_shared",
            "max_group",
            F.expr(
                "CAST((n_docs - n_prefixes) * 1000 DIV n_docs AS BIGINT)"
            ).alias("cache_hit_milli"),
        )
        .orderBy("prefix_len")
    )


_PFX_LIST = ", ".join(str(n) for n in _PREFIX_LENS)

Q327_SQL = f"""
WITH p AS (
    SELECT l.prefix_len, substr(d.text, 1, l.prefix_len) AS prefix
    FROM documents d
    CROSS JOIN (
        SELECT unnest([{_PFX_LIST}]) AS prefix_len
    ) l
),
g AS (
    SELECT prefix_len, prefix, COUNT(*) AS g FROM p GROUP BY 1, 2
)
SELECT CAST(prefix_len AS INT) AS prefix_len,
       CAST(SUM(g) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_prefixes,
       CAST(SUM(CASE WHEN g > 1 THEN g ELSE 0 END) AS BIGINT)
           AS docs_in_shared,
       CAST(MAX(g) AS BIGINT) AS max_group,
       CAST((SUM(g) - COUNT(*)) * 1000 // SUM(g) AS BIGINT)
           AS cache_hit_milli
FROM g
GROUP BY prefix_len
ORDER BY prefix_len
"""


# ---------------------------------------------------------------------------
# Q328 — Padding-waste audit for bucketed batching: documents clamp to the
# max sequence length, land in the smallest power-of-two length bucket,
# and each bucket reports how many padded tokens the batch shape burns
# (`waste_milli` = padded−real per mille). The bucket ladder is a CASE
# chain, NOT float log2 — cross-engine float logs at bucket boundaries
# would flip rows between buckets. Single map-side-combinable agg.
# ---------------------------------------------------------------------------

_PAD_BUCKETS = [16, 32, 64, 128, 256, 512]
_PAD_MAX = _PAD_BUCKETS[-1]


def q328_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    n = F.least(token_count("text"), F.lit(_PAD_MAX))
    bucket = F.coalesce(
        *[F.when(n <= b, F.lit(b)) for b in _PAD_BUCKETS]
    ).cast("int")
    return (
        docs.select(n.alias("n_tok"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "sum_tokens",
            (F.col("n_docs") * F.col("bucket"))
            .cast("long")
            .alias("sum_padded"),
            F.expr(
                "CAST((n_docs * bucket - sum_tokens) * 1000"
                " DIV (n_docs * bucket) AS BIGINT)"
            ).alias("waste_milli"),
        )
        .orderBy("bucket")
    )


_PAD_CASE = (
    "CASE "
    + " ".join(
        f"WHEN n <= {b} THEN {b}" for b in _PAD_BUCKETS[:-1]
    )
    + f" ELSE {_PAD_MAX} END"
)

Q328_SQL = rf"""
WITH t AS (
    SELECT CASE WHEN TRIM(text) = '' THEN 0
                ELSE len(string_split_regex(TRIM(text), '\s+')) END AS n0
    FROM documents
),
c AS (
    SELECT LEAST(n0, {_PAD_MAX}) AS n FROM t
),
b AS (
    SELECT n, {_PAD_CASE} AS bucket FROM c
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS sum_tokens,
       CAST(COUNT(*) * bucket AS BIGINT) AS sum_padded,
       CAST((COUNT(*) * bucket - SUM(n)) * 1000
            // (COUNT(*) * bucket) AS BIGINT) AS waste_milli
FROM b
GROUP BY bucket
ORDER BY bucket
"""


TOKENIZER_QUERIES = {
    "q320_unigram_train": q320_unigram_train,
    "q321_unigram_encode": q321_unigram_encode,
    "q327_prefix_sharing": q327_prefix_sharing,
    "q328_padding_waste": q328_padding_waste,
}

TOKENIZER_ORACLES = {
    "q320_unigram_train": Q320_SQL,
    "q321_unigram_encode": Q321_SQL,
    "q327_prefix_sharing": Q327_SQL,
    "q328_padding_waste": Q328_SQL,
}
