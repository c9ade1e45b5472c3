"""Unigram-LM (SentencePiece-style) tokenizer training — the EM
counterpart to BPE merge training (operators/bpe.py), on the exact
integer grid so the whole training run carries a full value oracle
(round-6 VERDICT item 5).

Kudo 2018's unigram model trains by EM: segment the corpus with the
current piece scores (E-step, Viterbi), re-estimate scores from piece
usage, prune low-contribution pieces (M-step), repeat. Float log-probs
aren't reproducible cross-engine, so this engine trains the HARD-EM
variant on integers:

- **Seed vocabulary**: every substring of length 1..UL_PIECE_MAX of the
  (length-capped) word inventory, scored by position-weighted corpus
  count; multi-char pieces below UL_SEED_MIN are dropped, single chars
  always kept (segmentation stays feasible).
- **Viterbi E-step**: per word, the segmentation minimizing
  ``(piece_count, -score_sum, backpointer)`` lexicographically — the
  integer twin of max-likelihood (fewest pieces first = the dominant
  log-prob term; largest total score breaks ties = the frequency term;
  the backpointer index makes the argmin TOTAL, so both engines pick
  the identical segmentation). A bounded DP: positions 0..UL_MAXLEN,
  lookback UL_PIECE_MAX.
- **M-step**: piece scores := corpus-weighted usage in the E-step
  segmentation; multi-char pieces with usage < UL_PRUNE_MIN leave the
  vocabulary. UL_ROUNDS rounds.

Scale shape (100 TB): the corpus is touched ONCE (the word count —
one shuffle); everything after runs on the WORD INVENTORY, which grows
sub-linearly in corpus size (Heaps' law) — the same
count-then-train-on-vocab decomposition bpe_train uses. The per-word
DP is row-local given the piece scores, so it runs as ONE Arrow-batched
mapInPandas pass per EM round with the thresholded vocabulary as
bounded driver state (the kmeans-centroid contract); usage
re-estimation is a distributed explode+agg. No step touches the
documents again until the encode join, where the trained
(word → piece_count) map is itself vocabulary-sized and broadcastable.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import ensure_min_parallelism
from ..functions.text import tokens
from ..sources.tables import session_memo

UL_MAXLEN = 12  # words longer than this are excluded from the model
UL_PIECE_MAX = 4  # max piece length (chars)
UL_SEED_MIN = 20  # min corpus count for a multi-char seed piece
UL_PRUNE_MIN = 20  # min E-step usage for a multi-char piece to survive
UL_ROUNDS = 2  # hard-EM rounds

def unigram_words(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) inventory over whitespace tokens, length-capped."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .where((F.col("word") != "") & (F.length("word") <= UL_MAXLEN))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def seed_vocab(words: DataFrame) -> DataFrame:
    """Position-weighted substring counts -> (piece, score)."""
    pieces = (
        words.select(
            "word",
            "cnt",
            F.explode(F.sequence(F.lit(1), F.lit(UL_PIECE_MAX))).alias("l"),
        )
        .select(
            "word",
            "cnt",
            "l",
            F.explode(F.sequence(F.lit(0), F.lit(UL_MAXLEN - 1))).alias("i"),
        )
        .where(F.col("i") + F.col("l") <= F.length("word"))
        .select(F.expr("substr(word, i + 1, l)").alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("score"))
    )
    return pieces.where(
        (F.length("piece") == 1) | (F.col("score") >= UL_SEED_MIN)
    )


def viterbi_segment(words: DataFrame, vocab: dict[str, int]) -> DataFrame:
    """One E-step: per word the total-order-optimal segmentation.
    Returns (word, cnt, np, sc, pieces array<string>).

    The DP is PER-ROW (a word's segmentation depends only on the word and
    the piece scores), so it runs as an Arrow-batched ``mapInPandas``
    seam over the word inventory with the vocabulary as bounded driver
    state — the kmeans-centroid contract: the vocab is capped by
    UL_SEED_MIN/UL_PRUNE_MIN (frequency-thresholded subword inventories
    are vocabulary-scale, not corpus-scale). A first cut drove the DP
    through 12 chained DataFrame joins instead; dp[j] re-derived
    dp[j-1..j-4] with no lineage break, so the Catalyst plan grew
    ~4^12 nodes and analysis alone hung — the per-row shape is the
    correct Spark decomposition, not just faster.

    Argmin key is ``(np, -sc, i)`` — piece count, then total score,
    then backpointer — a TOTAL order (i is unique per candidate), so
    the SQL oracle's ROW_NUMBER replay picks the identical path."""
    import pandas as pd

    def batches(it):
        for pdf in it:
            out_w, out_c, out_np, out_sc, out_p = [], [], [], [], []
            for word, cnt in zip(pdf["word"], pdf["cnt"]):
                L = len(word)
                # dp[j] = (np, -sc, i, piece) best candidate ending at j
                dp: list[tuple | None] = [None] * (L + 1)
                dp[0] = (0, 0, -1, "")
                for j in range(1, L + 1):
                    best = None
                    for i in range(max(0, j - UL_PIECE_MAX), j):
                        if dp[i] is None:
                            continue
                        piece = word[i:j]
                        sc = vocab.get(piece)
                        if sc is None:
                            continue
                        cand = (dp[i][0] + 1, -(-dp[i][1] + sc), i, piece)
                        if best is None or cand[:3] < best[:3]:
                            best = cand
                    dp[j] = best
                pieces = []
                j = L
                while j > 0:
                    np_, nsc, i, piece = dp[j]
                    pieces.append(piece)
                    j = i
                pieces.reverse()
                out_w.append(word)
                out_c.append(int(cnt))
                out_np.append(int(dp[L][0]))
                out_sc.append(int(-dp[L][1]))
                out_p.append(pieces)
            yield pd.DataFrame(
                {
                    "word": pd.Series(out_w, dtype="object"),
                    "cnt": pd.Series(out_c, dtype="int64"),
                    "np": pd.Series(out_np, dtype="int32"),
                    "sc": pd.Series(out_sc, dtype="int64"),
                    "pieces": pd.Series(out_p, dtype="object"),
                }
            )

    return words.mapInPandas(
        batches,
        schema="word string, cnt long, np int, sc long, pieces array<string>",
    )


def piece_usage(segs: DataFrame) -> DataFrame:
    """Corpus-weighted piece usage of a segmentation -> (piece, usage)."""
    return (
        segs.select("cnt", F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("usage"))
    )


def unigram_train(
    docs: DataFrame, text_col: str = "text", cache_key: tuple | None = None
) -> DataFrame:
    """UL_ROUNDS of hard-EM; returns the FINAL-round segmentation
    (word, cnt, np, sc, pieces) — piece usage aggregates it (q320), the
    encoder joins it (q321). The vocab dict collected per round is
    bounded driver state (thresholded subword inventory); the word
    inventory itself stays distributed. localCheckpoint'ed so the
    two consumers don't replay the EM chain, and ``cache_key`` =
    ``(corpus path, *tag)`` shares one model per corpus state."""
    if cache_key is not None:
        path, *tag = cache_key
        build = partial(unigram_train, docs, text_col)
        return session_memo(docs.sparkSession, path, ("unigram", *tag), build)
    words = ensure_min_parallelism(
        unigram_words(docs, text_col), F.col("word")
    )
    vocab = {
        r["piece"]: int(r["score"]) for r in seed_vocab(words).collect()
    }
    chars = [p for p in vocab if len(p) == 1]
    segs = None
    for _ in range(UL_ROUNDS):
        if segs is not None:
            usage = {
                r["piece"]: int(r["usage"])
                for r in piece_usage(segs).collect()
            }
            vocab = {c: usage.get(c, 0) for c in chars}
            vocab.update(
                {
                    p: u
                    for p, u in usage.items()
                    if len(p) >= 2 and u >= UL_PRUNE_MIN
                }
            )
        segs = viterbi_segment(words, vocab).localCheckpoint(eager=False)
    return segs
