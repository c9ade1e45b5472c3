"""[EXT] Document deduplication operators (exact, n-gram Jaccard, MinHash-LSH,
SimHash) for LLM-data pipelines.

Not present in the reference (its only dedup is the latest-wins key dedup,
sql/02_load_data.sql:109-112); these implement the standard large-corpus
near-dup stack entirely with DataFrame ops — explode / hash / groupBy /
self-join — so every stage is a shuffle Catalyst can plan, no Python in the
hot path.

Scale shape (100 TB):
- exact: one hash-aggregate on the fingerprint — embarrassingly parallel.
- n-gram Jaccard: exact but quadratic in colliding docs; use only after
  candidate pruning (that is exactly what MinHash-LSH provides).
- MinHash-LSH: signatures in one explode+agg pass (single shuffle on
  doc_id), candidates via equi-join on (band, band_hash) buckets — never an
  all-pairs product. Banding (16×4 over 64 hashes) targets the usual
  s-curve: P(candidate) ≈ 1-(1-j^4)^16, steep around j≈0.7-0.8.
- SimHash: signatures in one pass; pairing joins on 15-bit bands (4 bands)
  — by pigeonhole any pair within Hamming distance 3 shares a clean band, so
  band-join + exact Hamming filter returns exactly the brute-force result.

All hashes are the cross-engine hash60 (functions/text.py), so a SQL engine
can replay every stage bit-for-bit — that is what the DuckDB oracles in
plans/llm_text.py do.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.partitioning import ensure_min_parallelism
from ..functions.text import fingerprint, hash60, shingles_from_tokens, tokens

# MinHash configuration: 64 permutations in 16 bands of 4.
MINHASH_SEEDS = 64
LSH_BANDS = 16
LSH_ROWS = MINHASH_SEEDS // LSH_BANDS

#: Universal-hash family for MinHash permutations: g_s(x) = (a_s*h(x) + b_s)
#: mod p over the Mersenne prime p = 2^31 - 1, with h(x) a 32-bit md5-prefix
#: base hash reduced mod p. ONE cryptographic hash per shingle, then 64 cheap
#: integer transforms — 64× less hashing than md5-per-seed, and a_s*h + b_s
#: stays < 2^62 so the whole family runs in 64-bit integer arithmetic on any
#: engine. Constants come from a fixed LCG so the DuckDB oracle embeds the
#: same literals.
MINHASH_PRIME = (1 << 31) - 1


def minhash_params(n_hashes: int = MINHASH_SEEDS) -> list[tuple[int, int]]:
    """Deterministic (a_s, b_s) pairs, a_s != 0, identical in every engine."""
    params = []
    state = 0x5DEECE66D
    for _ in range(n_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (MINHASH_PRIME - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MINHASH_PRIME
        params.append((a, b))
    return params

# SimHash configuration: 60-bit signatures, 4 bands of 15 bits.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group documents by content fingerprint: (fingerprint, n_docs,
    keeper_id = min id). Downstream keeps ``keeper_id`` rows only."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    # Spread docs across the cluster BEFORE the explode fan-out: a small
    # upstream file count (locally: one parquet file) would otherwise pin
    # the entire tokenize/shingle/hash pipeline to those few tasks. The
    # pre-explode shuffle moves only (id, text) rows — cheap relative to
    # the k-gram blow-up it parallelizes. Tokenize in its own projection so
    # the split runs once per row (see shingles_from_tokens docstring).
    toks = ensure_min_parallelism(df, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")
    )
    return toks.select(
        "doc_id", F.explode(shingles_from_tokens("t", k)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    restrict_ids: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over distinct word k-shingles for every pair
    sharing at least one shingle; keeps pairs with j >= threshold.

    Pair discovery is an equi-join on the shingle value — cost is bounded by
    the shingle-frequency skew, not |docs|²; pre-prune with MinHash-LSH when
    running at full corpus scale. ``restrict_ids`` (a 1-column ``doc_id``
    frame) semi-joins the shingle set before the pair join so audits that
    only need candidate pairs (q176) pay candidate-bounded cost, not
    co-shingle-bounded cost.
    """
    # The shingle set feeds three plan branches (sizes + both join sides);
    # persist it so tokenize/shingle/distinct runs once.
    sh = _exploded_shingles(df, id_col, text_col, k)
    if restrict_ids is not None:
        sh = sh.join(restrict_ids, "doc_id", "semi")
    sh = sh.persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb")
    )
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "na", "nb", "jaccard")
    )


def base_hash31(col) -> F.Column:
    """32-bit md5-prefix hash reduced into [0, p): the per-shingle base of the
    universal-hash family. Cross-engine: DuckDB twin is
    CAST(('0x' || substr(md5(x),1,8)) AS BIGINT) % 2147483647."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_PRIME)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = MINHASH_SEEDS,
) -> DataFrame:
    """doc_id + h0..h{n-1} minhash columns in ONE explode+aggregate pass
    (single shuffle on doc_id): one md5 per shingle row, then every seed is a
    cheap (a*h+b) mod p column expression aggregated with MIN. Docs with no
    shingles (< k tokens) are dropped — they have no signature."""
    sh = _exploded_shingles(df, id_col, text_col, k).select(
        "doc_id", base_hash31(F.col("shingle")).alias("h")
    )
    # One parsed SQL expression per seed: the Column-API form costs ~9
    # py4j round trips per seed per call site and dominated the BUILD
    # time of every MinHash query (opt r11, cProfile: 4.3 s of the q330
    # construction was this listcomp). Same integer arithmetic, same
    # aggregate tree.
    mins = [
        F.expr(f"min(({a} * h + {b}) % {MINHASH_PRIME})").alias(f"h{s}")
        for s, (a, b) in enumerate(minhash_params(n_hashes))
    ]
    return sh.groupBy("doc_id").agg(*mins)


def banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = MINHASH_SEEDS,
    bands: int = LSH_BANDS,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band_id, band_hash): the LSH band index rows of a corpus —
    the md5 of each band's ``rows`` consecutive minhash components. This
    IS the storable artifact shape (sinks/band_index.py persists it), and
    both the self-join (minhash_lsh_pairs) and the asymmetric probe
    (minhash_index_probe) consume it unchanged.

    ``signatures`` — a precomputed :func:`minhash_signatures` frame (same
    n_hashes) — lets a caller that ALSO consumes the raw signature columns
    (q176's accuracy audit) share one persisted signature pass instead of
    re-running the shingle→hash→64-min pipeline per consumer (opt r12,
    guide §1.2: don't compute things twice). When it is passed, ``k`` is
    ignored (the frame's shingle size is whatever built it), and a frame
    without exactly the columns ``h0..h{n_hashes-1}`` raises
    ``ValueError``."""
    rows = n_hashes // bands
    if signatures is None:
        sig = minhash_signatures(df, id_col, text_col, k, n_hashes)
    else:
        got = {c for c in signatures.columns if re.fullmatch(r"h\d+", c)}
        want = {f"h{i}" for i in range(n_hashes)}
        if got != want:
            raise ValueError(
                f"signatures frame must have exactly h0..h{n_hashes - 1}; "
                f"missing {sorted(want - got)}, unexpected {sorted(got - want)}"
            )
        sig = signatures
    # Parsed once per band instead of ~rows py4j calls each (opt r11).
    band_cols = [
        F.expr(
            # CAST keeps band_id BIGINT as the pre-r11 F.lit(int) produced:
            # a bare SQL integer literal is INT, a schema-visible narrowing
            # for saved band-index artifacts (ADVICE r11).
            "struct(CAST({b} AS BIGINT) AS band_id, "
            "md5(concat_ws(',', {cols})) AS band_hash)".format(
                b=band,
                cols=", ".join(
                    f"h{band * rows + r}" for r in range(rows)
                ),
            )
        )
        for band in range(bands)
    ]
    return (
        sig.select("doc_id", F.explode(F.array(*band_cols)).alias("band"))
        .select("doc_id", "band.band_id", "band.band_hash")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = MINHASH_SEEDS,
    bands: int = LSH_BANDS,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs whose signatures agree on >= 1 band.
    Returns (doc_a, doc_b, n_shared_bands). Join is on (band_id, band_hash)
    buckets — no quadratic product ever materializes. ``signatures``
    passes a precomputed (ideally persisted) signature frame through to
    :func:`banded_signatures` for callers that consume it elsewhere too;
    ``k`` is then ignored, and a frame without exactly the columns
    ``h0..h{n_hashes-1}`` raises ``ValueError``."""
    # Persist the banded signatures: the self-join references them on both
    # sides, and without the persist the whole shingle→hash→64-min pipeline
    # would execute twice (once per join input).
    banded = banded_signatures(
        df, id_col, text_col, k, n_hashes, bands, signatures=signatures
    ).persist()
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def positional_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(doc_id, pos, shingle) — k-word shingles WITH positions and WITHOUT
    dedup (winnowing needs the full positional sequence)."""
    # Materialize the token array first — an inlined split would re-run per
    # element_at inside the lambda (see shingles_from_tokens docstring).
    toks = ensure_min_parallelism(df, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")
    )
    t = F.col("t")
    n = F.size(t)
    arr = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(k)]).alias(
                "shingle"
            ),
        ),
    )
    return (
        toks.where(n >= k)
        .select("doc_id", F.explode(arr).alias("s"))
        .select("doc_id", "s.pos", "s.shingle")
    )


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash the k-gram at
    every position, slide a w-wide window, keep each window's minimum hash,
    dedupe. Guarantees any match of length ≥ w+k-1 tokens shares a
    fingerprint, with a sampled (≈2/(w+1)) signature size.

    Pure relational rolling-window formulation: one shuffle on doc_id for
    the ordered window, min-over-frame in codegen. Documents shorter than
    one full window contribute the min of what they have.
    """
    ps = positional_shingles(df, id_col, text_col, k)
    hashed = ps.select("doc_id", "pos", hash60(F.col("shingle")).alias("hv"))
    wframe = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    wall = Window.partitionBy("doc_id")
    return (
        hashed.withColumn("wmin", F.min("hv").over(wframe))
        .withColumn("maxpos", F.max("pos").over(wall))
        .where(F.col("pos") <= F.greatest(F.lit(1), F.col("maxpos") - (w - 1)))
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """(doc_id, simhash): classic SimHash — every token occurrence votes ±1
    on each signature bit according to its hash60 bit; bit is 1 when the sum
    is positive.

    One aggregation pass, no bit-explode: each of the ``bits`` vote sums is
    its own conditional-SUM aggregate column over the token hashes (the same
    shape as the 64-min MinHash aggregate). Map-side partial aggregation
    reduces the shuffle to |docs| × bits partial sums, vs the tokens × bits
    row blow-up an explode-on-bit formulation would push through the
    exchange (≈60× more shuffled rows)."""
    toks = ensure_min_parallelism(df, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    hashed = toks.select("doc_id", hash60(F.col("tok")).alias("h"))
    # Parsed SQL per bit (and ONE expression for the 60-term recompose):
    # the Column-API loops cost ~12 py4j round trips per bit per call
    # site — the bulk of every SimHash query's build time (opt r11).
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {s}) & 1) = 1 "
            f"THEN 1 ELSE -1 END)"
        ).alias(f"s{s}")
        for s in range(bits)
    ]
    bitsums = hashed.groupBy("doc_id").agg(*votes)
    sig = F.expr(
        " + ".join(
            f"(CASE WHEN s{s} > 0 THEN CAST({1 << s} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for s in range(bits)
        )
    )
    return bitsums.select("doc_id", sig.alias("simhash"))


def simhash_slices(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """(doc_id, simhash, band_id, slice): each signature split into
    ``bands`` equal bit-slices — the SimHash banding rows shared by the
    in-session pair join (:func:`simhash_pairs`) and the persisted slice
    index (sinks/simhash_index.py). Carrying ``simhash`` alongside the
    slice lets a probe run the EXACT Hamming filter without a second
    lookup — the slice finds the bucket, the full signature verifies."""
    band_bits = bits // bands
    sig = simhash_signatures(df, id_col, text_col, bits)
    mask = (1 << band_bits) - 1
    slices = [
        F.struct(
            F.lit(i).alias("band_id"),
            (
                F.expr(f"shiftright(simhash, {i * band_bits})").bitwiseAND(
                    F.lit(mask)
                )
            ).alias("slice"),
        )
        for i in range(bands)
    ]
    return (
        sig.select("doc_id", "simhash", F.explode(F.array(*slices)).alias("b"))
        .select("doc_id", "simhash", "b.band_id", "b.slice")
    )


def simhash_index_probe(
    history: DataFrame | None,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
    max_hamming: int = 3,
    history_index: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL SimHash dedup: probe a new batch against a historical
    corpus's slice index — the SimHash twin of :func:`minhash_index_probe`
    (same asymmetric shape: history is never re-paired with itself, and
    its term appears only through a precomputable/storable index; pass
    ``history_index`` — a (doc_id, simhash, band_id, slice) frame, e.g.
    loaded by sinks/simhash_index.load_simhash_index — to probe a
    PERSISTED index without re-signaturing history).

    Pigeonhole exactness (max_hamming < bands): any pair within
    ``max_hamming`` shares at least one identical slice, so the
    (band_id, slice) equi-join finds EVERY qualifying pair and the exact
    Hamming filter on the carried signatures removes false candidates.

    Returns one row per batch document that has a signature:
    (doc_id, n_band_candidates, n_dups, matched_min_id NULLable, is_dup)
    where candidates share ≥1 slice and dups additionally pass the exact
    Hamming ≤ max_hamming check.
    """
    assert max_hamming < bands, "pigeonhole guarantee needs max_hamming < bands"
    if history_index is not None:
        hist_idx = history_index
    elif history is not None:
        hist_idx = simhash_slices(history, id_col, text_col, bits, bands)
    else:
        raise ValueError("need history or history_index")
    new_b = simhash_slices(batch, id_col, text_col, bits, bands).persist()
    # A pair sharing several slices must count once: reduce to distinct
    # (batch doc, history doc) with the Hamming verdict computed on the
    # carried signatures (identical for every shared slice).
    cand = (
        new_b.join(
            hist_idx.select(
                "band_id",
                "slice",
                F.col("doc_id").alias("hist_id"),
                F.col("simhash").alias("hist_sim"),
            ),
            ["band_id", "slice"],
        )
        .select(
            "doc_id",
            "hist_id",
            F.bit_count(F.expr("simhash ^ hist_sim")).cast("int").alias(
                "hamming"
            ),
        )
        .distinct()
    )
    hits = cand.groupBy("doc_id").agg(
        F.count("*").alias("n_band_candidates"),
        F.sum(
            F.when(F.col("hamming") <= max_hamming, 1).otherwise(0)
        ).alias("n_dups"),
        F.min(
            F.when(F.col("hamming") <= max_hamming, F.col("hist_id"))
        ).alias("matched_min_id"),
    )
    probed = new_b.groupBy("doc_id").agg(F.first("simhash").alias("__sig"))
    return (
        probed.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_band_candidates", F.lit(0))
            .cast("long")
            .alias("n_band_candidates"),
            F.coalesce("n_dups", F.lit(0)).cast("long").alias("n_dups"),
            F.col("matched_min_id").cast("long").alias("matched_min_id"),
            (F.coalesce("n_dups", F.lit(0)) > 0).alias("is_dup"),
        )
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """Pairs with Hamming(simhash_a, simhash_b) <= max_hamming.

    Banding join: signatures are split into ``bands`` equal bit-slices; a
    pair within distance ``bands - 1`` must share at least one identical
    slice (pigeonhole), so the equi-join on (band, slice) finds every
    qualifying pair and the exact Hamming filter removes false candidates —
    identical output to the brute-force cross join, at bucket-join cost.
    Requires max_hamming < bands.
    """
    assert max_hamming < bands, "pigeonhole guarantee needs max_hamming < bands"
    # Persist before the self-join — both sides read it, and recomputing
    # the token-explode + bit-vote pipeline twice would dominate the cost.
    banded = simhash_slices(df, id_col, text_col, bits, bands).persist()
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("sim_a ^ sim_b"))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def repeated_passages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_count: int = 3,
) -> DataFrame:
    """Passage-level (substring) duplication report: per document, the
    merged token spans covered by k-word shingles occurring at least
    ``min_count`` times corpus-wide.

    The signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): document-level dedup misses boilerplate
    passages repeated inside otherwise-unique documents. Their suffix-array
    pass is re-expressed relationally so it distributes:

    1. positional k-shingles (one explode, no dedup),
    2. corpus-wide shingle frequency (keyed agg, map-side combinable),
    3. equi-join positions back to frequent shingles (reuses the agg's
       hash partitioning on the shingle key),
    4. gaps-and-islands merge per document: a window over (doc_id, pos)
       with a running max of span ends — positions whose shingle windows
       overlap or touch fuse into one passage.

    Returns (doc_id, span_start, span_end, n_shingles, max_occurrences)
    with 1-based inclusive token indexes. All-integer output — exactly
    reproducible on any engine/partitioning.

    Scale: shuffles are keyed on shingle (frequency skew bounded by
    min_count pruning happening IN the same agg) and doc_id (island
    window + final group share one partitioning). Nothing is quadratic;
    the frequent-shingle join output is |hot positions|, the quantity the
    report exists to measure.
    """
    ps = positional_shingles(df, id_col, text_col, k)
    freq = (
        ps.groupBy("shingle")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    hot = ps.join(freq, "shingle").select(
        "doc_id",
        "pos",
        (F.col("pos") + (k - 1)).alias("endpos"),
        "cnt",
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = hot.withColumn(
        "brk",
        F.when(
            F.col("pos")
            > F.coalesce(F.max("endpos").over(w_prev), F.lit(-1)) + 1,
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("brk").over(w_run))
    return flagged.groupBy("doc_id", "island").agg(
        F.min("pos").cast("long").alias("span_start"),
        F.max("endpos").cast("long").alias("span_end"),
        F.count("*").cast("long").alias("n_shingles"),
        F.max("cnt").cast("long").alias("max_occurrences"),
    ).drop("island")


def prefix_jaccard_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    t_num: int = 6,
    t_den: int = 10,
    k: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join: all document pairs whose k-shingle
    sets have Jaccard >= t_num/t_den — via PREFIX FILTERING (Bayardo et
    al. WWW'07 / PPJoin, Xiao et al.), the lossless alternative to
    MinHash banding: no false negatives by THEOREM, not by probability.

    Scheme: order every shingle by a GLOBAL total order (corpus
    frequency, rarest first, shingle text as tiebreaker); a pair with
    Jaccard >= t must share an element within each side's first
    ``n - ceil(t*n) + 1`` shingles, so only prefix-token collisions
    become candidates, and candidate volume tracks rare-token
    co-occurrence instead of |pairs|.

    Scale + determinism notes:

    - NO global rank window: each document sorts ITS OWN shingles by the
      broadcast-joined (freq, shingle) key — array_sort per row after
      one keyed join, so the global order is realized without ever
      ranking the vocabulary through a single task;
    - all threshold math is RATIONAL — prefix length uses the exact
      integer ceil ``(t_num*n + t_den - 1) div t_den`` and the final
      filter is ``t_den*|A∩B| >= t_num*|A∪B|`` — floats appear only in
      the reported jaccard value (one identical division per row), so a
      float-rounded ceil can never silently shorten a prefix (0.8*35 is
      28.000000000000004; ceil of THAT loses pairs);
    - the candidate self-join is the q117 two-projection style, not a
      checkpointed self-reference (PLANS.md round-4 journal item 15).
    """
    base = ensure_min_parallelism(df, F.col(id_col)).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("t")
    )
    # The exploded shingle frame feeds FOUR branches (frequency table,
    # per-doc ordering, both sides of the intersection join) and the
    # tokenize/shingle HOFs dominate its cost — persist it once (the q73
    # lesson: recomputing per branch measured 11.7s vs 4s at sf0.1).
    sh = (
        base.select("doc", F.explode(shingles_from_tokens("t", k)).alias("s"))
        .distinct()
        .persist()
    )
    freq = sh.groupBy("s").agg(F.count("*").alias("f"))
    ordered = (
        sh.join(freq, "s")
        .groupBy("doc")
        .agg(
            F.array_sort(F.collect_list(F.struct("f", "s"))).alias("os"),
            F.count("*").alias("n"),
        )
    )
    ceil_tn = F.expr(f"CAST(({t_num} * n + {t_den} - 1) DIV {t_den} AS INT)")
    prefix = ordered.select(
        "doc",
        "n",
        F.slice(
            F.transform(F.col("os"), lambda x: x["s"]),
            1,
            F.greatest(F.col("n").cast("int") - ceil_tn + 1, F.lit(1)),
        ).alias("pfx"),
    )
    pa = prefix.select(
        F.col("doc").alias("doc_a"),
        F.col("n").alias("na"),
        F.explode("pfx").alias("s"),
    )
    pb = prefix.select(
        F.col("doc").alias("doc_b"),
        F.col("n").alias("nb"),
        F.explode("pfx").alias("s"),
    )
    # PPJoin LENGTH FILTER inside the candidate join: Jaccard >= t forces
    # t*|A| <= |B| (and symmetrically), so wildly different set sizes
    # never become candidates.
    cand = (
        pa.join(pb, "s")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.lit(t_num) * F.greatest("na", "nb")
                <= F.lit(t_den) * F.least("na", "nb")
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Verification joins each candidate pair to the two per-doc shingle
    # arrays and intersects them JVM-side — |cand| rows of array ops
    # instead of re-joining the exploded shingle stream (|cand| x
    # set-size rows; measured 11.7s vs 6s at sf0.1). The arrays carry
    # xxhash64(shingle) LONGS, not the shingle strings: array_intersect
    # hashes every element of both sides per pair, and with ~190k
    # candidate pairs x hundreds of shingles the string hashing/equality
    # dominated the whole query (~200 CPU-seconds at sf0.1, the hottest
    # stage in the suite — guide §1/§2 per-task work). n_inter is the
    # count of DISTINCT shared shingles, which hashing preserves unless
    # two distinct shingles of one pair's union collide in 64 bits
    # (P ~ m^2/2^65 per doc, ~1e-13 at m=1000); the oracle sweep pins
    # exactness on the actual corpora. sort_array dropped too —
    # array_intersect is hash-based, the order was never used.
    docarr = sh.groupBy("doc").agg(
        F.collect_list(F.xxhash64("s")).alias("arr"),
        F.count("*").alias("n"),
    )
    return (
        cand.join(
            docarr.select(
                F.col("doc").alias("doc_a"),
                F.col("arr").alias("arr_a"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            docarr.select(
                F.col("doc").alias("doc_b"),
                F.col("arr").alias("arr_b"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn(
            "n_inter", F.size(F.array_intersect("arr_a", "arr_b"))
        )
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_inter"))
        .where(
            F.lit(t_den) * F.col("n_inter") >= F.lit(t_num) * F.col("n_union")
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n_union").cast("long").alias("n_union"),
            (F.col("n_inter") / F.col("n_union")).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def minhash_index_probe(
    history: DataFrame | None,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = MINHASH_SEEDS,
    bands: int = LSH_BANDS,
    history_index: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL dedup: probe a NEW batch against a historical corpus's
    band index — the production shape of continuous crawling, where each
    day's documents are checked against everything already ingested
    WITHOUT re-pairing the history against itself.

    Asymmetric banding: both sides get the standard banded MinHash
    signatures (identical hash family to minhash_lsh_pairs, so an
    offline index built by the batch pipeline is directly probe-able),
    and the join is new-side bands → history-side bands only. Cost per
    increment is |batch| signatures + one bucket join; the history term
    appears only through its (precomputable, storable) band index —
    pass ``history_index`` (a (doc_id, band_id, band_hash) frame, e.g.
    loaded by sinks/band_index.load_band_index) to probe a PERSISTED
    index without recomputing history signatures at all.

    Returns one row per batch document that HAS a signature:
    (id, n_bands, n_history_matches, matched_min_id NULLable, is_dup).
    """
    if history_index is not None:
        hist_idx = history_index
    elif history is not None:
        hist_idx = banded_signatures(
            history, id_col, text_col, k, n_hashes, bands
        )
    else:
        raise ValueError("need history or history_index")
    new_b = banded_signatures(
        batch, id_col, text_col, k, n_hashes, bands
    ).persist()
    hits = (
        new_b.join(
            hist_idx.select(
                "band_id", "band_hash", F.col("doc_id").alias("hist_id")
            ),
            ["band_id", "band_hash"],
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("hist_id").alias("n_history_matches"),
            F.min("hist_id").alias("matched_min_id"),
        )
    )
    probed = new_b.groupBy("doc_id").agg(F.count("*").alias("n_bands"))
    return (
        probed.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_bands").cast("long").alias("n_bands"),
            F.coalesce("n_history_matches", F.lit(0))
            .cast("long")
            .alias("n_history_matches"),
            F.col("matched_min_id").cast("long").alias("matched_min_id"),
            (F.coalesce("n_history_matches", F.lit(0)) > 0).alias("is_dup"),
        )
    )


def novelty_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """[EXT] Per-document NOVELTY: the fraction of a doc's distinct
    k-shingles whose FIRST occurrence (by ascending doc id — ingestion
    order) is the doc itself. The corpus-growth health metric crawl
    pipelines track (RefinedWeb-style): novelty collapsing toward zero
    means new batches are recombinations of text already held.

    Scale shape: one keyed aggregation assigns each shingle its first
    owner (MIN over doc ids — map-side combinable, state bounded by the
    distinct-shingle domain), one equi-join back on the shingle key, one
    per-doc count agg. The novelty ratio is a single division of exact
    int64 counts — bit-identical cross-engine.
    """
    sh = _exploded_shingles(df, id_col, text_col, k).persist()
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty_ratio",
            F.col("n_novel").cast("double")
            / F.col("n_shingles").cast("double"),
        )
    )
