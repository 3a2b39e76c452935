"""Corpus-preparation operators: test-set decontamination, sequence
packing, repetition/quality statistics, vocabulary heavy hitters.

These extend the reference's query surface the way a training-data
pipeline needs (SURVEY.md §2.14 north star): everything is built-in
expression composition — no Python in the hot path — and every
shuffle is a keyed partial-aggregate or a broadcast, so each operator
is a 1000-executor plan, not a driver loop.

Reference anchors: n-gram machinery parallels Hive's ngrams/
context_ngrams UDAFs (ql/.../udf/generic/GenericUDAFnGrams.java);
the prefix-sum is the distributed replacement for the reference's
single-reducer ROW_NUMBER trick (ql/.../udf/ptf/WindowingTableFunction.java).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import shingles_col, words_col
from .util import materialize


def kgrams_from_words(w: Column, k: int) -> Column:
    """ALL word k-grams in order (duplicates kept) from an ALREADY
    MATERIALIZED token-array column — the multiset twin of
    dedup.shingles_col's distinct set.

    Callers must project the token array into a real column first
    (``df.select(words_col(text).alias("w"))``): passing an
    expression tree inlines it into every ``element_at`` of the
    lambda — k copies of ``split`` per gram position, O(n²·k) per
    document (measured 20s → 0.6s on the sf0.1 gram scan)."""
    n = F.size(w)
    idx = F.sequence(F.lit(1), n - (k - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(w, i + off) for off in range(k)]
    )
    return F.when(n >= k, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def dup_kgram_ratio_gate(text: Column, k: int, max_ratio: float) -> Column:
    """Boolean repetition gate — dup-k-gram ratio ≤ max_ratio (empty
    gram list passes) — with the token array AND the gram array each
    bound ONCE as lambda variables.

    Why the binding matters: phrasing this as withColumn(_g2)/filter
    lets predicate pushdown substitute the alias into the pushed
    filter, duplicating the interpreted higher-order gram transform
    per reference (no codegen CSE for lambda expressions — 3 gram
    computes per row in corpus_clean_v2's pushed scan filter).
    Bound lambda variables survive any pushdown verbatim."""

    def decide(g: Column) -> Column:
        n = F.size(g)
        return (n == 0) | (
            1 - F.size(F.array_distinct(g)).cast("double") / n <= max_ratio
        )

    return F.element_at(
        F.transform(
            F.array(words_col(text)),
            lambda w: F.element_at(
                F.transform(F.array(kgrams_from_words(w, k)), decide), 1
            ),
        ),
        1,
    )


def kgrams_all(text: Column, k: int) -> Column:
    """kgrams over a raw text column, with the token array bound once
    as a lambda variable (same O(n²k)-avoiding trick as
    dedup.shingles_col) — safe in any expression context. Plans that
    explode grams may still prefer the explicit two-step
    kgrams_from_words projection for plan readability."""
    return F.element_at(
        F.transform(
            F.array(words_col(text)), lambda w: kgrams_from_words(w, k)
        ),
        1,
    )


# ---------------------------------------------------------------------------
# test-set decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Flag corpus documents whose k-gram overlap with an evaluation
    set exceeds ``threshold`` (benchmark-contamination detection).

    Scale shape: the eval side collapses to DISTINCT k-gram hashes —
    a few million longs even for a large benchmark suite — and is
    broadcast; the corpus side is one explode + one hash per gram and
    a map-side join, then a keyed partial aggregate on ``id_col``.
    No shuffle ever carries gram strings, only 8-byte hashes.

    Output per corpus doc: total distinct grams, matched grams,
    contamination fraction, flag.
    """
    from .util import ensure_parallelism

    # Shingling + hashing is CPU-bound: re-split under-split scans
    # so the explode runs on every core (no-op at warehouse scale).
    grams = ensure_parallelism(corpus).select(
        F.col(id_col),
        F.explode(shingles_col(F.col(text_col), k)).alias("gram"),
    ).select(id_col, F.xxhash64("gram").alias("gh"))
    eval_hashes = (
        ensure_parallelism(eval_df)
        .select(F.explode(shingles_col(F.col(text_col), k)).alias("gram"))
        .select(F.xxhash64("gram").alias("gh"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    joined = grams.join(F.broadcast(eval_hashes), "gh", "left")
    per_doc = joined.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.count("hit").alias("n_matched"),
    )
    frac = F.col("n_matched").cast("double") / F.col("n_grams")
    return per_doc.select(
        id_col,
        "n_grams",
        "n_matched",
        F.round(frac, 6).alias("contamination"),
        (frac >= threshold).alias("is_contaminated"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination prefilter
# ---------------------------------------------------------------------------

# Power-of-two bit count: position extraction is a multiply + shift
# (multiplicative hashing — Knuth §6.4); 2^20 bits = 128 KiB per
# filter, ~5 bits/element headroom for a million-gram eval suite.
BLOOM_M_BITS = 1 << 20
BLOOM_K = 5
# Odd 64-bit multipliers (golden-ratio family); odd ⇒ bijective
# mod 2^64, so the k probes stay decorrelated.
_BLOOM_MULTS = (
    0x9E3779B97F4A7C15,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x27D4EB2F165667C5,
    0x85EBCA77C2B2AE63,
)


def _bloom_positions(u, m_bits: int, k: int):
    """k bit positions for uint64 hash array ``u`` (numpy, wraparound
    multiply then top bits — identical on build and probe side)."""
    shift = np.uint64(64 - int(m_bits).bit_length() + 1)
    return [
        ((u * np.uint64(m)) >> shift) & np.uint64(m_bits - 1)
        for m in _BLOOM_MULTS[:k]
    ]


def bloom_build(
    hashes: DataFrame, hash_col: str = "gh",
    m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K,
):
    """Build a Bloom filter over a DataFrame of 64-bit hashes,
    returning a numpy uint64 word array of fixed size m_bits/64.

    Distributed the way ``spark.util.sketch.BloomFilter`` does it
    (treeAggregate of fixed-size bitsets): each hash explodes to its
    k positions via an Arrow-batched pandas UDF, positions OR into
    per-word masks with a keyed BIT_OR aggregate (map-side combine ⇒
    at most m_bits/64 rows per partition shuffle), and the driver
    collects ≤ m_bits/64 rows — bounded by the FILTER size, never by
    the input size. 10⁹ eval grams still collect 16 Ki rows."""
    @F.pandas_udf("array<int>")
    def positions(gh: pd.Series) -> pd.Series:
        u = gh.to_numpy(dtype=np.int64, na_value=0).astype(np.uint64)
        pos = _bloom_positions(u, m_bits, k)
        return pd.Series(np.stack(pos, axis=1).astype(np.int64).tolist())

    rows = (
        hashes.select(F.explode(positions(F.col(hash_col))).alias("pos"))
        .select(
            F.expr("pos DIV 64").cast("int").alias("word_idx"),
            # shiftleft() the function form takes a literal count only;
            # the SQL form shifts by a column.
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("mask"))
        .collect()
    )
    arr = np.zeros(m_bits // 64, dtype=np.uint64)
    for r in rows:
        arr[r.word_idx] = np.uint64(r.mask & 0xFFFFFFFFFFFFFFFF)
    return arr


def bloom_contains_col(bloom_words, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K):
    """Column function: membership probe against a built filter. The
    word array rides to executors inside the UDF closure (128 KiB —
    one copy per worker, Arrow batches through it vectorized)."""
    @F.pandas_udf("boolean")
    def contains(gh: pd.Series) -> pd.Series:
        u = gh.to_numpy(dtype=np.int64, na_value=0).astype(np.uint64)
        ok = np.ones(len(u), dtype=bool)
        for pos in _bloom_positions(u, m_bits, k):
            ok &= (
                (bloom_words[(pos >> np.uint64(6)).astype(np.int64)]
                 >> (pos & np.uint64(63)))
                & np.uint64(1)
            ).astype(bool)
        return pd.Series(ok)

    return contains


def decontaminate_bloom(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
    m_bits: int = BLOOM_M_BITS,
) -> DataFrame:
    """``decontaminate`` with a Bloom prefilter — same output, built
    for the regime where the eval gram set is too big to broadcast as
    an exact hash table (a full benchmark battery reaches 10⁸ grams =
    GBs; the Bloom stays 128 KiB at any cardinality).

    Three-phase: (1) build the filter from eval gram hashes (bounded
    collect — see bloom_build); (2) corpus gram hashes probe it
    vectorized, discarding the overwhelming majority map-side; (3)
    survivors — true matches plus the ~FP-rate sliver — are confirmed
    with an exact semi join against the eval hashes, so false
    positives never reach the output and results are IDENTICAL to
    exact ``decontaminate`` (the oracle is shared; the FP-rate
    property is pinned in tests/test_corpus.py). The confirm join's
    input is tiny post-filter, which is the whole point at 100 TB.

    Both hash tables are persisted for the run (last call only,
    ``util.materialize``): the corpus grams feed the per-doc totals
    AND the probe/confirm path, and the eval hashes feed the filter
    build (an action) AND the confirm semi join — without the
    persists each explode+xxhash64 pass ran twice per query at any
    scale."""
    from .util import ensure_parallelism

    grams = materialize(
        ensure_parallelism(corpus).select(
            F.col(id_col),
            F.explode(shingles_col(F.col(text_col), k)).alias("gram"),
        ).select(id_col, F.xxhash64("gram").alias("gh")),
        "corpus.bloom_grams",
    )
    eval_hashes = materialize(
        ensure_parallelism(eval_df)
        .select(F.explode(shingles_col(F.col(text_col), k)).alias("gram"))
        .select(F.xxhash64("gram").alias("gh"))
        .distinct(),
        "corpus.bloom_eval_hashes",
    )
    bloom = bloom_build(eval_hashes, m_bits=m_bits)
    candidates = grams.filter(bloom_contains_col(bloom, m_bits)(F.col("gh")))
    confirmed = candidates.join(eval_hashes, "gh", "left_semi")
    totals = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    matches = confirmed.groupBy(id_col).agg(F.count("*").alias("n_matched"))
    joined = totals.join(matches, id_col, "left").fillna({"n_matched": 0})
    frac = F.col("n_matched").cast("double") / F.col("n_grams")
    return joined.select(
        id_col,
        "n_grams",
        "n_matched",
        F.round(frac, 6).alias("contamination"),
        (frac >= threshold).alias("is_contaminated"),
    )


# ---------------------------------------------------------------------------
# distributed prefix sum + sequence packing
# ---------------------------------------------------------------------------


def distributed_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum_before",
    block_size: int = 4096,
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``value_col`` in ``order_col`` order
    without a single-partition global window.

    Two-phase scan: (1) cumsum within ``order_col DIV block_size``
    blocks — a window PARTITIONED by block, so it parallelizes across
    executors; (2) per-block totals (one row per block — tiny) get an
    exclusive block-offset cumsum and broadcast-join back. The classic
    Blelloch scan mapped onto DataFrame ops: a 100 TB corpus prefix-sums
    in two map passes + one broadcast, where the naive
    ``Window.orderBy(...)`` (Hive PTF single reducer,
    ql/.../udf/ptf/WindowingTableFunction.java) funnels everything
    through one task.

    ``order_col`` must be unique and numeric (row ids / doc ids).
    """
    block = (F.col(order_col).cast("long") / F.lit(block_size)).cast("long")
    w_in = (
        Window.partitionBy("_blk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_blk = df.withColumn("_blk", block)
    in_block = with_blk.withColumn(
        "_cum_in", F.coalesce(F.sum(value_col).over(w_in), F.lit(0))
    )
    totals = with_blk.groupBy("_blk").agg(F.sum(value_col).alias("_tot"))
    # One row per block: at 100 TB / 4096-row blocks this is still
    # ~millions of rows — keep the window partitioned by a coarse
    # super-block and iterate? Not needed: a second-level exclusive
    # sum over block totals is itself tiny (collected row count =
    # n_blocks), and n_blocks is bounded by rows/block_size; for
    # truly unbounded inputs recurse. Here one level + a small
    # single-partition window over block totals is the right trade.
    w_blk = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_tot").over(w_blk), F.lit(0))
    ).select("_blk", "_off")
    return (
        in_block.join(F.broadcast(offsets), "_blk")
        .withColumn(out_col, (F.col("_cum_in") + F.col("_off")).cast("long"))
        .drop("_blk", "_cum_in")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ctx_len: int = 512,
    block_size: int = 4096,
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end-to-end in
    ``id_col`` order and cut the token stream into ``ctx_len`` bins —
    the standard LLM pretraining packing strategy.

    Per doc: its token count, start offset in the global stream, the
    bin its first token lands in, and whether it straddles a bin
    boundary (would be split across training sequences).
    """
    from .textstats import token_count

    toks = df.select(
        F.col(id_col), token_count(F.col(text_col)).alias("n_tokens")
    )
    cum = distributed_prefix_sum(
        toks, id_col, "n_tokens", out_col="start_offset", block_size=block_size
    )
    # Integer division, not double-divide-then-cast: double math loses
    # exactness past 2^53 total tokens. greatest(n_tokens, 1) keeps the
    # numerator non-negative (a 0-token doc occupies its start bin), so
    # truncating DIV and floor division agree for every input.
    start_bin = F.expr(f"start_offset DIV {int(ctx_len)}")
    end_bin = F.expr(
        f"(start_offset + greatest(n_tokens, 1) - 1) DIV {int(ctx_len)}"
    )
    return cum.select(
        id_col,
        F.col("n_tokens").cast("bigint"),
        "start_offset",
        start_bin.alias("bin_id"),
        (start_bin != end_bin).alias("crosses_boundary"),
    )


def packing_stats(packed: DataFrame, ctx_len: int = 512) -> DataFrame:
    """Per-bin fill statistics over a pack_sequences assignment:
    docs starting in the bin, tokens contributed by them, fill ratio
    of docs fully contained. Keyed partial agg — scale-free."""
    return packed.groupBy("bin_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum(F.when(~F.col("crosses_boundary"), F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("contained_tokens"),
    )


# ---------------------------------------------------------------------------
# repetition / diversity statistics (Gopher-style quality rules)
# ---------------------------------------------------------------------------


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition signals used by Gopher/C4-style
    filters: distinct-word ratio, most-frequent-word share, duplicate
    2-gram fraction.

    The word-share part is one explode + (id, word) partial agg +
    (id) partial agg — two keyed shuffles that both combine map-side.
    The 2-gram fraction never leaves the row: ALL-grams vs distinct
    grams sizes are computed inline with array expressions.
    """
    from .util import ensure_parallelism

    par = ensure_parallelism(df)
    words = par.select(
        F.col(id_col), F.explode(words_col(F.col(text_col))).alias("w")
    )
    per_word = words.groupBy(id_col, "w").agg(F.count("*").alias("c"))
    shares = per_word.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    g2_all = kgrams_from_words(F.col("_w"), 2)
    inline = par.select(
        F.col(id_col), words_col(F.col(text_col)).alias("_w")
    ).select(
        F.col(id_col),
        F.size(g2_all).alias("n_2grams"),
        F.size(F.array_distinct(g2_all)).alias("n_distinct_2grams"),
    )
    return (
        shares.join(inline, id_col)
        .select(
            id_col,
            F.col("n_words").cast("bigint"),
            F.round(
                F.col("n_distinct").cast("double") / F.col("n_words"), 6
            ).alias("distinct_word_ratio"),
            F.round(
                F.col("top_count").cast("double") / F.col("n_words"), 6
            ).alias("top_word_share"),
            F.when(
                F.col("n_2grams") > 0,
                F.round(
                    1
                    - F.col("n_distinct_2grams").cast("double")
                    / F.col("n_2grams"),
                    6,
                ),
            )
            .otherwise(0.0)
            .alias("dup_2gram_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# vocabulary heavy hitters
# ---------------------------------------------------------------------------


def top_ngrams(
    df: DataFrame,
    text_col: str = "text",
    k: int = 2,
    top: int = 20,
) -> DataFrame:
    """Global most-frequent word k-grams (corpus vocabulary heavy
    hitters). Explode + keyed count (map-side combine collapses the
    per-partition gram space before the shuffle) + TakeOrdered top-k —
    the exact-count analogue of Hive's ngrams() UDAF estimator
    (ql/.../udf/generic/GenericUDAFnGrams.java), scale-safe because
    the shuffle carries one row per distinct gram per partition."""
    from .util import ensure_parallelism

    grams = ensure_parallelism(df).select(
        words_col(F.col(text_col)).alias("_w")
    ).select(F.explode(kgrams_from_words(F.col("_w"), k)).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count("*").cast("bigint").alias("occurrences"))
        .orderBy(F.desc("occurrences"), F.asc("gram"))
        .limit(top)
    )


# ---------------------------------------------------------------------------
# deterministic train/holdout split
# ---------------------------------------------------------------------------


def train_holdout_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    holdout_pct: int = 5,
    salt: str = "split-v1",
) -> DataFrame:
    """Reproducible content-hash split: bucket = first 8 hex chars of
    md5(salt || text) as an int mod 100; the top ``holdout_pct``
    buckets are held out. Content-keyed (not id-keyed) so exact
    duplicates land on the same side — no train/holdout leakage via
    copies — and md5 is engine-portable, so any system (or the DuckDB
    oracle) re-derives the identical split. Map-only: no shuffle, no
    RNG state, stable under repartitioning and re-runs."""
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), F.col(text_col))), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return df.select(
        F.col(id_col),
        bucket.cast("int").alias("bucket"),
        F.when(bucket >= 100 - holdout_pct, F.lit("holdout"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def doc_chunks(
    df: DataFrame, id_col: str, text_col: str, chunk_words: int
) -> DataFrame:
    """(_id, chunk_idx, chunk) — fixed ``chunk_words``-word chunks of
    lowercased text, built in-array (slice — no per-word explode) and
    flattened by ONE posexplode. The testdata has no newlines, so a
    chunk stands in for a "line"; the shuffle shape downstream is the
    same either way."""

    def chunks_of(w):
        # w is a BOUND lambda variable (materialized once) — closing
        # over the raw split() expression would re-split per chunk
        n_chunks = F.ceil(F.size(w) / F.lit(chunk_words)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(w, i * chunk_words + 1, chunk_words)
            ),
        )

    return df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.element_at(
                F.transform(F.array(words_col(F.col(text_col))), chunks_of), 1
            )
        ).alias("chunk_idx", "chunk"),
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_words: int = 10,
) -> DataFrame:
    """Corpus-global line-level dedup (the C4/RefinedWeb recipe: a
    boilerplate line repeated across pages is kept once, corpus-wide).
    The testdata has no newlines, so a "line" is a fixed
    ``chunk_words``-word chunk — same shuffle shape as real lines.

    Plan: chunk in-array (slice — no per-word explode), ONE explode
    to (doc, chunk_idx, chunk), ONE hash shuffle partitioned by chunk
    text where row_number over (doc_id, chunk_idx) keeps the first
    occurrence, then rebuild each doc ordered by chunk_idx. At 100 TB
    this is exactly one exchange on the line hash plus one on doc_id
    — the known-scalable shape — and skew (a line repeated millions
    of times) only affects the degenerate key's partition, which AQE
    splits; the row_number window needs no global sort.

    Output: (id, text_clean, n_kept) — docs whose every chunk was a
    repeat drop out entirely (both engines derive this the same way).
    """
    chunks = doc_chunks(df, id_col, text_col, chunk_words)
    first = (
        chunks.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("chunk").orderBy("_id", "chunk_idx")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        first.groupBy("_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "chunk"))
                    ),
                    lambda s: s["chunk"],
                ),
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .withColumnRenamed("_id", id_col)
    )


def boilerplate_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_words: int = 10,
    min_docs: int = 3,
    max_doc_frac: float = 0.005,
) -> DataFrame:
    """C4-style boilerplate removal by document frequency: a chunk
    ("line") that appears in ≥ max(min_docs, ceil(max_doc_frac ·
    n_docs)) DISTINCT documents is navigation/footer/licence
    boilerplate and is dropped from EVERY document — unlike
    :func:`line_dedup`, which keeps the first occurrence. The two are
    complementary recipe stages (C4 drops repeated lines outright;
    RefinedWeb keeps one), so both are first-class here.

    Plan (three keyed exchanges, no driver state):
      1. chunk explode (shared :func:`doc_chunks` shape);
      2. per-chunk DF via ``countDistinct(_id)`` — Catalyst plans
         the standard two-phase distinct-aggregate on the chunk hash;
      3. the corpus doc count joins as a broadcast scalar (1 row),
         the surviving boilerplate set is LEFT-joined back on the
         chunk hash as a null-flag, and docs rebuild on ``_id``.
    At 100 TB the boilerplate set is tiny (only chunks crossing the
    DF threshold) but is still joined hash-keyed, never collected;
    mega-repeated chunks are single hot keys that AQE splits.

    Output: (id, text_clean NULL-when-everything-dropped, n_kept,
    n_dropped) — deterministic in any engine.
    """
    chunks = doc_chunks(df, id_col, text_col, chunk_words)
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("_n_docs")
    )
    threshold = F.greatest(
        F.lit(min_docs),
        F.ceil(F.col("_n_docs") * F.lit(max_doc_frac)).cast("long"),
    )
    boiler = (
        chunks.groupBy("chunk")
        .agg(F.countDistinct("_id").alias("_df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("_df") >= threshold)
        .select("chunk", F.lit(True).alias("_boiler"))
    )
    flagged = chunks.join(boiler, "chunk", "left")
    kept_text = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_boiler").isNull(),
                        F.struct("chunk_idx", "chunk"),
                    )
                )
            ),
            lambda s: s["chunk"],
        ),
    )
    n_kept = F.sum(
        F.when(F.col("_boiler").isNull(), 1).otherwise(0)
    ).alias("n_kept")
    return (
        flagged.groupBy("_id")
        .agg(
            kept_text.alias("_text"),
            n_kept,
            F.sum(
                F.when(F.col("_boiler").isNull(), 0).otherwise(1)
            ).alias("n_dropped"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.when(F.col("n_kept") > 0, F.col("_text")).alias(
                "text_clean"
            ),
            "n_kept",
            "n_dropped",
        )
    )


def canonical_url_col(url: Column) -> Column:
    """Canonical URL form — the key every crawl pipeline dedups on
    (C4/CCNet keep one document per URL; raw crawl URLs differ in
    case, tracking params, fragments, and trailing slashes while
    naming the same page). Rules, all pure JVM regex/string exprs:

    - strip the ``#fragment``;
    - lowercase scheme and authority ONLY (paths are case-sensitive
      by spec and stay untouched);
    - drop default ports ``:80``/``:443``;
    - remove tracking parameters (``utm_*``, ``fbclid``, ``gclid``)
      wherever they sit in the query string, then tidy dangling
      ``?``/``&`` separators;
    - strip trailing slashes from query-less URLs (a slash before a
      surviving query string is path data and is kept).

    The regex subset is RE2 ∩ java.util.regex with no backreferences,
    so a DuckDB oracle runs the identical patterns."""
    u = F.regexp_replace(url, r"#.*$", "")
    authority = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0)
    rest = F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    authority = F.regexp_replace(F.lower(authority), r":(80|443)$", "")
    # Two separator-anchored stages (RE2-safe — no lookbehind, so
    # the DuckDB oracle runs the identical patterns): an unanchored
    # pattern would also eat the TAIL of an unrelated parameter whose
    # name merely ends in a tracked one ('?afbclid=1' -> '?a',
    # falsely deduplicating distinct pages). Stage 1 strips '&'-led
    # tracking params; stage 2 strips a leading '?tracking=...&',
    # keeping the '?' for whatever parameter survives.
    rest = F.regexp_replace(
        rest, r"&(utm_[a-z]+|fbclid|gclid)=[^&#]*", ""
    )
    rest = F.regexp_replace(
        rest, r"\?(utm_[a-z]+|fbclid|gclid)=[^&#]*&?", "?"
    )
    rest = F.regexp_replace(rest, r"[?&]+$", "")
    rest = F.when(
        rest.contains("?"), rest
    ).otherwise(F.regexp_replace(rest, r"/+$", ""))
    return F.concat(authority, rest)


def url_dedup_groups(
    df: DataFrame, id_col: str, url_col: str
) -> DataFrame:
    """URL-level dedup report: one row per canonical URL appearing
    under ≥ 2 raw URLs/documents — (canonical_url, keep_id = min id,
    n_copies). ONE hash aggregate on the canonical key; at 100 TB
    this is the cheapest dedup tier and runs before any content
    hashing."""
    return (
        df.select(
            F.col(id_col), canonical_url_col(F.col(url_col)).alias(
                "canonical_url"
            )
        )
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") >= 2)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Corpus snapshot diff — the ops primitive behind incremental
    re-crawls: classify every document id across two corpus versions
    as ``added`` (only in new), ``removed`` (only in old), or
    ``changed`` (same id, different content), comparing CONTENT by
    md5 so a re-crawled identical page never counts as churn.
    Unchanged docs are filtered out (at 100 TB they are ~all rows —
    emitting them would make the diff corpus-sized instead of
    churn-sized).

    Plan: each side reduces to (id, md5) map-side — the text column
    never crosses the exchange, only 32-byte digests — then ONE
    full-outer hash join on the id. Output (id, status).
    """
    # Presence comes from explicit markers, never from hash
    # nullability: md5(NULL text) is NULL, so a hash-based presence
    # test would classify a present-in-both doc with NULL old text
    # as "added" (and NULL new text as "removed"). The hashes
    # compare null-safely, so NULL <-> non-NULL counts as changed
    # and NULL <-> NULL as unchanged.
    o = old.select(
        F.col(id_col).alias("_id"),
        F.md5(F.col(text_col)).alias("_ho"),
        F.lit(True).alias("_po"),
    )
    n = new.select(
        F.col(id_col).alias("_id"),
        F.md5(F.col(text_col)).alias("_hn"),
        F.lit(True).alias("_pn"),
    )
    return (
        o.join(n, "_id", "full_outer")
        .select(
            F.col("_id").alias(id_col),
            F.when(F.col("_po").isNull(), F.lit("added"))
            .when(F.col("_pn").isNull(), F.lit("removed"))
            .when(~F.col("_ho").eqNullSafe(F.col("_hn")), F.lit("changed"))
            .alias("status"),
        )
        .filter(F.col("status").isNotNull())
    )


def redact_pii(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """PII scrubbing for training corpora: email / simple phone
    patterns replaced with typed placeholder tokens, counts reported
    per doc. Pure JVM regexp (codegen, no UDF); patterns restricted
    to the RE2-compatible subset so the DuckDB oracle runs the exact
    same expressions."""
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\b\d{3}-\d{4}\b"
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_replace(
            F.regexp_replace(t, email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("text_redacted"),
        F.size(F.regexp_extract_all(t, F.lit(email), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(t, F.lit(phone), F.lit(0))).alias(
            "n_phones"
        ),
    )


# ---------------------------------------------------------------------------
# repeated-span statistics (substring-level dedup signal)
# ---------------------------------------------------------------------------


def span_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of tokens
    lying inside a word ``k``-gram that occurs ≥ ``min_count`` times
    anywhere in the corpus (including within the same document) —
    the filtering signal behind substring-level dedup ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022,
    which removes repeated ≥50-token spans; ``k`` plays the span-seed
    length). Output: (id, n_tokens, dup_tokens, dup_ratio).

    Scale shape: grams travel as 8-byte xxhash64 values, never as
    strings — one explode + one hash-keyed groupBy (map-side combine)
    finds the duplicated hashes, one shuffle hash join flags each
    occurrence. Coverage is then computed WITHOUT exploding the k
    covered positions: a per-doc window ordered by gram start keeps a
    running max of span ends, and each flagged gram contributes
    ``max(0, (pos+k) - max(prev_end, pos))`` new covered tokens —
    O(#dup-grams) rows through one keyed window, exact interval-union
    arithmetic. 64-bit hash collisions mis-flag a gram with
    probability ~n²/2⁶⁴ — negligible against any real corpus size.
    """
    w = words_col(F.col(text_col))
    toks = df.select(F.col(id_col).alias("_id"), w.alias("_w"))
    grams = toks.select(
        "_id",
        F.posexplode(kgrams_from_words(F.col("_w"), k)).alias("pos", "gram"),
    ).select("_id", "pos", F.xxhash64("gram").alias("h"))
    dup_h = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("h")
    )
    hits = grams.join(dup_h, "h").select("_id", "pos")
    win = (
        Window.partitionBy("_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + k).over(win)
    add = F.greatest(
        F.lit(0),
        F.col("pos") + k - F.greatest(F.coalesce(prev_end, F.col("pos")), F.col("pos")),
    )
    cov = hits.select("_id", add.alias("add")).groupBy("_id").agg(
        F.sum("add").alias("dup_tokens")
    )
    base = df.select(F.col(id_col).alias("_id"), F.size(w).alias("n_tokens"))
    return (
        base.join(cov, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
                6,
            ).alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# domain mixing (temperature-weighted sampling plan)
# ---------------------------------------------------------------------------


def mix_temperature(
    df: DataFrame,
    domain_col: str = "source",
    alpha: float = 0.5,
    budget: int = 100_000,
) -> DataFrame:
    """Temperature-weighted domain mixing plan: sampling weight per
    domain ∝ count^alpha (alpha<1 up-weights small domains — the
    multilingual/temperature-sampling recipe of mT5/XLM-R), plus the
    integer document budget allocated to each domain.

    One tiny aggregate (domains number in the dozens even at 100 TB);
    everything after the groupBy is driver-scale arithmetic kept in
    the plan. pow() results are rounded to 6 dp and accumulated as
    DECIMAL(38,6) so the normalizing sum is exact and
    order-independent — both engines derive bit-identical weights.
    """
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    wa = F.round(F.pow(F.col("n_docs").cast("double"), F.lit(alpha)), 6).cast(
        "decimal(38,6)"
    )
    tot = counts.select(F.sum(wa).alias("tot"))
    out = counts.withColumn("wa", wa).crossJoin(F.broadcast(tot))
    weight = F.col("wa").cast("double") / F.col("tot").cast("double")
    return out.select(
        "domain",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(weight, 6).alias("weight"),
        F.floor(weight * budget).cast("long").alias("target_docs"),
    )


# ---------------------------------------------------------------------------
# deterministic global shuffle (training-order assignment)
# ---------------------------------------------------------------------------


def shuffle_seeded(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "shuffle-v1",
    n_shards: int = 8,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Seeded deterministic global shuffle for training order:
    shard = md5(seed || id) mod n_shards, position-in-shard = rank of
    the same md5 key within the shard. Reading shards 0..n-1 in
    position order yields a fixed pseudo-random permutation of the
    corpus — reproducible on any engine, any partitioning, any run
    (no RNG state; md5 is the permutation).

    Scale shape: one hash shuffle into shards, one per-shard window
    for positions — never a global single-partition sort. Shard
    count scales with the cluster; at 100 TB you'd set n_shards to
    O(output files) and each window sorts ~1/n_shards of the keys.
    ``carry`` columns ride along through the shuffle so pipelines can
    keep payloads (cleaned text) without a join-back that would
    re-evaluate the upstream subtree.
    """
    key = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % n_shards
    ).cast("int")
    keyed = df.select(
        F.col(id_col), key.alias("skey"), shard.alias("shard"),
        *[F.col(c) for c in carry]
    )
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("skey", id_col)
    )
    return keyed.select(
        id_col, "shard", (pos - 1).cast("long").alias("pos"), *carry
    )


def span_mask(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    min_count: int = 2,
) -> DataFrame:
    """Remove duplicated spans from the corpus: every token covered
    by a word ``k``-gram occurring ≥ ``min_count`` times corpus-wide
    is dropped, the survivors rejoin into the cleaned text — the
    destructive twin of span_dup_stats (Lee et al. 2022 §4 removes
    such spans before training; like their ExactSubstr they drop ALL
    occurrences, which over-removes vs keep-first but needs no global
    occurrence ordering). Output: (id, text_clean, n_kept,
    n_removed).

    Scale shape: same hash-keyed dup-gram flagging as span_dup_stats
    (grams shuffle as 8-byte hashes); covered positions explode only
    for FLAGGED grams (bounded k× on dup rows, not the corpus); the
    rebuild is one doc-keyed aggregate with an in-place
    ``array_sort`` — order restored per doc without a sort shuffle.
    """
    w = words_col(F.col(text_col))
    toks0 = df.select(F.col(id_col).alias("_id"), w.alias("_w"))
    # Persist the narrow (id, pos, h) gram table: it feeds the dup-set
    # aggregate AND the cover join, so without the persist the k-gram
    # posexplode + hash ran twice per action (r14 A/B at sf0.1: 2.4s
    # -> 2.1s warm, and one corpus-wide gram explode saved per action
    # at any scale).
    grams = materialize(
        toks0.select(
            "_id",
            F.posexplode(kgrams_from_words(F.col("_w"), k)).alias("pos", "gram"),
        ).select("_id", "pos", F.xxhash64("gram").alias("h")),
        "corpus.span_grams",
    )
    dup_h = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("h")
    )
    covered = (
        grams.join(dup_h, "h")
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    tokens = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(w).alias("pos", "tok"),
    )
    kept = tokens.join(covered, ["_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = df.select(F.col(id_col).alias("_id"), F.size(w).alias("n_tokens"))
    return base.join(rebuilt, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def pack_ffd(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ctx_len: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """First-fit-decreasing bin packing for training sequences: docs
    that would straddle a concat-and-chunk boundary (pack_sequences'
    ``crosses_boundary``) instead go whole into the first bin with
    room — no document is ever split, at the cost of some padding
    waste. The waste/split trade-off is the standard packing decision
    for instruction-tuning corpora (where truncation hurts most).

    Deterministic-distributed shape: docs hash into ``n_shards`` md5
    shards (the shuffle_seeded trick — no RNG, partition-invariant),
    FFD runs per shard in one Arrow batch (sort by tokens desc, ties
    by id; first fit), and bin ids are (shard, local_bin). Bins never
    cross shards, so shards pack independently — the embarrassingly
    parallel form used at warehouse scale; global FFD is inherently
    sequential and its marginal waste reduction is negligible for
    n_docs ≫ n_shards. Docs longer than ``ctx_len`` get a bin alone
    (flagged oversize, they'd be truncated downstream).

    Output: (id, n_tokens, shard, bin_id, oversize).
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .textstats import token_count

    out_schema = StructType(
        [
            StructField("_id_str", StringType()),
            StructField("n_tokens", LongType()),
            StructField("shard", IntegerType()),
            StructField("bin_id", LongType()),
            StructField("oversize", BooleanType()),
        ]
    )

    key = F.md5(F.concat(F.lit("pack-ffd"), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % n_shards
    ).cast("int")
    toks = df.select(
        # string id: the FFD tie-break (same token count) must sort
        # identically on any engine — native int vs lexicographic
        # ordering would diverge
        F.col(id_col).cast("string").alias("_id"),
        token_count(F.col(text_col)).alias("n_tokens"),
        shard.alias("shard"),
    ).repartition(n_shards, "shard")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one shard == one partition after the repartition; a
        # partition may still hold several shards if n_shards >
        # partitions, so group by shard explicitly
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        for sh, grp in pdf.groupby("shard", sort=True):
            order = grp.sort_values(
                ["n_tokens", "_id"], ascending=[False, True]
            )
            bins: list[int] = []  # remaining capacity per bin
            rows = {k: [] for k in out_schema.fieldNames()}
            for _id, n in zip(order["_id"], order["n_tokens"]):
                n = int(n)
                oversize = n > ctx_len
                placed = None
                if not oversize:
                    for b, cap in enumerate(bins):
                        if cap >= n:
                            placed = b
                            break
                if placed is None:
                    bins.append(0 if oversize else ctx_len)
                    placed = len(bins) - 1
                    if not oversize:
                        bins[placed] -= n
                else:
                    bins[placed] -= n
                rows["_id_str"].append(str(_id))
                rows["n_tokens"].append(n)
                rows["shard"].append(int(sh))
                rows["bin_id"].append(placed)
                rows["oversize"].append(oversize)
            yield pd.DataFrame(rows)

    return toks.mapInPandas(kernel, out_schema).select(
        F.col("_id_str").alias(id_col),
        "n_tokens",
        "shard",
        "bin_id",
        "oversize",
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Sliding-window document chunking with overlap — the standard
    context-window preparation for retrieval indexes and
    long-document training (each chunk fits the model window;
    ``overlap`` tokens of shared context keep boundary sentences
    retrievable from both sides).

    Chunk ``i`` covers tokens ``[i*stride, i*stride + chunk_tokens)``
    with ``stride = chunk_tokens - overlap``; the last chunk may be
    shorter, every token is covered, consecutive chunks share exactly
    ``overlap`` tokens. A doc of ≤ chunk_tokens yields itself as one
    chunk (whitespace split of an empty string is one empty token, so
    even an empty doc yields one chunk; callers gate on chunk_text if
    they want those dropped).

    Scale: map-only — tokenize once, one ``explode(sequence)``,
    ``slice`` per chunk; output rows ∝ n_tokens/stride, no shuffle,
    no Python. Chunk ids are deterministic, so re-chunking an
    appended corpus never renumbers existing chunks.

    Output: (id, chunk_id, n_chunk_tokens, chunk_text).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap}"
            f"/{chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    toks = df.select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("_w"),
    ).withColumn("_n", F.size("_w"))
    # number of chunks: 1 + floor(max(0, n - chunk_tokens + stride - 1) / stride)
    n_chunks = (
        F.lit(1)
        + F.floor(
            F.greatest(
                F.col("_n") - chunk_tokens + stride - 1, F.lit(0)
            )
            / stride
        ).cast("int")
    )
    ch = toks.select(
        id_col,
        "_w",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * stride
    piece = F.slice(F.col("_w"), start + 1, chunk_tokens)
    return ch.select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(piece).cast("int").alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def exact_proportion_split(
    df: DataFrame,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    *,
    pcts: tuple[int, int, int] = (80, 10, 10),
    salt: str = "split3-v1",
) -> DataFrame:
    """Three-way train/val/test split with EXACT per-stratum counts
    via LARGEST-REMAINDER allocation (Hamilton's method) — the
    eval-set construction rule when "5% holdout" must mean exactly
    floor-or-ceil(0.05·n) per stratum, not a binomial draw around it
    (train_holdout_split's hash buckets give proportions only in
    expectation; a 40-doc language can easily lose 0 or 4 docs to a
    5% bucket split).

    Integer arithmetic end to end: base_b = floor(n·p_b/100), the
    r = n − Σbase leftover seats go to the largest remainders
    (n·p_b mod 100) with ties broken train > val > test — every
    quantity an engine-portable expression, no floats anywhere.
    Docs rank inside their stratum by md5(salt‖id) (the seeded-
    shuffle trick: deterministic, partition-invariant) and fill the
    buckets in rank order.

    Scale shape: one window per stratum (rank) + a stratum-count
    aggregate joined back (|strata| rows — broadcast); map-only
    otherwise. Returns (id, stratum, rank, bucket)."""
    from pyspark.sql import Window

    p_tr, p_va, p_te = pcts
    if p_tr + p_va + p_te != 100:
        raise ValueError("pcts must sum to 100")
    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    ranked = df.select(
        F.col(id_col),
        F.col(stratum_col).alias("stratum"),
        F.row_number()
        .over(Window.partitionBy(stratum_col).orderBy(key, id_col))
        .alias("rnk"),
    )
    counts = ranked.groupBy("stratum").agg(F.count("*").alias("n"))
    n = F.col("n")
    base_tr, rem_tr = (n * p_tr) - (n * p_tr) % 100, (n * p_tr) % 100
    base_va, rem_va = (n * p_va) - (n * p_va) % 100, (n * p_va) % 100
    base_te, rem_te = (n * p_te) - (n * p_te) % 100, (n * p_te) % 100
    base_tr, base_va, base_te = (
        (base_tr / 100).cast("long"),
        (base_va / 100).cast("long"),
        (base_te / 100).cast("long"),
    )
    r = n - base_tr - base_va - base_te
    pos_tr = F.lit(1) + (rem_va > rem_tr).cast("int") + (
        rem_te > rem_tr
    ).cast("int")
    pos_va = F.lit(1) + (rem_tr >= rem_va).cast("int") + (
        rem_te > rem_va
    ).cast("int")
    pos_te = F.lit(1) + (rem_tr >= rem_te).cast("int") + (
        rem_va >= rem_te
    ).cast("int")
    alloc = counts.select(
        "stratum",
        (base_tr + (pos_tr <= r).cast("long")).alias("c_tr"),
        (base_va + (pos_va <= r).cast("long")).alias("c_va"),
    )
    out = ranked.join(F.broadcast(alloc), "stratum")
    bucket = (
        F.when(F.col("rnk") <= F.col("c_tr"), F.lit("train"))
        .when(
            F.col("rnk") <= F.col("c_tr") + F.col("c_va"), F.lit("val")
        )
        .otherwise(F.lit("test"))
    )
    return out.select(
        id_col,
        "stratum",
        F.col("rnk").cast("int").alias("rnk"),
        bucket.alias("bucket"),
    )
