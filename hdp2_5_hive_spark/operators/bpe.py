"""Distributed BPE (byte-pair-encoding) vocabulary training.

The canonical subword-vocab algorithm (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units"):
start from characters, repeatedly merge the most frequent adjacent
symbol pair. The training corpus collapses to the DISTINCT-WORD
frequency table first — the classic trick that makes BPE tractable:
merge rounds run over unique words (bounded vocabulary), weighted by
corpus frequency, never over raw text.

Scale shape: one corpus pass builds (word, freq) — a groupBy with
map-side combine; each merge round is (a) one pair-count aggregate
over the word table (pairs shuffle as small structs, partial-agg
tree) + a TakeOrdered(1) for the argmax — only ONE row ever reaches
the driver per round — and (b) one Arrow-batched merge rewrite of
the symbol arrays. The word table is persisted and re-persisted per
round with lineage truncated (the iterative-algorithm discipline of
operators/components.py). N merges = N bounded jobs; at 100 TB the
word table is ~10⁸ rows (language vocabulary, not corpus size), far
smaller than the corpus it came from.

Determinism: ties in pair frequency break lexicographically, so the
merge table is a pure function of the corpus — pinned against a
from-scratch sequential reference in tests/test_bpe.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import util
from .dedup import words_col

_WORD_SCHEMA = StructType(
    [
        StructField("syms", ArrayType(StringType())),
        StructField("freq", LongType()),
    ]
)


def word_freq_table(
    df: DataFrame, text_col: str = "text", min_freq: int = 1
) -> DataFrame:
    """(syms: array<string> of characters, freq): the distinct-word
    frequency table BPE trains on. One shuffle (word groupBy)."""
    words = df.select(
        F.explode(words_col(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    if min_freq > 1:
        wf = wf.filter(F.col("freq") >= min_freq)
    return wf.select(
        F.split(F.col("w"), "(?!$)").alias("syms"), F.col("freq")
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the word table."""
    n = F.size("syms")
    pairs = words.select(
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("left"),
                        F.element_at("syms", i + 1).alias("right"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<left:string,right:string>>"))
        ).alias("p"),
        "freq",
    )
    return pairs.groupBy("p.left", "p.right").agg(
        F.sum("freq").alias("pair_count")
    )


def merge_pair(
    syms: list[str], left: str, right: str, merged: str
) -> list[str]:
    """Replace each adjacent (left, right) in ``syms`` with ``merged``,
    left-to-right greedy (standard BPE application — 'aaa' with merge
    (a,a) → ['aa','a'])."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def merge_words(
    words: DataFrame, left: str, right: str, merged: str
) -> DataFrame:
    """One distributed merge round: ``merge_pair`` over every symbol
    array of a (syms, freq) word table, Arrow-batched."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                merge_pair(list(s), left, right, merged) for s in pdf["syms"]
            ]
            yield pd.DataFrame({"syms": out, "freq": pdf["freq"]})

    return words.mapInPandas(kernel, _WORD_SCHEMA)


def _bpe_loop_kernel(n_merges: int, min_pair_count: int):
    """The WHOLE merge loop inside one task — exact fast path for a
    word table that fits one partition after right-sizing (the
    logreg/k-means in-task discipline). Pair counts are exact
    integers and the argmax tie-break is (count desc, left asc,
    right asc) — identical to the distributed
    orderBy(desc(pair_count), left, right).limit(1), so the merge
    table is bit-identical while paying ONE job instead of one
    aggregate job per merge round."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        words: list[tuple[list[str], int]] = []
        for pdf in batches:
            for syms, freq in zip(pdf["syms"], pdf["freq"]):
                words.append((list(syms), int(freq)))
        ranks, lefts, rights, counts = [], [], [], []
        for rank in range(n_merges):
            pc: dict[tuple[str, str], int] = {}
            for syms, freq in words:
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    pc[p] = pc.get(p, 0) + freq
            if not pc:
                break
            (left, right), cnt = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            if cnt < min_pair_count:
                break
            ranks.append(rank)
            lefts.append(left)
            rights.append(right)
            counts.append(cnt)
            words = [
                (merge_pair(syms, left, right, left + right), freq)
                for syms, freq in words
            ]
        yield pd.DataFrame(
            {"rank": ranks, "left": lefts, "right": rights, "cnt": counts}
        )

    return kernel


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 24,
    min_pair_count: int = 2,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns
    [(rank, left, right, pair_count)] — the merge table, highest
    frequency first; stops early when the best pair drops below
    ``min_pair_count``."""
    words = word_freq_table(df, text_col).localCheckpoint(eager=True)
    n_words, fits = util.task_sized(words, util.IN_TASK_MAX_WORDS)
    if fits:
        # Run every merge round in the task (see _bpe_loop_kernel:
        # bit-identical merge table).
        rows = words.coalesce(1).mapInPandas(
            _bpe_loop_kernel(n_merges, min_pair_count),
            "rank int, left string, right string, cnt long",
        ).collect()
        return [
            (int(r["rank"]), r["left"], r["right"], int(r["cnt"]))
            for r in sorted(rows, key=lambda r: r["rank"])
        ]
    # Right-size the loop's partitioning to the word table (guide §2):
    # checkpointed plans keep the static shuffle layout, so a small
    # table would otherwise run every one of the 2·n_merges round jobs
    # at spark.sql.shuffle.partitions near-empty tasks. Every later
    # round (pair counts AND the rewrite checkpoint) inherits it.
    words = util.right_size_loop_frame(words, n_words)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        # ONE job per round: the argmax collect below is the first
        # action on `words`, so a lazily-checkpointed rewrite from the
        # previous round materializes inside this job — the separate
        # eager-materialization job per round is gone (localCheckpoint
        # TRUNCATES lineage either way; persist alone does not —
        # Catalyst would re-analyze the ever-growing plan each round,
        # which at production vocab sizes, 10k-50k merges, becomes the
        # bottleneck; same discipline as operators/components.py).
        # Each round's checkpoint blocks are freed by the
        # ContextCleaner once its frame is garbage-collected;
        # ``unpersist`` does not release a local checkpoint.
        top = (
            _pair_counts(words)
            .orderBy(F.desc("pair_count"), "left", "right")
            .limit(1)
            .collect()
        )
        if not top or top[0]["pair_count"] < min_pair_count:
            break
        left, right, cnt = (
            top[0]["left"],
            top[0]["right"],
            int(top[0]["pair_count"]),
        )
        merges.append((rank, left, right, cnt))
        words = merge_words(
            words, left, right, left + right
        ).localCheckpoint(eager=False)
    return merges


def bpe_merge_table(
    df: DataFrame, text_col: str = "text", n_merges: int = 24
) -> DataFrame:
    """train_bpe as a DataFrame: (rank, left, right, merged,
    pair_count)."""
    spark = df.sparkSession
    rows = [
        (r, lt, rt, lt + rt, c)
        for r, lt, rt, c in train_bpe(df, text_col, n_merges)
    ]
    return spark.createDataFrame(
        rows,
        "rank int, left string, right string, merged string, pair_count long",
    )


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize a corpus with a LEARNED merge table — the inference
    half of BPE (Sennrich et al. 2016 §3: apply merges in training
    rank order, left-to-right greedy within each). Output: (id,
    tokens concat by space, n_tokens).

    Scale shape: the merge table is vocab-bounded (n_merges rows) and
    ships inside the Arrow-batched kernel's closure — a broadcast in
    cluster terms; the pass itself is map-only (no shuffle), so it
    pipelines with whatever filter/write follows. Per word the kernel
    caches its tokenization in a dict: corpus word frequency follows
    Zipf, so the cache turns O(rows × merges) into
    O(distinct_words × merges) per partition."""
    ranked = [(left, right) for _, left, right, _ in sorted(merges)]
    schema = StructType(
        [
            StructField("_id", LongType()),
            StructField("tokens", StringType()),
            StructField("n_tokens", LongType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def encode_word(w: str) -> list[str]:
            if w in cache:
                return cache[w]
            syms = list(w)
            for left, right in ranked:
                syms = merge_pair(syms, left, right, left + right)
            cache[w] = syms
            return syms

        for pdf in batches:
            toks = []
            for text in pdf["_text"]:
                words = [w for w in (text or "").lower().split(" ") if w]
                doc: list[str] = []
                for w in words:
                    doc.extend(encode_word(w))
                toks.append(doc)
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"],
                    "tokens": [" ".join(d) for d in toks],
                    "n_tokens": [len(d) for d in toks],
                }
            )

    src = df.select(
        F.col(id_col).cast("long").alias("_id"), F.col(text_col).alias("_text")
    )
    return src.mapInPandas(kernel, schema).withColumnRenamed("_id", id_col)
