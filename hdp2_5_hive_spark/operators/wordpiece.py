"""Distributed WordPiece vocabulary training + tokenization.

The third subword tokenizer beside BPE (``operators/bpe.py``) and
the unigram LM (``operators/unigram_lm.py``) — the BERT family's
scheme (Schuster & Nakajima 2012; the training procedure is the
public likelihood-greedy variant the HuggingFace ``tokenizers``
WordPiece trainer implements): words decompose into a first
character plus ``##``-prefixed continuation characters; each round
merges the adjacent pair maximizing

    score(a, b) = count(ab) / (count(a) * count(b))

— i.e. the pair whose merge most increases corpus likelihood under
a unigram model, NOT the raw-count argmax of BPE. The merged symbol
is ``a + strip##(b)`` (it inherits ``a``'s continuation marker).
Inference is NOT merge-replay like BPE: it is greedy
longest-match-first against the final vocab (BERT's
WordpieceTokenizer), emitting ``[UNK]`` for any word with an
unmatchable remainder.

Scale shape (same discipline as bpe.py): training runs over the
DISTINCT-WORD frequency table (vocabulary-bounded, never raw text);
each round is one pair-count aggregate + one symbol-count aggregate
(both map-side combining) joined symbol-table-to-pair-table
(vocab-bounded → broadcast), with a TakeOrdered(1) so exactly ONE
row reaches the driver per round; the word table is rewritten by an
Arrow-batched kernel and ``localCheckpoint``-ed to truncate lineage.
Apply is map-only with the vocab in the kernel closure (a broadcast
in cluster terms) and a per-partition word cache (Zipf makes it
O(distinct words), not O(rows)).

Determinism: scores compare as IEEE doubles with ties broken by
(higher pair count, then lexicographic pair) — the sequential
reference in tests/test_wordpiece.py replays the identical float
comparison, so the merge table is pinned EXACTLY.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import util
from .bpe import merge_pair, merge_words
from .dedup import words_col

UNK = "[UNK]"


def _strip_cont(sym: str) -> str:
    return sym[2:] if sym.startswith("##") else sym


def wp_word_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(syms, freq): distinct words as WordPiece symbol arrays —
    first char bare, continuation chars ``##``-prefixed. One corpus
    pass + one word groupBy (map-side combine)."""
    words = df.select(
        F.explode(words_col(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    chars = F.split(F.col("w"), "(?!$)")
    syms = F.transform(
        chars,
        lambda c, i: F.when(i == 0, c).otherwise(F.concat(F.lit("##"), c)),
    )
    return wf.select(syms.alias("syms"), "freq")


def _pair_and_sym_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair counts joined with both symbols' unigram counts
    and the likelihood score. Pair table and symbol table are both
    vocabulary-bounded; the join broadcasts the symbol side."""
    n = F.size("syms")
    pairs = (
        words.select(
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
                ).otherwise(F.array())
            ).alias("p"),
            "freq",
        )
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("freq").alias("pair_count"))
    )
    syms = (
        words.select(F.explode("syms").alias("sym"), "freq")
        .groupBy("sym")
        .agg(F.sum("freq").alias("sym_count"))
    )
    return (
        pairs.join(
            F.broadcast(syms.withColumnsRenamed({"sym": "left", "sym_count": "c_left"})),
            "left",
        )
        .join(
            F.broadcast(syms.withColumnsRenamed({"sym": "right", "sym_count": "c_right"})),
            "right",
        )
        .withColumn(
            "score",
            F.col("pair_count").cast("double")
            / (F.col("c_left").cast("double") * F.col("c_right").cast("double")),
        )
    )


def _wp_loop_kernel(n_merges: int, min_pair_count: int):
    """The WHOLE merge loop inside one task — exact fast path for a
    word table that fits one partition after right-sizing (the
    bpe/logreg in-task discipline). The likelihood score is computed
    with the identical IEEE-double expression the distributed round
    uses (double(pair) / (double(c_left) * double(c_right))) and the
    tie-break replays orderBy(desc(score), desc(pair_count), left,
    right), so the merge table is bit-identical while paying ONE job
    instead of one aggregate+join job per merge round."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        words: list[tuple[list[str], int]] = []
        for pdf in batches:
            for syms, freq in zip(pdf["syms"], pdf["freq"]):
                words.append((list(syms), int(freq)))
        ranks, lefts, rights, counts, scores = [], [], [], [], []
        for rank in range(n_merges):
            pc: dict[tuple[str, str], int] = {}
            sc: dict[str, int] = {}
            for syms, freq in words:
                for i, s in enumerate(syms):
                    sc[s] = sc.get(s, 0) + freq
                    if i + 1 < len(syms):
                        p = (s, syms[i + 1])
                        pc[p] = pc.get(p, 0) + freq
            cands = [
                (
                    float(cnt) / (float(sc[lt]) * float(sc[rt])),
                    cnt,
                    lt,
                    rt,
                )
                for (lt, rt), cnt in pc.items()
                if cnt >= min_pair_count
            ]
            if not cands:
                break
            score, cnt, left, right = min(
                cands, key=lambda c: (-c[0], -c[1], c[2], c[3])
            )
            ranks.append(rank)
            lefts.append(left)
            rights.append(right)
            counts.append(cnt)
            scores.append(score)
            merged = left + _strip_cont(right)
            words = [
                (merge_pair(syms, left, right, merged), freq)
                for syms, freq in words
            ]
        yield pd.DataFrame(
            {
                "rank": ranks,
                "left": lefts,
                "right": rights,
                "cnt": counts,
                "score": scores,
            }
        )

    return kernel


def train_wordpiece(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 24,
    min_pair_count: int = 2,
    *,
    _words: DataFrame | None = None,
) -> list[tuple[int, str, str, str, int, float]]:
    """Learn ``n_merges`` WordPiece merges. Returns
    [(rank, left, right, merged, pair_count, score)] in merge order.
    Stops early when the best pair's support drops below
    ``min_pair_count``."""
    words = (
        _words if _words is not None else wp_word_table(df, text_col)
    ).localCheckpoint(eager=True)
    n_words, fits = util.task_sized(words, util.IN_TASK_MAX_WORDS)
    if fits:
        # Run every merge round in the task (see _wp_loop_kernel:
        # bit-identical merge table).
        rows = words.coalesce(1).mapInPandas(
            _wp_loop_kernel(n_merges, min_pair_count),
            "rank int, left string, right string, cnt long, score double",
        ).collect()
        return [
            (
                int(r["rank"]),
                r["left"],
                r["right"],
                r["left"] + _strip_cont(r["right"]),
                int(r["cnt"]),
                float(r["score"]),
            )
            for r in sorted(rows, key=lambda r: r["rank"])
        ]
    # Right-size the loop frame + one-job rounds via lazy checkpoints
    # — same scheme and rationale as bpe.train_bpe.
    words = util.right_size_loop_frame(words, n_words)
    merges: list[tuple[int, str, str, str, int, float]] = []
    for rank in range(n_merges):
        top = (
            _pair_and_sym_counts(words)
            .filter(F.col("pair_count") >= min_pair_count)
            .orderBy(
                F.desc("score"), F.desc("pair_count"), "left", "right"
            )
            .limit(1)
            .collect()
        )
        if not top:
            break
        r = top[0]
        merged = r["left"] + _strip_cont(r["right"])
        merges.append(
            (
                rank,
                r["left"],
                r["right"],
                merged,
                int(r["pair_count"]),
                float(r["score"]),
            )
        )
        words = merge_words(
            words, r["left"], r["right"], merged
        ).localCheckpoint(eager=False)
    return merges


def wordpiece_vocab(
    df: DataFrame, text_col: str = "text", n_merges: int = 24
) -> tuple[list[str], list[tuple[int, str, str, str, int, float]]]:
    """Alphabet (bare + ``##`` continuation chars, sorted) followed
    by merged tokens in merge order — the final WordPiece vocab."""
    # One tokenize pass: the word table feeds BOTH the alphabet scan
    # and the trainer (via _words) — without the shared persisted
    # frame the documents-side tokenize+count subtree ran twice.
    wt = wp_word_table(df, text_col).persist()
    try:
        alpha_rows = (
            wt.select(F.explode("syms").alias("sym")).distinct().collect()
        )
        alphabet = sorted(r["sym"] for r in alpha_rows)
        merges = train_wordpiece(df, text_col, n_merges, _words=wt)
    finally:
        try:
            wt.unpersist()
        except Exception:
            pass
    vocab = alphabet + [m[3] for m in merges]
    return vocab, merges


def encode_word_greedy(word: str, vocab: set[str]) -> list[str]:
    """BERT WordpieceTokenizer: greedy longest-match-first; the
    whole word collapses to [UNK] when any remainder is
    unmatchable."""
    out: list[str] = []
    start = 0
    while start < len(word):
        end = len(word)
        cur = None
        while end > start:
            piece = word[start:end]
            if start > 0:
                piece = "##" + piece
            if piece in vocab:
                cur = piece
                break
            end -= 1
        if cur is None:
            return [UNK]
        out.append(cur)
        start = end
    return out


def apply_wordpiece(
    df: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a learned vocab — map-only, vocab in the kernel
    closure, per-partition word cache. Output: (id, tokens joined by
    space, n_tokens, n_unk)."""
    vset = set(vocab)
    schema = StructType(
        [
            StructField("_id", LongType()),
            StructField("tokens", StringType()),
            StructField("n_tokens", LongType()),
            StructField("n_unk", LongType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def enc(w: str) -> list[str]:
            got = cache.get(w)
            if got is None:
                got = cache[w] = encode_word_greedy(w, vset)
            return got

        for pdf in batches:
            toks, counts, unks = [], [], []
            for text in pdf["_text"]:
                doc: list[str] = []
                for w in (text or "").lower().split(" "):
                    if w:
                        doc.extend(enc(w))
                toks.append(" ".join(doc))
                counts.append(len(doc))
                unks.append(sum(1 for s in doc if s == UNK))
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"],
                    "tokens": toks,
                    "n_tokens": counts,
                    "n_unk": unks,
                }
            )

    return (
        df.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
        )
        .mapInPandas(kernel, schema)
        .select(
            F.col("_id").alias(id_col), "tokens", "n_tokens", "n_unk"
        )
    )
