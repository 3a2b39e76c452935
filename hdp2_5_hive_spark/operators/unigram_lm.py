"""Distributed unigram-LM subword tokenizer training (Kudo 2018,
"Subword Regularization" — the SentencePiece unigram model), in its
deterministic Viterbi-EM (hard-EM) form.

The OTHER canonical subword vocabulary beside BPE (operators/bpe.py):
where BPE grows a vocab bottom-up by pair merges, the unigram model
starts from a large seed of frequent substrings and SHRINKS it —
alternating (E) segment the corpus with the current piece
probabilities and (M) re-estimate piece probabilities from the
segmentation counts, pruning low-count pieces between rounds.

Determinism contract (what makes the exact sequential pin in
tests/test_unigram_lm.py possible):
- hard EM: the E-step is VITERBI segmentation (argmax path), so
  piece counts are INTEGERS — exact under any partitioning or
  summation order;
- Viterbi ties break by longer-last-piece, then lexicographically
  smaller last piece (fixed total order, no float accumulation
  ambiguity: path scores are sums of the same few doubles in the
  same left-to-right DP order on every engine);
- M-step and pruning happen on the driver over the vocab-bounded
  count table with (count desc, piece asc) orderings throughout.

Scale shape (the same discipline as train_bpe):
- the corpus collapses to the DISTINCT-WORD frequency table first —
  E-steps run over vocabulary-sized data weighted by corpus
  frequency, never over raw text;
- each E-step is ONE map-only Arrow pass (piece table ships in the
  kernel closure — a broadcast in cluster terms) followed by ONE
  keyed partial-sum; only the ≤|vocab| (piece, count) rows reach the
  driver (bounded driver state, the k-means/logreg pattern);
- rounds = a handful of bounded jobs; at 100 TB the word table is
  ~10⁸ rows and the piece table ~10⁵ — both dwarfed by the corpus.

Reference parity: the reference has no subword trainer (it predates
the era); this lives under the SURVEY §6 training-data-pipeline
mandate beside BPE, DSIR and the quality classifiers.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import util
from .bpe import word_freq_table

__all__ = [
    "seed_pieces",
    "train_unigram_lm",
    "unigram_vocab_table",
    "apply_unigram_lm",
]


def seed_pieces(
    words: DataFrame, *, max_piece_len: int = 6, seed_size: int = 512
) -> list[tuple[str, int]]:
    """Seed vocabulary: the ``seed_size`` highest-scoring substrings
    (score = corpus frequency × length, SentencePiece's seed
    heuristic) of length ≥ 2, PLUS every single character (coverage:
    any word must stay segmentable after any amount of pruning).
    Substring generation is built-in-expression only (sequence →
    nested transform → flatten) and the per-word substring multiset
    counts each occurrence, weighted by word frequency.

    Returns [(piece, weighted_count)] — driver-side but
    seed-bounded; ties break lexicographically."""
    syms, freq = F.col("syms"), F.col("freq")
    w = F.array_join(syms, "")
    n = F.length(w)
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece_len), n - i + 1),
                ),
                lambda ln: F.substring(w, i, ln),
            ),
        )
    )
    pieces = (
        words.select(F.explode(subs).alias("piece"), freq)
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    chars = [
        (r["piece"], int(r["cnt"]))
        for r in pieces.filter(F.length("piece") == 1).collect()
    ]
    multi = (
        pieces.filter(F.length("piece") >= 2)
        .select(
            "piece",
            "cnt",
            (F.col("cnt") * F.length("piece")).alias("score"),
        )
        .orderBy(F.desc("score"), "piece")
        .limit(seed_size)
        .collect()
    )
    out = {p: c for p, c in chars}
    for r in multi:
        out[r["piece"]] = int(r["cnt"])
    return sorted(out.items())


def _viterbi(word: str, logp: dict[str, float], max_len: int):
    """Best segmentation of ``word`` under piece log-probs.
    DP left to right; ties prefer the LONGER last piece, then the
    lexicographically smaller one. Returns the piece list (None if
    unsegmentable — cannot happen while all chars are in vocab)."""
    n = len(word)
    NEG = float("-inf")
    best = [NEG] * (n + 1)
    back: list[tuple[int, str] | None] = [None] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for ln in range(1, min(max_len, i) + 1):
            piece = word[i - ln : i]
            lp = logp.get(piece)
            if lp is None or best[i - ln] == NEG:
                continue
            s = best[i - ln] + lp
            if s > best[i] or (
                s == best[i]
                and back[i] is not None
                and (
                    ln > back[i][0]
                    or (ln == back[i][0] and piece < back[i][1])
                )
            ):
                best[i] = s
                back[i] = (ln, piece)
    if best[n] == NEG:
        return None
    out: list[str] = []
    i = n
    while i > 0:
        ln, piece = back[i]
        out.append(piece)
        i -= ln
    out.reverse()
    return out


def _estep_counts(
    words: DataFrame, logp: dict[str, float], max_len: int
) -> dict[str, int]:
    """One E-step: Viterbi-segment every distinct word, count piece
    uses weighted by word frequency. Map-only Arrow pass + one keyed
    sum; ≤|vocab| rows reach the driver."""

    def kernel(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            counts: dict[str, int] = {}
            for syms, freq in zip(pdf["syms"], pdf["freq"]):
                word = "".join(syms)
                seg = cache.get(word)
                if seg is None:
                    seg = _viterbi(word, logp, max_len)
                    cache[word] = seg
                for piece in seg:
                    counts[piece] = counts.get(piece, 0) + int(freq)
            if counts:
                yield pd.DataFrame(
                    {
                        "piece": list(counts.keys()),
                        "cnt": list(counts.values()),
                    }
                )

    partials = words.mapInPandas(kernel, "piece string, cnt long")
    rows = (
        partials.groupBy("piece").agg(F.sum("cnt").alias("cnt")).collect()
    )
    return {r["piece"]: int(r["cnt"]) for r in rows}


def _mstep_logp(counts: dict[str, int]) -> dict[str, float]:
    """Piece log-probabilities from counts. Single characters get
    add-one smoothing (they must never become unreachable — the
    coverage floor); multi-char pieces use raw counts."""
    sm = {
        p: c + 1 if len(p) == 1 else c
        for p, c in counts.items()
        if c > 0 or len(p) == 1
    }
    total = sum(sm.values())
    lt = math.log(total)
    return {p: math.log(c) - lt for p, c in sm.items()}


def _train_local(
    word_freqs: list[tuple[str, int]],
    *,
    vocab_size: int,
    seed_size: int,
    n_rounds: int,
    max_piece_len: int,
    shrink: float,
) -> list[tuple[str, int, float]]:
    """The WHOLE seed + EM loop over an in-memory word table — exact
    twin of the distributed body of ``train_unigram_lm`` (the
    bpe/logreg in-task discipline). Every quantity is an integer
    count or a ``math.log`` of integer ratios computed by the same
    expressions, and every ordering replays the distributed
    (desc, asc) sort keys, so the returned vocabulary is
    bit-identical under either path."""
    # seed_pieces twin: substring multiset weighted by word frequency
    sub: dict[str, int] = {}
    for word, freq in word_freqs:
        n = len(word)
        for i in range(n):
            for ln in range(1, min(max_piece_len, n - i) + 1):
                p = word[i : i + ln]
                sub[p] = sub.get(p, 0) + freq
    out = {p: c for p, c in sub.items() if len(p) == 1}
    multi_seed = sorted(
        ((p, c) for p, c in sub.items() if len(p) >= 2),
        key=lambda pc: (-pc[1] * len(pc[0]), pc[0]),
    )[:seed_size]
    for p, c in multi_seed:
        out[p] = c
    logp = _mstep_logp(dict(sorted(out.items())))

    def estep() -> dict[str, int]:
        counts: dict[str, int] = {}
        for word, freq in word_freqs:
            for piece in _viterbi(word, logp, max_piece_len):
                counts[piece] = counts.get(piece, 0) + freq
        return counts

    counts: dict[str, int] = {}
    for _ in range(n_rounds):
        counts = estep()
        for p in list(logp):
            if len(p) == 1 and p not in counts:
                counts[p] = 0
        multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )
        n_chars = sum(1 for p in counts if len(p) == 1)
        keep_multi = max(vocab_size - n_chars, int(len(multi) * shrink))
        kept = dict(multi[:keep_multi])
        kept.update((p, c) for p, c in counts.items() if len(p) == 1)
        logp = _mstep_logp(kept)
    counts = estep()
    for p in list(logp):
        if len(p) == 1 and p not in counts:
            counts[p] = 0
    logp = _mstep_logp(counts)
    final = sorted(
        ((p, c) for p, c in counts.items() if p in logp),
        key=lambda pc: (-pc[1], pc[0]),
    )
    chars = [(p, c) for p, c in final if len(p) == 1]
    multi = [(p, c) for p, c in final if len(p) > 1]
    room = max(vocab_size - len(chars), 0)
    vocab = sorted(chars + multi[:room], key=lambda pc: (-pc[1], pc[0]))
    return [(p, c, logp[p]) for p, c in vocab]


def train_unigram_lm(
    df: DataFrame,
    text_col: str = "text",
    *,
    vocab_size: int = 64,
    seed_size: int = 512,
    n_rounds: int = 3,
    max_piece_len: int = 6,
    shrink: float = 0.75,
) -> list[tuple[str, int, float]]:
    """Learn a unigram-LM piece vocabulary. Each round: Viterbi
    E-step → count-based M-step → prune to ``shrink`` of the current
    multi-char pieces (never below ``vocab_size``, single chars
    always kept); a final E/M pass re-scores the surviving vocab.

    Returns [(piece, count, logprob)] sorted (count desc, piece asc),
    truncated to ``vocab_size`` with single chars retained."""
    words = word_freq_table(df, text_col).localCheckpoint(eager=True)
    n_words, fits = util.task_sized(words, util.IN_TASK_MAX_WORDS)
    if fits:
        # Run seed + every EM round in the task (see _train_local:
        # bit-identical vocab).
        kw = dict(
            vocab_size=vocab_size,
            seed_size=seed_size,
            n_rounds=n_rounds,
            max_piece_len=max_piece_len,
            shrink=shrink,
        )

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            wf = []
            for pdf in batches:
                for syms, freq in zip(pdf["syms"], pdf["freq"]):
                    wf.append(("".join(syms), int(freq)))
            vocab = _train_local(wf, **kw)
            yield pd.DataFrame(
                {
                    "rank": list(range(len(vocab))),
                    "piece": [p for p, _, _ in vocab],
                    "cnt": [c for _, c, _ in vocab],
                    "logp": [lp for _, _, lp in vocab],
                }
            )

        rows = words.coalesce(1).mapInPandas(
            kernel, "rank int, piece string, cnt long, logp double"
        ).collect()
        return [
            (r["piece"], int(r["cnt"]), float(r["logp"]))
            for r in sorted(rows, key=lambda r: r["rank"])
        ]
    # Right-size the loop frame (guide §2, same rationale as
    # bpe.train_bpe): every E-step re-scans this table, and
    # checkpointed plans keep the static shuffle layout regardless of
    # size.
    words = util.right_size_loop_frame(words, n_words)
    seed = seed_pieces(
        words, max_piece_len=max_piece_len, seed_size=seed_size
    )
    logp = _mstep_logp(dict(seed))
    counts: dict[str, int] = {}
    for _ in range(n_rounds):
        counts = _estep_counts(words, logp, max_piece_len)
        # coverage: chars stay even when Viterbi never used them
        for p in list(logp):
            if len(p) == 1 and p not in counts:
                counts[p] = 0
        multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )
        n_chars = sum(1 for p in counts if len(p) == 1)
        keep_multi = max(
            vocab_size - n_chars, int(len(multi) * shrink)
        )
        kept = dict(multi[:keep_multi])
        kept.update(
            (p, c) for p, c in counts.items() if len(p) == 1
        )
        logp = _mstep_logp(kept)
    counts = _estep_counts(words, logp, max_piece_len)
    for p in list(logp):
        if len(p) == 1 and p not in counts:
            counts[p] = 0
    logp = _mstep_logp(counts)
    final = sorted(
        ((p, c) for p, c in counts.items() if p in logp),
        key=lambda pc: (-pc[1], pc[0]),
    )
    chars = [(p, c) for p, c in final if len(p) == 1]
    multi = [(p, c) for p, c in final if len(p) > 1]
    room = max(vocab_size - len(chars), 0)
    vocab = sorted(
        chars + multi[:room], key=lambda pc: (-pc[1], pc[0])
    )
    return [(p, c, logp[p]) for p, c in vocab]


def unigram_vocab_table(
    df: DataFrame, text_col: str = "text", **kw
) -> DataFrame:
    """train_unigram_lm as a DataFrame: (rank, piece, piece_count,
    logprob rounded to 6 via the floor form — the cross-engine-
    deterministic pround discipline (functions/hive_compat.pround):
    Python round() is half-even on the exact double while DuckDB
    ROUND is half-away after an inexact scale-multiply, so a tie-
    adjacent value would round differently; floor(x*1e6+0.5) is
    identically computed everywhere."""
    spark = df.sparkSession
    vocab = train_unigram_lm(df, text_col, **kw)
    rows = [
        (i, p, c, math.floor(lp * 1e6 + 0.5) / 1e6)
        for i, (p, c, lp) in enumerate(vocab)
    ]
    return spark.createDataFrame(
        rows, "rank int, piece string, piece_count long, logprob double"
    )


def apply_unigram_lm(
    df: DataFrame,
    vocab: list[tuple[str, int, float]],
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_piece_len: int = 6,
) -> DataFrame:
    """Tokenize a corpus with a LEARNED unigram vocab — Viterbi
    inference, the deterministic (non-sampling) decode of Kudo 2018.
    Map-only: the vocab ships in the kernel closure, per-word
    memoization exploits the Zipf head exactly like apply_bpe.
    Output: (id, tokens space-joined, n_pieces)."""
    from .dedup import words_col

    logp = {p: lp for p, _, lp in vocab}

    def kernel(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks, counts = [], []
            for words in pdf["_ws"]:
                pieces: list[str] = []
                for wd in words:
                    seg = cache.get(wd)
                    if seg is None:
                        seg = _viterbi(wd, logp, max_piece_len) or [wd]
                        cache[wd] = seg
                    pieces.extend(seg)
                toks.append(" ".join(pieces))
                counts.append(len(pieces))
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"],
                    "tokens": toks,
                    "n_pieces": counts,
                }
            )

    prepared = df.select(
        F.col(id_col).alias("_id"),
        F.filter(
            words_col(F.col(text_col)), lambda s: s != F.lit("")
        ).alias("_ws"),
    )
    out = prepared.mapInPandas(
        kernel, "_id long, tokens string, n_pieces long"
    )
    return out.select(
        F.col("_id").alias(id_col), "tokens", "n_pieces"
    )
