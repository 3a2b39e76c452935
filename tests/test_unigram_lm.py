"""Unigram-LM tokenizer trainer: exact pin against a from-scratch
sequential reference (independent code path — Counter-based corpus
stats, its own recursive Viterbi), plus segmentation and plan-shape
properties."""

from __future__ import annotations

from collections import Counter

from hdp2_5_hive_spark.operators import unigram_lm as ul

CORPUS = [
    "unhappiness unhappy happiness happy ness un happing",
    "unhappiness unhappy happiness happy ness un happing",
    "unhappiness unhappy happiness happy ness un happing",
    "unhappiness unhappy happiness happy ness un happing",
    "the thematic theme them the them",
    "rethink rethinking thinking think thinker the",
]


# ---------- sequential reference (shares no code with the operator)


def _ref_word_freq(texts):
    c = Counter()
    for t in texts:
        for w in t.lower().split():
            if w:
                c[w] += 1
    return dict(c)


def _ref_seed(wf, max_len, seed_size):
    sub = Counter()
    for w, f in wf.items():
        for i in range(len(w)):
            for ln in range(1, min(max_len, len(w) - i) + 1):
                sub[w[i : i + ln]] += f
    chars = {p: c for p, c in sub.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in sub.items() if len(p) >= 2),
        key=lambda pc: (-pc[1] * len(pc[0]), pc[0]),
    )[:seed_size]
    out = dict(chars)
    out.update(multi)
    return out


def _ref_logp(counts):
    import math

    sm = {
        p: c + 1 if len(p) == 1 else c
        for p, c in counts.items()
        if c > 0 or len(p) == 1
    }
    tot = sum(sm.values())
    return {p: math.log(c) - math.log(tot) for p, c in sm.items()}


def _ref_viterbi(word, logp, max_len):
    """Same declared tie rule (longer last piece, then smaller
    piece), independently implemented: forward DP storing the full
    winning candidate per cell."""
    NEG = float("-inf")
    n = len(word)
    score = [NEG] * (n + 1)
    choice = [None] * (n + 1)
    score[0] = 0.0
    for i in range(1, n + 1):
        cands = []
        for ln in range(1, min(max_len, i) + 1):
            piece = word[i - ln : i]
            if piece in logp and score[i - ln] != NEG:
                cands.append((score[i - ln] + logp[piece], ln, piece))
        if not cands:
            continue
        best_s = max(c[0] for c in cands)
        tied = [c for c in cands if c[0] == best_s]
        tied.sort(key=lambda c: (-c[1], c[2]))
        score[i], choice[i] = best_s, tied[0]
    pieces = []
    i = n
    while i > 0:
        _, ln, piece = choice[i]
        pieces.append(piece)
        i -= ln
    return pieces[::-1]


def _ref_train(texts, vocab_size, seed_size, n_rounds, max_len, shrink=0.75):
    wf = _ref_word_freq(texts)
    logp = _ref_logp(_ref_seed(wf, max_len, seed_size))
    counts = {}
    for _ in range(n_rounds):
        counts = Counter()
        for w, f in wf.items():
            for piece in _ref_viterbi(w, logp, max_len):
                counts[piece] += f
        counts = dict(counts)
        for p in logp:
            if len(p) == 1 and p not in counts:
                counts[p] = 0
        multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )
        n_chars = sum(1 for p in counts if len(p) == 1)
        keep = max(vocab_size - n_chars, int(len(multi) * shrink))
        kept = dict(multi[:keep])
        kept.update((p, c) for p, c in counts.items() if len(p) == 1)
        logp = _ref_logp(kept)
    counts = Counter()
    for w, f in wf.items():
        for piece in _ref_viterbi(w, logp, max_len):
            counts[piece] += f
    counts = dict(counts)
    for p in logp:
        if len(p) == 1 and p not in counts:
            counts[p] = 0
    logp = _ref_logp(counts)
    final = sorted(counts.items(), key=lambda pc: (-pc[1], pc[0]))
    chars = [(p, c) for p, c in final if len(p) == 1]
    multi = [(p, c) for p, c in final if len(p) > 1]
    room = max(vocab_size - len(chars), 0)
    vocab = sorted(chars + multi[:room], key=lambda pc: (-pc[1], pc[0]))
    return [(p, c, logp[p]) for p, c in vocab]


# ---------- tests


def test_unigram_lm_matches_sequential_reference_exactly(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    ).repartition(5)
    got = ul.train_unigram_lm(
        docs, vocab_size=40, seed_size=96, n_rounds=3, max_piece_len=6
    )
    want = _ref_train(CORPUS, 40, 96, 3, 6)
    assert [(p, c) for p, c, _ in got] == [(p, c) for p, c, _ in want]
    for (_, _, a), (_, _, b) in zip(got, want):
        assert abs(a - b) < 1e-12


def test_unigram_lm_distributed_loop_matches_sequential_reference(
    spark, distributed_only
):
    test_unigram_lm_matches_sequential_reference_exactly(spark)


def test_unigram_apply_segments_and_covers(spark):
    """Viterbi decode: segmentation concatenates back to the word
    stream (lossless), and discovered morphemes actually appear as
    pieces (non-vacuous subword learning)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    vocab = ul.train_unigram_lm(
        docs, vocab_size=40, seed_size=96, n_rounds=3, max_piece_len=6
    )
    pieces = {p for p, _, _ in vocab}
    assert {"happy", "un", "ness", "think", "the"} <= pieces
    out = {r.doc_id: r for r in ul.apply_unigram_lm(docs, vocab).collect()}
    for i, text in enumerate(CORPUS):
        rebuilt = out[i].tokens.replace(" ", "")
        assert rebuilt == text.lower().replace(" ", "")
        assert out[i].n_pieces == len(out[i].tokens.split())


def test_unigram_estep_partition_invariant(spark):
    """Hard-EM counts are integers: identical under 1 vs 13
    partitions (the property that makes the trainer exact on any
    cluster layout)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    a = ul.train_unigram_lm(
        docs.coalesce(1), vocab_size=40, seed_size=96, n_rounds=2
    )
    b = ul.train_unigram_lm(
        docs.repartition(13), vocab_size=40, seed_size=96, n_rounds=2
    )
    assert a == b


def _all_segs(word, logp, max_len=6):
    """Every segmentation of ``word`` into ``logp`` pieces with the
    left-to-right score accumulation the oracles replay."""
    outs = []

    def rec(i, toks, score):
        if i == len(word):
            outs.append((score, tuple(toks)))
            return
        for ln in range(1, min(max_len, len(word) - i) + 1):
            piece = word[i : i + ln]
            lp = logp.get(piece)
            if lp is not None:
                toks.append(piece)
                rec(i + ln, toks, score + lp)
                toks.pop()

    rec(0, [], 0.0)
    return outs


def _ref_logp_tables(texts, vocab_size, seed_size, n_rounds=3, max_len=6):
    """Every logp table the unrolled replay evaluates segmentations
    under: seed, each pruned round, the final unpruned table, and the
    vocab-restricted apply table. Mirrors _ref_train's loop."""
    wf = _ref_word_freq(texts)
    logps = [_ref_logp(_ref_seed(wf, max_len, seed_size))]
    counts = {}
    for _ in range(n_rounds):
        counts = Counter()
        for w, f in wf.items():
            for piece in _ref_viterbi(w, logps[-1], max_len):
                counts[piece] += f
        counts = dict(counts)
        for p in logps[-1]:
            if len(p) == 1 and p not in counts:
                counts[p] = 0
        multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )
        n_chars = sum(1 for p in counts if len(p) == 1)
        keep = max(vocab_size - n_chars, int(len(multi) * 0.75))
        kept = dict(multi[:keep])
        kept.update((p, c) for p, c in counts.items() if len(p) == 1)
        logps.append(_ref_logp(kept))
    counts = Counter()
    for w, f in wf.items():
        for piece in _ref_viterbi(w, logps[-1], max_len):
            counts[piece] += f
    counts = dict(counts)
    for p in logps[-1]:
        if len(p) == 1 and p not in counts:
            counts[p] = 0
    logp_f = _ref_logp(counts)
    final = sorted(counts.items(), key=lambda pc: (-pc[1], pc[0]))
    chars = [(p, c) for p, c in final if len(p) == 1]
    multi = [(p, c) for p, c in final if len(p) > 1]
    room = max(vocab_size - len(chars), 0)
    vocab = {p for p, _ in chars + multi[:room]}
    logps.append(logp_f)
    logps.append({p: lp for p, lp in logp_f.items() if p in vocab})
    return wf, logps


def _has_ambiguous_argmax(wf, logps, max_len=6):
    for logp in logps:
        for w in wf:
            segs = _all_segs(w, logp, max_len)
            if not segs:
                return True
            segs.sort(key=lambda s: -s[0])
            best_score, best_toks = segs[0]
            for sc, toks in segs[1:]:
                if sc < best_score:
                    break
                if toks != best_toks:
                    return True
    return False


def test_unigram_oracle_preconditions():
    """The synthesized vocab_unigram_lm/apply oracles brute-force
    ALL segmentations and take the score argmax, which equals the
    trainer's tie-ruled Viterbi iff the best full-path score is
    strictly unique per word — pin that (and the ≤12-piece unroll
    bound) on the oracle SFs, for every logp table the replay uses
    (seed, three pruned rounds, final, and the vocab-restricted
    apply table), under BOTH trained configs (48/256 for the vocab
    queries, 64/512 for vocab_tokenizer_compare), on EVERY SF the
    driver exercises (the sf0.01 correctness window AND the sf0.1
    sweep)."""
    import duckdb

    for sf in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        texts = [
            r[0]
            for r in duckdb.sql(
                f"SELECT text FROM read_parquet('{sf}/documents.parquet')"
            ).fetchall()
        ]
        wf = _ref_word_freq(texts)
        assert max(len(w) for w in wf) <= 12, sf
        for vocab_size, seed_size in [(48, 256), (64, 512)]:
            wf, logps = _ref_logp_tables(texts, vocab_size, seed_size)
            assert not _has_ambiguous_argmax(wf, logps), (sf, vocab_size)


# ---------- property test of the SYNTHESIZED ORACLE generator
# (pipeline5._unigram_rounds_sql) against the sequential reference
# on RANDOM corpora — pure DuckDB vs pure Python. Corpora whose
# argmax is ambiguous under ANY replay logp table are assume()d
# away: that is exactly the precondition the fixed-corpus test pins,
# and ambiguous inputs are where brute-force argmax and tie-ruled
# Viterbi may legitimately differ.

from hypothesis import assume, given, settings
from hypothesis import strategies as st


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abcé日", min_size=1, max_size=8),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
def test_unigram_oracle_sql_matches_reference_on_random_corpora(texts):
    import math

    import duckdb

    from hdp2_5_hive_spark.queries.pipeline5 import _unigram_rounds_sql

    vocab_size, seed_size = 24, 64
    wf, logps = _ref_logp_tables(texts, vocab_size, seed_size)
    assume(wf)
    assume(not _has_ambiguous_argmax(wf, logps))

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, ?)" for i in range(len(texts)))
        + ") v(doc_id, text)",
        texts,
    )
    sql = f"""
WITH {_unigram_rounds_sql(vocab_size=vocab_size, seed_size=seed_size)}
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) - 1 AS INTEGER)
         AS rank,
       piece, CAST(cnt AS BIGINT) AS piece_count,
       FLOOR(lp * 1000000 + 0.5) / 1000000 AS logprob
FROM uvocab JOIN ulogpF USING (piece)
"""
    got = sorted(con.execute(sql).fetchall())
    want = [
        (i, p, c, math.floor(lp * 1e6 + 0.5) / 1e6)
        for i, (p, c, lp) in enumerate(
            _ref_train(texts, vocab_size, seed_size, 3, 6)
        )
    ]
    assert got == want, (texts, got, want)
