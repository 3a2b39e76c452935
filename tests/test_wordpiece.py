"""Distributed WordPiece trainer vs a from-scratch sequential
reference: likelihood-scored merges (count(ab)/(count(a)count(b)))
must match EXACTLY in pair, order, count and score; greedy
longest-match-first apply pinned by hand and vs the reference."""

from __future__ import annotations

from collections import Counter

from hdp2_5_hive_spark.operators import wordpiece as wp


def _decompose(w: str) -> list[str]:
    return [w[0]] + ["##" + c for c in w[1:]]


def _reference_wordpiece(texts, n_merges: int, min_pair: int = 2):
    wf = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if w:
                wf[w] += 1
    words = {w: _decompose(w) for w in wf}
    merges = []
    for rank in range(n_merges):
        pc, sc = Counter(), Counter()
        for w, syms in words.items():
            f = wf[w]
            for s in syms:
                sc[s] += f
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        cand = [
            (left, right, cnt, cnt / (sc[left] * sc[right]))
            for (left, right), cnt in pc.items()
            if cnt >= min_pair
        ]
        if not cand:
            break
        # max score (IEEE double), ties: higher count, then lex pair
        left, right, cnt, score = min(
            cand, key=lambda x: (-x[3], -x[2], x[0], x[1])
        )
        merged = left + (right[2:] if right.startswith("##") else right)
        merges.append((rank, left, right, merged, cnt, score))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


def test_wordpiece_matches_reference_on_corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = wp.train_wordpiece(docs, "text", n_merges=10)
    texts = [r.text for r in docs.select("text").collect()]
    want = _reference_wordpiece(texts, n_merges=10)
    assert got == want


def test_wordpiece_distributed_loop_matches_reference_on_corpus(
    spark, sf_dir, distributed_only
):
    test_wordpiece_matches_reference_on_corpus(spark, sf_dir)


def test_wordpiece_score_beats_raw_count(spark):
    """The discriminating case vs BPE: (a,##b) occurs 10 times but
    both symbols are frequent (score 10/(10*10)); (x,##y) occurs 5
    with rare symbols (score 5/(5*5)=0.2) — WordPiece merges xy
    FIRST, BPE would merge ab."""
    rows = [(i, "ab") for i in range(10)] + [
        (100 + i, "xy") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = wp.train_wordpiece(df, "text", n_merges=1)
    assert len(got) == 1
    assert (got[0][1], got[0][2], got[0][3]) == ("x", "##y", "xy")
    assert got[0][4] == 5
    assert abs(got[0][5] - 0.2) < 1e-12


def test_wordpiece_merged_symbol_keeps_continuation_marker(spark):
    """Merging continuation pairs keeps the ## prefix: in 'abc'
    (a, ##b, ##c), merging (##b, ##c) yields '##bc' — still a
    continuation piece."""
    rows = [(i, "abc") for i in range(4)] + [(50 + i, "zbc") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = wp.train_wordpiece(df, "text", n_merges=1)
    # (##b,##c) count 8 score 8/64; (a,##b) 4/(4*8); (z,##b) 4/(4*8)
    assert (got[0][1], got[0][2], got[0][3]) == ("##b", "##c", "##bc")


def test_greedy_apply_hand_computed_and_unk(spark):
    vocab = ["un", "##able", "##b", "a", "able", "##le"]
    assert wp.encode_word_greedy("unable", set(vocab)) == ["un", "##able"]
    assert wp.encode_word_greedy("able", set(vocab)) == ["able"]
    # longest-match-first: 'ab' -> 'a' + '##b'
    assert wp.encode_word_greedy("ab", set(vocab)) == ["a", "##b"]
    # unmatchable remainder collapses the WHOLE word to [UNK]
    assert wp.encode_word_greedy("abq", set(vocab)) == [wp.UNK]
    df = spark.createDataFrame(
        [(1, "unable able"), (2, "abq ab")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in wp.apply_wordpiece(df, vocab).collect()
    }
    assert rows[1].tokens == "un ##able able"
    assert (rows[1].n_tokens, rows[1].n_unk) == (3, 0)
    assert rows[2].tokens == "[UNK] a ##b"
    assert (rows[2].n_tokens, rows[2].n_unk) == (3, 1)


def test_wordpiece_apply_no_unk_with_full_alphabet(spark, sf_dir):
    """A trained vocab always contains the full alphabet, so apply
    over the training corpus never emits [UNK]; tokenization is
    partition-invariant."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    vocab, merges = wp.wordpiece_vocab(docs, "text", n_merges=6)
    assert len(merges) == 6
    out = wp.apply_wordpiece(docs, vocab)
    assert out.filter("n_unk > 0").count() == 0
    one = sorted(
        (r.doc_id, r.tokens)
        for r in wp.apply_wordpiece(docs.coalesce(1), vocab).collect()
    )
    many = sorted(
        (r.doc_id, r.tokens)
        for r in wp.apply_wordpiece(docs.repartition(13), vocab).collect()
    )
    assert one == many


def test_wp_apply_oracle_preconditions():
    """The synthesized vocab_wordpiece_apply oracle unrolls the
    greedy longest-match encoder to max_pieces=12 consume-one-piece
    rounds (queries/pipeline6._wp_apply_oracle). Each piece covers
    at least one character, so 12 rounds suffice iff no corpus word
    exceeds 12 characters — pin that bound on EVERY SF the driver
    exercises (the sf0.01 correctness window AND the sf0.1 sweep)."""
    import duckdb

    for sf in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        con = duckdb.connect()
        mx = con.execute(
            f"""SELECT MAX(length(w)) FROM (
                  SELECT unnest(string_split(lower(text), ' ')) AS w
                  FROM read_parquet('{sf}/documents.parquet')) _
                WHERE w <> ''"""
        ).fetchone()[0]
        assert mx <= 12, (sf, mx)


def test_charsplit_parity_precondition():
    """All three tokenizer-oracle replays (BPE, WordPiece, unigram)
    split words into characters with DuckDB string indexing, which
    counts GRAPHEME CLUSTERS, while the trainers split by code
    points (Python list(w) / Java regex). Equal iff the corpus has
    no combining sequences or other multi-codepoint graphemes — pin
    exact per-word parity on the oracle SFs."""
    import duckdb

    for sf in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        con = duckdb.connect()
        rows = con.execute(
            f"""SELECT w, list_transform(range(1, length(w) + 1), i -> w[i])
                FROM (
                  SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS w
                  FROM read_parquet('{sf}/documents.parquet')) _
                WHERE w <> ''"""
        ).fetchall()
        assert rows
        for w, chars in rows:
            assert chars == list(w), (sf, w, chars)


# ---------- property test of the SYNTHESIZED ORACLE generator
# (pipeline6._wp_rounds_sql / _wp_encode_rounds) against the
# sequential reference on RANDOM corpora — pure DuckDB vs pure
# Python. Scores divide exact integers as IEEE doubles on both
# sides and ties break on integers/strings, so random corpora stay
# engine-deterministic; word length is capped below the 12-piece
# encoder unroll bound.

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abcé日", min_size=1, max_size=9),
            min_size=1,
            max_size=10,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_wp_oracle_sql_matches_reference_on_random_corpora(texts):
    import math

    import duckdb

    from hdp2_5_hive_spark.queries.pipeline6 import (
        _wp_apply_oracle,
        _wp_merges_oracle,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, ?)" for i in range(len(texts)))
        + ") v(doc_id, text)",
        texts,
    )
    want = _reference_wordpiece(texts, n_merges=5)
    got = sorted(con.execute(_wp_merges_oracle(5)).fetchall())
    assert got == [
        (r, lt, rt, m, c, math.floor(s * 1e6 + 0.5) / 1e6)
        for r, lt, rt, m, c, s in want
    ], (texts, got, want)

    # apply: greedy longest-match vs the reference encoder
    vocab = set()
    for t in texts:
        for w in t.lower().split(" "):
            if w:
                vocab.update(_decompose(w))
    vocab.update(m[3] for m in want)
    got_docs = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(_wp_apply_oracle(5)).fetchall()
    }
    for i, t in enumerate(texts):
        doc = []
        for w in t.lower().split(" "):
            if w:
                doc.extend(wp.encode_word_greedy(w, vocab))
        n_unk = sum(1 for s in doc if s == wp.UNK)
        assert got_docs[i] == (" ".join(doc), len(doc), n_unk), (texts, i)
