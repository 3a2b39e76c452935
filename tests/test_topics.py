"""Mixture-of-unigrams topic model: exact sequential-reference pins.

The distributed hard-EM trainer (operators/topics.py) must produce
EXACTLY the reference assignment and topic-word counts — integer
M-step counts + DECIMAL(12,6) E-step scores make the fit a pure
function of the data, independent of partitioning.
"""

from __future__ import annotations

from hdp2_5_hive_spark.operators import topics


def _planted_docs():
    """Three disjoint topical vocabularies + shared stopwords; the
    planted partition is exactly recoverable."""
    groups = {
        0: "kernel driver memory cache thread lock page fault".split(),
        1: "violin sonata tempo chord melody opera aria forte".split(),
        2: "glacier moraine tundra fjord permafrost basalt ridge".split(),
    }
    stop = "the a of and".split()
    docs = []
    did = 0
    for g, words in groups.items():
        for i in range(10):
            # deterministic word mix: rotate through the group vocab
            body = [words[(i + j) % len(words)] for j in range(12)]
            body += [stop[(did + j) % len(stop)] for j in range(4)]
            docs.append((did, " ".join(body)))
            did += 1
    return docs, groups


def test_planted_topics_recovered_and_pinned(spark):
    docs, groups = _planted_docs()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    assign, model = topics.train_topics(
        df, k=3, vocab_size=64, n_rounds=10
    )
    got = {r["doc_id"]: r["topic"] for r in assign.collect()}
    ref_assign, ref_model = topics.reference_topics(
        docs, k=3, vocab_size=64, n_rounds=10
    )
    # exact pin vs the sequential reference
    assert got == ref_assign
    assert model["counts"] == ref_model["counts"]
    assert model["doc_counts"] == ref_model["doc_counts"]
    assert model["vocab"] == ref_model["vocab"]
    # planted structure recovered: each planted group lands in ONE
    # topic, and distinct groups in distinct topics
    labels = {}
    for did, t in got.items():
        g = did // 10
        labels.setdefault(g, set()).add(t)
    assert all(len(ts) == 1 for ts in labels.values())
    assert len({next(iter(ts)) for ts in labels.values()}) == 3
    # hard EM converged (last round changed nothing)
    assert model["changed"][-1] == 0


def test_partition_invariance(spark):
    docs, _ = _planted_docs()
    base = spark.createDataFrame(docs, "doc_id long, text string")
    a1, m1 = topics.train_topics(
        base.repartition(1), k=3, vocab_size=64, n_rounds=10
    )
    a7, m7 = topics.train_topics(
        base.repartition(7), k=3, vocab_size=64, n_rounds=10
    )
    assert {
        (r["doc_id"], r["topic"]) for r in a1.collect()
    } == {(r["doc_id"], r["topic"]) for r in a7.collect()}
    assert m1["counts"] == m7["counts"]


def test_corpus_fit_pinned_exactly(spark, sf_dir):
    """The real documents table (sf0.001): distributed fit == the
    sequential reference, assignment for assignment."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = [
        (r["doc_id"], r["text"])
        for r in df.select("doc_id", "text").collect()
    ]
    assign, model = topics.train_topics(
        df, k=4, vocab_size=64, n_rounds=5
    )
    ref_assign, ref_model = topics.reference_topics(
        docs, k=4, vocab_size=64, n_rounds=5
    )
    got = {r["doc_id"]: r["topic"] for r in assign.collect()}
    assert got == ref_assign
    assert model["counts"] == ref_model["counts"]
    # non-vacuous: more than one topic survives on the real corpus
    assert len({t for t in got.values()}) > 1


def test_corpus_fit_distributed_loop_pinned_exactly(
    spark, sf_dir, distributed_only
):
    test_corpus_fit_pinned_exactly(spark, sf_dir)


def test_zero_invocab_docs_excluded(spark):
    docs = [(0, "alpha beta alpha"), (1, "beta gamma"), (2, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    assign, _ = topics.train_topics(df, k=2, vocab_size=8, n_rounds=3)
    ids = {r["doc_id"] for r in assign.collect()}
    assert ids == {0, 1}  # the empty doc is excluded by rule
