"""Cache lifetimes of ``operators.util.materialize``: every operator
that persists a table across calls keeps exactly one copy per table
(last call wins), a same-plan repeat call keeps its table cached, and
a frame built on a released table still returns its rows."""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from hdp2_5_hive_spark.operators import audiofp as af
from hdp2_5_hive_spark.operators import corpus as cp
from hdp2_5_hive_spark.operators import dedup as dd
from hdp2_5_hive_spark.operators import multimodal as mm
from hdp2_5_hive_spark.operators import phash as ph
from hdp2_5_hive_spark.operators import quality as qu
from hdp2_5_hive_spark.operators import retrieval as rt
from hdp2_5_hive_spark.operators import similarity as sim
from hdp2_5_hive_spark.operators.util import _materialized
from hdp2_5_hive_spark.queries import query_map

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog tonight"),
    (3, "a completely different sentence about spark and hive"),
    (4, "a completely different sentence about spark and hive tables"),
    (5, "nothing here matches any other document at all"),
    (6, "data model trains on data with the quick brown fox"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _variant(df, i):
    """Same rows, a different plan per ``i``: calls on different
    variants cannot share one cache entry, so a table that is not
    released shows up as an extra persisted RDD."""
    return df.filter(F.col(df.columns[0]).cast("string") != F.lit(f"~{i}"))


def _bm25(docs, i=0):
    docs = _variant(docs, i)
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return rt.bm25_scores(docs, queries)


def _images(spark):
    rows = []
    for gid in range(2):
        rng = np.random.RandomState(500 + gid)
        base = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
        for m in range(3):
            px = base.copy()
            px[m, m] = (px[m, m].astype(np.int64) + 10) % 256
            rows.append(
                {
                    "media_id": f"g{gid}_m{m}",
                    "payload": mm.encode_ppm(16, 16, px.reshape(-1)),
                }
            )
    return ph.phash_table(spark.createDataFrame(pd.DataFrame(rows)))


def _vectors(spark):
    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(24)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _query(name):
    """Run a registered query over a variant of the sf documents
    table (the query persists its table inside its own body)."""

    def run(spark, docs, i, *, sf_dir, monkeypatch):
        from hdp2_5_hive_spark.queries import registry

        documents = _variant(registry.tables_for(spark, sf_dir).documents, i)
        monkeypatch.setattr(
            registry,
            "tables_for",
            lambda spark, sf_dir: SimpleNamespace(documents=documents),
        )
        try:
            return query_map()[name](spark, sf_dir)
        finally:
            monkeypatch.undo()

    return run


# One operator per module that routes a persist through materialize;
# each takes (spark, docs, variant).
OPERATORS = {
    "dedup": lambda spark, docs, i, **_: dd.near_duplicate_pairs(
        _variant(docs, i), "doc_id", "text", threshold=0.5
    ),
    "corpus": lambda spark, docs, i, **_: cp.decontaminate_bloom(
        _variant(docs, i).filter(F.col("doc_id") > 2),
        docs.filter(F.col("doc_id") <= 2),
    ),
    "quality": lambda spark, docs, i, **_: qu.dsir_logratio(
        _variant(docs, i), F.col("doc_id") % 2 == 0, "doc_id", "text",
        n_buckets=64,
    ),
    "retrieval": lambda spark, docs, i, **_: _bm25(docs, i),
    "phash": lambda spark, docs, i, **_: ph.phash_near_pairs(
        _variant(_images(spark), i)
    ),
    "audiofp": lambda spark, docs, i, **_: af.audio_near_dups(
        af.synthesize_tone_wavs(
            _variant(
                spark.createDataFrame([(1,), (2,), (201,)], "doc_id long"), i
            ),
            "doc_id",
        ),
        frame_len=64,
    ),
    "similarity": lambda spark, docs, i, **_: sim.lsh_bucket_topk(
        _variant(_vectors(spark), i), dim=8, n_planes=2, k=3
    ),
    "pipeline": _query("dedup_simhash"),
    "pipeline5": _query("corpus_clean_v8"),
}


def test_same_plan_repeat_call_keeps_its_table_cached(spark, docs):
    """The second call releases the first call's tf table BEFORE it
    persists its own: released after, the same-plan uncache would
    drop the new entry too and every consumer would recompute tf."""
    spark.catalog.clearCache()
    _bm25(docs).collect()
    _bm25(docs).collect()
    tf = _materialized["retrieval.bm25_tf"]
    assert tf.storageLevel != StorageLevel.NONE


@pytest.mark.parametrize("module", sorted(OPERATORS))
def test_repeat_calls_do_not_accumulate_persisted_rdds(
    spark, docs, sf_dir, monkeypatch, module
):
    """Persisted RDD count after three calls (each on a different
    plan of the same rows) equals the count after one. Counted
    against a baseline taken after clearCache, so local checkpoints
    left by earlier tests (freed whenever the JVM collects them)
    cannot move the figure."""
    op = OPERATORS[module]
    spark.catalog.clearCache()
    baseline = _persisted_ids(spark)
    counts = []
    for i in range(3):
        op(spark, docs, i, sf_dir=sf_dir, monkeypatch=monkeypatch).collect()
        counts.append(len(_persisted_ids(spark) - baseline))
    assert counts[0] > 0, "the operator persisted nothing"
    assert counts == [counts[0]] * 3


def test_frame_on_released_table_returns_same_rows(spark, docs):
    """A later call releases the table a lazy frame was built on; the
    frame then recomputes its lineage and returns the same rows, both
    when it executed before the release and when it did not."""
    other = docs.filter(F.col("doc_id") != 2)
    executed = dd.lsh_candidate_pairs(docs, "doc_id", "text")
    before = sorted(executed.collect())
    assert before
    never_run = dd.near_duplicate_pairs(docs, "doc_id", "text", threshold=0.5)
    dd.lsh_candidate_pairs(other, "doc_id", "text").collect()
    dd.near_duplicate_pairs(other, "doc_id", "text", threshold=0.5).collect()
    assert sorted(executed.collect()) == before
    got = sorted(never_run.collect())
    fresh = sorted(
        dd.near_duplicate_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    )
    assert got == fresh
    assert (1, 2) in {(r.id_a, r.id_b) for r in got}
