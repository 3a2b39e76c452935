"""Norm-once cosine: ``cosine_from_norms`` over ``with_norm`` columns
is the same double as the per-pair fold it replaced, bit for bit."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from hdp2_5_hive_spark.operators import similarity as sim


def _fold_cosine(a, b):
    """Python reference: the same sequential left folds in double."""
    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def test_cosine_from_norms_equals_per_pair_fold(spark):
    rng = random.Random(7)
    ordinary = [
        [rng.uniform(-3.0, 3.0) for _ in range(16)] for _ in range(6)
    ]
    edge = [
        None,  # null array
        [0.5] + [None] + [1.0] * 14,  # null element
        [0.0] * 16,  # zero vector: x / 0.0 is NULL (non-ANSI)
        [],  # empty array
    ]
    rows = list(enumerate(ordinary + edge))
    df = sim.with_norm(
        spark.createDataFrame(rows, "id int, v array<float>"), "v", "n"
    )
    a = df.select(
        F.col("id").alias("ia"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = df.select(
        F.col("id").alias("ib"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    va, vb = F.col("va"), F.col("vb")
    out = (
        a.crossJoin(b)
        .select(
            "ia",
            "ib",
            "va",
            "vb",
            sim.cosine_from_norms(va, vb, F.col("na"), F.col("nb")).alias(
                "new"
            ),
            # the per-pair expression: both norms folded inside the pair
            (
                sim.dot_col(va, vb) / (sim.norm_col(va) * sim.norm_col(vb))
            ).alias("old"),
        )
        .collect()
    )
    assert len(out) == len(rows) ** 2
    n_ord = len(ordinary)
    for r in out:
        assert r.new == r.old, (r.ia, r.ib, r.new, r.old)
        if r.ia < n_ord and r.ib < n_ord:
            assert r.new is not None
            assert r.new == _fold_cosine(r.va, r.vb), (r.ia, r.ib)
        else:
            assert r.new is None, (r.ia, r.ib, r.new)
