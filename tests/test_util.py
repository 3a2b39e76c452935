"""ensure_parallelism branch coverage: under-split repartition,
adaptive-plan passthrough, and the public-API fallback (VERDICT r4
asked for the fallback path to stay tested — it guards against a
future Spark hiding the JVM queryExecution internals)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdp2_5_hive_spark.operators.util import ensure_parallelism


def test_repartitions_undersplit_input(spark):
    df = spark.range(0, 10_000).coalesce(1)
    out = ensure_parallelism(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_leaves_adaptive_plan_untouched(spark):
    """Post-shuffle output is sized by spark.sql.shuffle.partitions
    already; probing it would eagerly run the upstream stages, so the
    SAME object must come back."""
    df = (
        spark.range(0, 10_000)
        .groupBy((F.col("id") % 10).alias("k"))
        .count()
    )
    assert ensure_parallelism(df) is df


def test_leaves_wellsplit_input_untouched(spark):
    df = spark.range(0, 10_000, 1, 32)
    assert ensure_parallelism(df) is df


def test_keyed_split_survives_aqe_coalescing(spark):
    """A keyed split of a one-split input is the layout its keyed
    consumer reuses, with the shuffle-partition count: AQE may not
    coalesce it back into the single task the split was meant to
    remove, so the downstream ``groupBy("k")`` runs in more than one
    task."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("needs more than one core")
    df = spark.range(0, 10_000).coalesce(1).select(
        (F.col("id") % 97).alias("k")
    )
    out = ensure_parallelism(df, by=["k"]).groupBy("k").count()
    parts = {r.p for r in out.select(F.spark_partition_id().alias("p")).collect()}
    assert len(parts) > 1, parts


def test_fallback_to_public_api(spark):
    """When the JVM plan walk raises (simulated: a _jdf proxy whose
    queryExecution throws but everything else forwards), the public
    df.rdd fallback must still size the input correctly."""

    class ProxyJdf:
        def __init__(self, real):
            self._real = real

        def queryExecution(self):
            raise RuntimeError("simulated private-API removal")

        def __getattr__(self, name):
            return getattr(self._real, name)

    df = spark.range(0, 10_000).coalesce(1)
    df._jdf = ProxyJdf(df._jdf)
    out = ensure_parallelism(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_assign_row_ids_dense_unique(spark):
    """Ids are exactly 0..n-1 (dense, unique) across an arbitrary
    multi-partition frame, and the two-pass plan never coalesces to
    one partition."""
    from hdp2_5_hive_spark.operators.util import assign_row_ids

    df = spark.range(0, 1000).repartition(7)
    out = assign_row_ids(df)
    rows = out.collect()
    ids = sorted(r.row__id for r in rows)
    assert ids == list(range(1000))
    # payload intact and ids unique per payload row
    assert len({(r.id, r.row__id) for r in rows}) == 1000
    assert out.rdd.getNumPartitions() > 1
