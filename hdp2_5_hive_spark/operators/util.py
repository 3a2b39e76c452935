"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame

# owner key -> the frame that owner's last ``materialize`` call persisted
_materialized: dict[str, DataFrame] = {}


def materialize(df: DataFrame, owner: str) -> DataFrame:
    """Persist ``df`` as ``owner``'s cross-call table and return it,
    first releasing the table the previous call for ``owner``
    persisted — so a caller that runs an operator in a loop (the
    bench, a sweep) holds one copy of each table, never one per call.

    Contract: single-threaded, last call wins. The next call for the
    same ``owner`` releases this table even if a lazy DataFrame
    built on it has not executed yet; that frame then recomputes the
    lineage (same rows, only slower). Tables that one query needs
    cached together take different ``owner`` keys.

    The previous table is released BEFORE ``df`` is persisted: a
    same-plan ``unpersist`` after the persist would drop the new
    cache entry as well (the cache manager matches entries by plan).
    ``spark.catalog.clearCache()`` also drops every table held here.
    """
    prev = _materialized.pop(owner, None)
    if prev is not None:
        try:  # the frame may belong to a stopped session
            prev.unpersist()
        except Exception:
            pass
    df = df.persist()
    _materialized[owner] = df
    return df


def ensure_parallelism(
    df: DataFrame, min_factor: float = 0.5, *, by: list[str] | None = None
) -> DataFrame:
    """Repartition iff the input has fewer partitions than the
    cluster can use (Hive's split-generation tuning,
    ``mapreduce.input.fileinputformat.split.maxsize`` analogue).

    CPU-heavy projections (shingling, hashing, per-vector math)
    otherwise serialize on however many splits the scan produced — a
    single-file, single-row-group parquet table runs on ONE core no
    matter how wide the cluster. At warehouse scale inputs carry
    thousands of splits and this is a no-op; the shuffle of raw rows
    only triggers on pathologically under-split inputs.

    ``by``: when the consumer is keyed on these columns (a groupBy /
    join), hash-repartition on them instead of round-robin — the
    downstream operator then REUSES this exchange (guide §2.4: two
    operations keyed the same way share one shuffle), where a
    round-robin split would both add a second exchange and destroy
    any key clustering the scan order carried (measured on the
    150k-group q18 aggregate: 1.98s round-robin vs 0.49s keyed).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Partition count from the physical plan's RDD lineage WITHOUT
    # df.rdd: .rdd builds a Python-facing RDD (deserializer plan +
    # analysis barrier) per call; the JVM-side executedPlan RDD is
    # already there. BUT only when the plan is non-adaptive: calling
    # execute() on AdaptiveSparkPlanExec eagerly materializes every
    # intermediate query stage (runs the shuffles) at inspection time,
    # and that work re-runs when the returned df actually executes.
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if "AdaptiveSparkPlan" in plan.getClass().getSimpleName():
            # Adaptive wrapper => the plan contains an exchange, so the
            # input is shuffle output already sized by
            # spark.sql.shuffle.partitions — parallelism is ensured by
            # construction, and ANY partition probe (plan.execute() or
            # df.rdd) would eagerly run the upstream stages twice.
            return df
        n_parts = plan.execute().getNumPartitions()
    except Exception:  # future-proof: fall back to the public API
        n_parts = df.rdd.getNumPartitions()
    if n_parts < max(1, int(target * min_factor)):
        if by:
            # No explicit partition count: hashpartitioning(by,
            # spark.sql.shuffle.partitions) exactly matches the
            # downstream keyed operator's required distribution, so
            # the plan carries ONE exchange at any core count.
            from pyspark.sql import functions as F

            return df.repartition(*[F.col(c) for c in by])
        return df.repartition(target)
    return df


def right_size_loop_frame(
    df: DataFrame, n_rows: int, *, rows_per_partition: int = 65536
) -> DataFrame:
    """Coalesce a persisted/checkpointed frame that an iterative
    trainer re-scans EVERY round, so per-round jobs schedule tasks
    proportional to the data rather than to the session's static
    shuffle layout (guide §2: make partitioning scale-adaptive, not a
    constant tuned for local mode or the cluster).

    Why this exists: cached/checkpointed plans keep the
    ``spark.sql.shuffle.partitions`` layout — AQE's partition
    coalescing does not re-split materialized output
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
    is off by default). A 31-row word table therefore sits in 32
    partitions, and a 24-round trainer schedules 24×2×32 near-empty
    tasks (measured: the BPE loop spent ~85% of its wall-clock in
    task scheduling + empty Arrow batches).

    ``coalesce`` is narrow (no shuffle; merged reads of the existing
    cached blocks) and never INCREASES partition count, so at
    warehouse scale — where the frame already holds ≥rows_per_partition
    rows per partition — this is a no-op by construction.
    """
    target = max(1, (max(n_rows, 0) + rows_per_partition - 1) // rows_per_partition)
    return df.coalesce(target)


def assign_row_ids(df: DataFrame, id_col: str = "row__id") -> DataFrame:
    """Dense unique surrogate ids 0..n-1 — the scalable zipWithIndex
    pattern (Hive's ROW__ID assignment in ``OrcRecordUpdater`` plays
    the same role per bucket): ONE count-per-partition pass (a
    #partitions-sized collect — bounded driver state), offsets
    broadcast, then a map-only second pass adds offset + local
    index. No global sort, no single-partition coalesce, no
    monotonically_increasing_id gaps — ids are dense, which
    downstream array/matrix addressing (PQ codes, bitmap indexes)
    requires. Ordering follows the physical partitioning (like
    RDD.zipWithIndex); pin it by sorting WITHIN partitions upstream
    if a stable order matters.

    Contract (same as RDD.zipWithIndex, which makes the identical
    two-pass trade): ``df``'s plan must be DETERMINISTIC — the count
    pass and the tagging pass each execute it once, and a
    nondeterministic input (unseeded sample, rand()) could change
    partition contents between them, silently breaking id density/
    uniqueness. localCheckpoint upstream if the input isn't."""
    from pyspark.sql import functions as F

    counts = {
        r["pid"]: r["n"]
        for r in df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    from pyspark.sql import types as T

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(id_col, T.LongType(), False)]
    )

    def tag(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = offsets.get(pid, 0)
        seen = 0
        for pdf in iterator:
            pdf[id_col] = range(base + seen, base + seen + len(pdf))
            seen += len(pdf)
            yield pdf

    return df.mapInPandas(tag, schema)
