"""Distributed PageRank over an edge list — link-graph quality
weighting for crawl corpora.

Web-scale corpus curation weights documents by the authority of
their host (CommonCrawl publishes exactly this as its host-level
"harmonic/pr" ranks); a training-data engine therefore needs
PageRank as a first-class operator next to dedup and quality
scoring. Classic damped power iteration (Page et al. 1999):

    r'(v) = (1−d)/N + d · ( Σ_{u→v} r(u)/deg(u)  +  D/N )

where D is the total rank mass sitting on DANGLING nodes (no
out-edges) — redistributed uniformly, the standard stochastic fix;
without it rank mass leaks and the vector no longer sums to 1.

Scale shape (the same discipline as operators/components.py):

- each round is ONE join (ranks ⋈ edges on src — both sides hash-
  partition on the node id, AQE reuses the exchange) + ONE groupBy
  dst partial-sum; per-round shuffle is O(|E|), never N².
- the dangling mass D is a one-row aggregate carried into the next
  round as a broadcast scalar (crossJoin of a 1-row frame), not
  driver state.
- ranks are ``localCheckpoint``-ed every round: without lineage
  truncation the iterated plan grows exponentially and Catalyst
  analysis time, not data, becomes the bottleneck (on a real
  cluster prefer a durable checkpoint dir).
- convergence is fixed-iteration (``n_iter``), the production norm
  for link graphs (10-20 rounds); L1-delta stopping would add a
  per-round action without changing the plan shape.

Determinism note: contributions are float64 and the per-key sum
order is partition-dependent, so ranks are reproducible to ~1e-12
ulps, not bit-identical — tests pin against a sequential numpy
power iteration with tolerance, and partition-invariance is asserted
to 1e-9 (tests/test_components.py).

Reference parity: no graph operators exist in HDP 2.5 Hive —
beyond-reference under the pipeline mandate (SURVEY §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import util


def _pagerank_single_partition(
    e: DataFrame, n_iter: int, damping: float
) -> DataFrame:
    """The whole damped power iteration in ONE task — exact same
    per-round expression as the distributed loop ((1-d)/N +
    d*(inflow + D/N), float64), vectorized in numpy over the
    task-sized deduplicated edge list. Per-node inflow summation
    order is fixed (edge order after the node sort) where the
    distributed sum order is partition-dependent; both are inside
    the operator's documented ~1e-12 reproducibility band."""
    from pyspark.sql import types as T

    node_t = e.schema["u"].dataType
    schema = T.StructType(
        [T.StructField("node", node_t), T.StructField("rank", T.DoubleType())]
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        us: list = []
        vs: list = []
        for pdf in batches:
            us.extend(pdf["u"])
            vs.extend(pdf["v"])
        nodes = sorted(set(us) | set(vs))
        idx = {n: i for i, n in enumerate(nodes)}
        n = len(nodes)
        ui = np.fromiter((idx[u] for u in us), dtype=np.int64, count=len(us))
        vi = np.fromiter((idx[v] for v in vs), dtype=np.int64, count=len(vs))
        deg = np.bincount(ui, minlength=n).astype(np.float64)
        dangling = deg == 0
        r = np.full(n, 1.0 / n, dtype=np.float64)
        base_term = (1.0 - damping) / n
        for _ in range(n_iter):
            d_mass = float(r[dangling].sum())
            contrib = r[ui] / deg[ui]
            inflow = np.zeros(n, dtype=np.float64)
            np.add.at(inflow, vi, contrib)
            r = base_term + damping * (inflow + d_mass / float(n))
        yield pd.DataFrame({"node": nodes, "rank": r})

    return e.coalesce(1).mapInPandas(kernel, schema)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    n_iter: int = 15,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) for every node appearing in ``edges`` (either
    side). Duplicate edges are collapsed (link graphs count a link
    once); self-loops participate normally. Edges with a null
    endpoint are ignored (as in ``connected_components`` and
    ``k_core``): a null key never matches in the per-round joins, so
    such an edge would leak rank mass, and no null node appears in
    the output. A task-sized edge list (``util.task_sized``) runs the
    single-task kernel; a larger one takes the distributed loop.

    Retention: the edge list, node table and every round's ranks are
    local checkpoints (on the distributed path the edge list is
    checkpointed twice, before and after the right-size repartition).
    ``unpersist`` and ``clearCache`` do not free local checkpoint
    blocks; the ContextCleaner frees them once the frame that owns
    them is garbage-collected. Superseded checkpoints therefore live
    until the next JVM GC, and the one the result reads lives as long
    as the returned frame."""
    spark = edges.sparkSession
    # Materialize the deduplicated edge list ONCE: every round's join
    # referenced the lazy `e`, so each of the n_iter checkpoints
    # re-ran the upstream scan + distinct (measured on the 40-host
    # bench graph: warm query 6.0s; with e/base checkpointed and the
    # loop right-sized, ~1s — guide §2.4, remove repeated shuffles).
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .dropna()
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges, fits = util.task_sized(e, util.IN_TASK_MAX_ROWS)
    if n_edges == 0:
        raise ValueError("pagerank: empty edge list (no nodes)")
    if fits:
        # The deduplicated edge list is task-sized ⇒ run the whole
        # power iteration in ONE task (the k_core/union-find in-task
        # discipline). Measured on the 40-host bench graph: the
        # distributed loop's cost is 15 rounds × one action each
        # (localCheckpoint + a broadcast exchange per round) ≈ 6s
        # warm at ANY scale factor below the bound — pure scheduling,
        # not data. The kernel mirrors the round expression term by
        # term ((1-d)/N + d*(inflow + D/N), float64 throughout); the
        # only difference is per-node summation order, which the
        # operator contract already leaves open (ranks reproducible
        # to ~1e-12, tests pin vs numpy at 1e-9, partition-invariance
        # asserted — module docstring). Parity with the distributed
        # loop is pinned in tests/test_components.py. At warehouse
        # scale the count exceeds the bound and the loop below runs
        # unchanged.
        return _pagerank_single_partition(e, n_iter, damping)
    # Right-size the loop frames (the components.py discipline):
    # per-round stages over a small graph otherwise schedule
    # shuffle.partitions near-empty tasks. At scale `target` is the
    # session default and this is a no-op.
    target = util.loop_partitions(e, n_edges)
    e = e.repartition(target, "u").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # out-degree rides with the node row so the per-round join emits
    # rank/deg directly; dangling nodes carry deg NULL. Checkpointed:
    # the per-round rank recompute joins `base` every round.
    base = (
        nodes.join(deg, nodes["node"] == deg["u"], "left")
        .select("node", "deg")
        .localCheckpoint(eager=True)
    )
    n_total = base.count()  # one row per node; scalar driver state
    if n_total == 0:
        raise ValueError("pagerank: empty edge list (no nodes)")
    ranks = base.withColumn(
        "rank", F.lit(1.0 / n_total)
    ).localCheckpoint()

    # Capture the EFFECTIVE shuffle-partition value and pin the loop's
    # shuffles to the right-sized target (the components_star
    # discipline); restored in `finally` — every round materializes
    # via its eager localCheckpoint, so nothing lazy escapes the
    # conf window.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
        for _ in range(n_iter):
            dangling = ranks.filter(F.col("deg").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dmass")
            )
            contrib = (
                ranks.filter(F.col("deg").isNotNull())
                .join(e, ranks["node"] == e["u"])
                .select(
                    F.col("v").alias("node"),
                    (F.col("rank") / F.col("deg")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("inflow"))
            )
            ranks = (
                base.join(contrib, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    "deg",
                    (
                        F.lit((1.0 - damping) / n_total)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("inflow"), F.lit(0.0))
                            + F.col("_dmass") / F.lit(float(n_total))
                        )
                    ).alias("rank"),
                )
                .localCheckpoint()
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return ranks.select("node", "rank")
