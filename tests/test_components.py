"""Connected-components operator (operators/components.py) — the
dedup-resolution stage. Shapes: multi-cluster graphs, chains (worst
diameter), rings, convergence guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdp2_5_hive_spark.operators import components as cc


def _components(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = cc.connected_components(df, **kw)
    return {(r.node, r.component) for r in out.collect()}


def test_two_clusters(spark):
    got = _components(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_chain_converges_to_min(spark):
    # 0-1-2-...-9: worst-case diameter for hash-min
    got = _components(spark, [(i, i + 1) for i in range(9)])
    assert got == {(i, 0) for i in range(10)}


def test_ring(spark):
    got = _components(spark, [(i, (i + 1) % 6) for i in range(6)])
    assert got == {(i, 0) for i in range(6)}


def test_direction_irrelevant(spark):
    # all edges point "down" toward the min — propagation must still
    # reach every node because the edge list is symmetrized
    got = _components(spark, [(5, 1), (4, 1), (3, 1)])
    assert got == {(1, 1), (3, 1), (4, 1), (5, 1)}


def test_convergence_guard_raises(spark, distributed_only):
    # The single-task union-find solves any small graph outright and
    # never needs the round guard, so the fixture pins the loop.
    edges = [(i, i + 1) for i in range(30)]
    with pytest.raises(cc.ConvergenceError):
        cc.connected_components(
            spark.createDataFrame(edges, "src long, dst long"),
            max_iter=3,
        )


# (None, 2) and (6, None) must be ignored on every path: a NaN id
# makes union-find's find() loop forever (NaN != NaN), None among
# strings breaks sorted(), and the two distributed loops would label
# a null node differently.
NULL_CC_EDGES = [(1, 2), (2, 3), (5, 6), (None, 2), (6, None)]


@pytest.mark.parametrize(
    "edges,dtype",
    [
        ([(7, 3), (3, 9), (20, 21), (1, 1), (9, 40), (41, 40)], "long"),
        (NULL_CC_EDGES, "long"),
        (NULL_CC_EDGES, "string"),
    ],
    ids=["plain-long", "null-long", "null-string"],
)
def test_single_task_fastpath_matches_distributed(
    spark, request, edges, dtype
):
    """The single-task union-find fast path, the distributed hash-min
    loop and both star paths must label identically (min reachable
    id), with no null node."""
    cast = str if dtype == "string" else int
    rows = [tuple(None if x is None else cast(x) for x in e) for e in edges]
    df = spark.createDataFrame(rows, f"src {dtype}, dst {dtype}")

    def labels(op):
        return {(r.node, r.component) for r in op(df).collect()}

    auto = labels(cc.connected_components)
    auto_star = labels(cc.connected_components_star)
    request.getfixturevalue("distributed_only")
    dist = labels(cc.connected_components)
    dist_star = labels(cc.connected_components_star)
    assert auto == dist == auto_star == dist_star and auto
    assert all(n is not None and c is not None for n, c in auto)


def test_keep_list_marks_min_per_cluster(spark):
    df = spark.createDataFrame([(7, 3), (3, 9), (20, 21)], "src long, dst long")
    kl = cc.keep_list(cc.connected_components(df))
    rows = {(r.node, r.canonical_id, r.is_kept) for r in kl.collect()}
    assert rows == {
        (3, 3, True),
        (7, 3, False),
        (9, 3, False),
        (20, 20, True),
        (21, 20, False),
    }


def test_pair_set_transitivity(spark, sf_dir):
    """A~B and B~C ⇒ same component even when A~C is absent from the
    pair list (the reason components exist at all)."""
    from hdp2_5_hive_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dd.near_duplicate_pairs(docs, "doc_id", "text", threshold=0.6)
    comps = cc.connected_components(pairs, "id_a", "id_b")
    joined = (
        pairs.join(
            comps.select(F.col("node").alias("id_a"), F.col("component").alias("ca")),
            "id_a",
        ).join(
            comps.select(F.col("node").alias("id_b"), F.col("component").alias("cb")),
            "id_b",
        )
    )
    assert joined.filter(F.col("ca") != F.col("cb")).count() == 0


def test_star_equals_hashmin_on_clustered_graph(spark):
    """large-star/small-star and hash-min must reach the identical
    fixpoint on a random clustered graph (seeded)."""
    import random

    from hdp2_5_hive_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(3)
    edges = [(rng.randrange(0, 200), rng.randrange(0, 200)) for _ in range(300)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {(r.node, r.component) for r in connected_components(df).collect()}
    b = {(r.node, r.component) for r in connected_components_star(df).collect()}
    assert a == b and a


def test_star_converges_on_long_chain_where_hashmin_cannot(
    spark, distributed_only
):
    """A 400-edge path graph has diameter 400: hash-min at its
    default 20-round budget must raise ConvergenceError, while the
    star variant converges in O(log n) rounds and labels every node
    with the chain head."""
    import pytest as _pytest

    from hdp2_5_hive_spark.operators.components import (
        ConvergenceError,
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "src long, dst long"
    )
    # The fixture pins the distributed loops (the auto fast path
    # would solve the chain in one task on either variant).
    with _pytest.raises(ConvergenceError):
        connected_components(chain)
    labels = connected_components_star(chain).collect()
    assert len(labels) == 401
    assert all(r.component == 0 for r in labels)


class TestPageRank:
    def _numpy_pr(self, edges, n_iter=15, d=0.85):
        import numpy as np

        nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
        ix = {n: i for i, n in enumerate(nodes)}
        n = len(nodes)
        uniq = sorted(set(edges))
        deg = np.zeros(n)
        for u, _ in uniq:
            deg[ix[u]] += 1
        r = np.full(n, 1.0 / n)
        for _ in range(n_iter):
            dmass = r[deg == 0].sum()
            nr = np.full(n, (1 - d) / n) + d * dmass / n
            for u, v in uniq:
                nr[ix[v]] += d * r[ix[u]] / deg[ix[u]]
            r = nr
        return {nodes[i]: r[i] for i in range(n)}

    EDGES = [
        (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 2),
        (5, 1), (1, 2),          # duplicate edge (collapsed)
        (2, 6),                  # 6 is dangling (no out-edges)
    ]

    def test_matches_sequential_power_iteration(self, spark):
        from hdp2_5_hive_spark.operators.pagerank import pagerank

        df = spark.createDataFrame(self.EDGES, "src long, dst long")
        got = {
            r.node: r.rank for r in pagerank(df, n_iter=15).collect()
        }
        want = self._numpy_pr(self.EDGES)
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
        # stochastic vector: mass conserved through dangling handling
        assert abs(sum(got.values()) - 1.0) < 1e-9

    def test_partition_invariant(self, spark):
        from hdp2_5_hive_spark.operators.pagerank import pagerank

        df = spark.createDataFrame(self.EDGES, "src long, dst long")
        a = {r.node: r.rank for r in pagerank(df, n_iter=10).collect()}
        b = {
            r.node: r.rank
            for r in pagerank(df.repartition(13), n_iter=10).collect()
        }
        for k in a:
            assert abs(a[k] - b[k]) < 1e-9

    # Null endpoints: both paths must ignore the null-endpoint edges
    # rather than feed None/NaN ids to the in-task kernel or leak rank
    # mass through joins on a null key.
    NULL_EDGES = [(1, 2), (2, 3), (3, 1), (None, 2), (1, None), (3, None)]

    @pytest.mark.parametrize(
        "edges,dtype",
        [
            (EDGES, "long"),
            (NULL_EDGES, "long"),
            (NULL_EDGES, "string"),
        ],
        ids=["plain-long", "null-long", "null-string"],
    )
    def test_single_task_matches_distributed_loop(
        self, spark, request, edges, dtype
    ):
        """The auto-selected path and the distributed loop must agree
        within the operator's documented reproducibility band (the
        single-task kernel differs only in per-node float64 summation
        order). Sorted (node, rank) lists, not dicts, so duplicate
        None nodes cannot collapse."""
        from hdp2_5_hive_spark.operators.pagerank import pagerank

        cast = str if dtype == "string" else int
        rows = [
            tuple(None if x is None else cast(x) for x in e) for e in edges
        ]
        df = spark.createDataFrame(rows, f"src {dtype}, dst {dtype}")

        def ranks():
            out = pagerank(df, n_iter=15).collect()
            return sorted(
                ((r.node, r.rank) for r in out),
                key=lambda t: (t[0] is None, str(t[0]), t[1]),
            )

        fast = ranks()
        request.getfixturevalue("distributed_only")
        slow = ranks()
        assert [n for n, _ in fast] == [n for n, _ in slow]
        for (k, a), (_, b) in zip(fast, slow):
            assert abs(a - b) < 1e-12, (k, a, b)
        for path in (fast, slow):
            assert None not in [n for n, _ in path]
            assert abs(sum(r for _, r in path) - 1.0) < 1e-9


def test_components_star_restores_session_shuffle_partitions(
    spark, distributed_only
):
    """Regression: the operator temporarily drops
    spark.sql.shuffle.partitions to its edge-count target and must
    restore the session's EFFECTIVE value afterwards — including in
    sessions where the key was never explicitly set (conf.get with a
    None default returns None there, which used to skip the restore
    and leave the whole session serialized at the tiny target)."""
    from hdp2_5_hive_spark.operators.components import (
        connected_components_star,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    connected_components_star(e).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_pagerank_empty_edges_raises_loudly(spark):
    """Empty edge list used to hit ZeroDivisionError at 1/N; now a
    named ValueError."""
    import pytest

    from hdp2_5_hive_spark.operators.pagerank import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError, match="empty edge list"):
        pagerank(empty, n_iter=1)
