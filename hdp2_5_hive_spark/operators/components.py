"""Connected components over a pair/edge set — dedup resolution.

The near-dup stages (``operators/dedup.py``) emit PAIRS; turning
pairs into keep/drop decisions needs the transitive closure: if A~B
and B~C, then {A,B,C} is one duplicate cluster even when A~C never
scored above threshold. This is the standard final stage of a
corpus-dedup pipeline (MinHash → candidate pairs → connected
components → keep one doc per component).

Algorithm: iterative *hash-min* label propagation — every node
starts labeled with its own id; each round takes the min of its
label and its neighbors' labels; fixpoint = every node carries the
min id of its component. Rounds needed = graph diameter, and
near-dup graphs are piles of small dense clusters (diameter ≤ a few)
— the 100 TB shape is many tiny components, not one long chain. For
adversarially long chains the alternating large-star/small-star
variant (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) converges in O(log n) rounds; ``max_iter`` guards
the difference loudly instead of silently returning partial labels.

Scale notes: each round is one join + one groupBy on the edge list
(both partition on node id, so AQE reuses the exchange); labels are
``localCheckpoint``-ed every round — without lineage truncation the
iterated plan tree grows exponentially and Catalyst analysis, not
the data, becomes the bottleneck (on a real cluster prefer
``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` so a lost
executor can recompute).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import util


class ConvergenceError(RuntimeError):
    """Raised when label propagation hits max_iter before fixpoint."""


def _cc_single_partition(edges: DataFrame) -> DataFrame:
    """The WHOLE transitive closure in ONE task — exact fast path for
    a task-sized ``(a, b)`` edge list (guide §1.2: fix the
    distributed algorithm first — here it degenerates to sequential
    union-find and the per-round job scheduling WAS the cost).
    Union-find ignores edge direction, so the list need not be
    symmetric. Union-by-min-root makes every tree root the smallest
    id seen in its component, so ``find`` at the end returns exactly
    the hash-min fixpoint label (min reachable id) — bit-identical
    to the iterative path for any null-free input. At warehouse scale
    the edge list exceeds the bound and the distributed loops run
    unchanged."""
    from pyspark.sql import types as T

    node_t = edges.schema["a"].dataType
    schema = T.StructType(
        [T.StructField("node", node_t), T.StructField("component", node_t)]
    )

    def kernel(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["a"], pdf["b"]):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra  # larger root under smaller ⇒ root = min id
        nodes = sorted(parent)
        yield pd.DataFrame(
            {"node": nodes, "component": [find(n) for n in nodes]}
        )

    return edges.coalesce(1).mapInPandas(kernel, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 20,
) -> DataFrame:
    """Return ``(node, component)`` where ``component`` is the min
    node id reachable from ``node``. Nodes are those appearing in
    ``edges``; add isolated nodes by unioning self-loops upstream.
    Edges with a null endpoint are ignored (as in ``k_core``), so no
    null node appears in the output.

    A task-sized edge list (``util.task_sized``) is solved by the
    single-task union-find, which computes the full closure directly:
    ``max_iter`` (and its ConvergenceError) only applies on the
    distributed path — task-sized adversarial graphs succeed instead
    of failing loudly (ADVICE r13)."""
    # Symmetrize via ONE explode instead of union(e, e.reversed):
    # the union referenced the (expensive) upstream pair-generation
    # plan twice and aliased subtrees are not reused, so the LSH
    # bucket join + verify still executed twice inside the checkpoint
    # action (r14; the r13 checkpoint-before-count fix removed the
    # count's extra execution, not the union's).
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).dropna()
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .distinct()
    )
    # Materialize the edge list BEFORE counting it: counting the raw
    # plan executed the (expensive) upstream pair generation once for
    # the count and a second time for the checkpoint (measured: the
    # LSH bucket-join + jaccard verify ran twice per query). The
    # count afterwards reads the checkpointed blocks.
    sym = sym.localCheckpoint(eager=True)  # edge list reused every round
    n_edges, fits = util.task_sized(sym, util.IN_TASK_MAX_ROWS)
    if fits:
        # see _cc_single_partition: identical fixpoint labels
        return _cc_single_partition(sym)
    # Re-materialize at the right-sized layout so the per-round joins
    # read it directly (one extra tiny shuffle of checkpointed blocks,
    # never a recompute of the upstream pair generation).
    target = util.loop_partitions(sym, n_edges)
    sym = sym.repartition(target, "b").localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("nb_min"))
        )
        proposed = labels.join(
            neighbor_min, labels.node == neighbor_min.a, "left"
        ).select(
            "node",
            F.least(
                F.col("component"), F.coalesce("nb_min", F.col("component"))
            ).alias("new_component"),
            "component",
        )
        proposed = proposed.localCheckpoint(eager=True)
        changed = (
            proposed.filter(F.col("new_component") < F.col("component"))
            .limit(1)
            .count()
        )
        labels = proposed.select(
            "node", F.col("new_component").alias("component")
        )
        if changed == 0:
            return labels
    raise ConvergenceError(
        f"connected_components: no fixpoint after {max_iter} rounds — "
        "long-chain graph; raise max_iter or switch to large-star/small-star"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 30,
) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same output contract as ``connected_components``
    ((node, component=min reachable id); edges with a null endpoint
    are ignored) but O(log n) rounds on ANY graph, including the long
    chains where hash-min needs O(diameter) rounds and trips its
    ConvergenceError.

    Each round: large-star points every neighbor v > u at
    m = min(Γ(u) ∪ {u}); small-star points every neighbor v ≤ u (and
    u itself) at m. Both are one groupBy + one join over the edge
    list — the same shuffle shape as a hash-min round — and the edge
    set contracts toward star graphs, so later rounds shrink. Labels
    localCheckpoint per round for the same lineage reasons as
    hash-min."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).dropna()
    # Materialize BEFORE counting (same fix as connected_components:
    # counting the raw plan executed the upstream pair generation
    # twice — once for the count, once for the loop checkpoint).
    e = e.localCheckpoint(eager=True)
    spark = edges.sparkSession
    n_edges, fits = util.task_sized(e, util.IN_TASK_MAX_ROWS)
    if fits:
        # Star and hash-min share the fixpoint contract — (node, min
        # reachable id) — and union-find needs no symmetric edges.
        return _cc_single_partition(e)
    # Right-size round parallelism to the edge list, like hash-min.
    _target = util.loop_partitions(e, n_edges)
    # Capture the EFFECTIVE value (no default arg): with a None
    # default, RuntimeConfig.get returns None when the key was never
    # explicitly set — the finally block would then skip the restore
    # and leave the whole session at this call's tiny _target,
    # serializing every later shuffle. Restoring the observed
    # effective value is always safe (it sets the key to what queries
    # were already seeing).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")

    def _sym(ed: DataFrame) -> DataFrame:
        return ed.union(
            ed.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()

    def _minmap(sym: DataFrame) -> DataFrame:
        # m(u) = min over neighbors and u itself
        return (
            sym.groupBy("a")
            .agg(F.min("b").alias("_mn"))
            .select("a", F.least(F.col("a"), F.col("_mn")).alias("m"))
        )

    def _large(ed: DataFrame) -> DataFrame:
        sym = _sym(ed)
        mm = _minmap(sym)
        out = (
            sym.join(mm, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        # keep (u, m) so singleton-star roots don't drop out of the set
        return out.union(mm.select(F.col("a"), F.col("m").alias("b"))).distinct()

    def _small(ed: DataFrame) -> DataFrame:
        sym = _sym(ed)
        mm = _minmap(sym)
        out = (
            sym.join(mm, "a")
            .filter(F.col("b") <= F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        return out.union(mm.select(F.col("a"), F.col("m").alias("b"))).distinct()

    cur = e.repartition(_target).localCheckpoint(eager=True)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(_target))
        return _star_iterate(cur, _large, _small, max_iter)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _star_iterate(cur, _large, _small, max_iter: int):
    for _ in range(max_iter):
        cur = _large(cur).localCheckpoint(eager=True)
        nxt = _small(cur).localCheckpoint(eager=True)
        # Both sets are distinct, so equal counts + empty one-sided
        # difference ⇒ set equality (one exceptAll job, not two).
        unchanged = (
            nxt.count() == cur.count()
            and nxt.exceptAll(cur).limit(1).count() == 0
        )
        cur = nxt
        if unchanged:
            # star graphs: every edge is (node, component-min)
            return (
                cur.select(F.col("a").alias("node"), F.col("b").alias("component"))
                .union(
                    cur.select(
                        F.col("b").alias("node"), F.col("b").alias("component")
                    )
                )
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
    raise ConvergenceError(
        f"connected_components_star: no fixpoint after {max_iter} rounds"
    )


def keep_list(components: DataFrame) -> DataFrame:
    """Dedup resolution over ``connected_components`` output: the
    canonical (kept) doc of each cluster is its min id — which is
    exactly the component label — so the decision is a projection,
    no extra shuffle."""
    return components.select(
        F.col("node"),
        F.col("component").alias("canonical_id"),
        (F.col("node") == F.col("component")).alias("is_kept"),
    )


def triangle_count(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Exact triangle count via degree-ordered edge orientation
    (Schank & Wagner 2005 "forward" / Cohen's MapReduce variant,
    MR'09): orient every undirected edge from its
    (degree, node-id)-smaller endpoint to the larger, enumerate
    wedges only among each node's OUT-neighbors, and close them
    against the oriented edge set.

    Why this is the 100 TB shape: under degree orientation every
    out-degree is O(sqrt(2m)) (a node of degree d > sqrt(2m) has
    fewer than sqrt(2m) neighbors of even-larger key), so the wedge
    stage materializes O(m^1.5) rows worst-case instead of the
    O(sum deg^2) of naive wedge counting — the difference between a
    heavy-but-bounded shuffle and a star-node explosion. Every stage
    is an equi-join or keyed aggregate: deg (groupBy node), attach
    keys (two joins on node), wedges (self-join on src), closing
    (join on the (v, w) pair). Each triangle {a,b,c} is counted
    exactly once — at its key-smallest vertex.

    Returns one row: n_nodes, n_edges, n_triangles, n_wedges
    (undirected, sum C(deg,2)) and the global clustering coefficient
    3*triangles/wedges (pround-ed: single IEEE division, identical
    cross-engine).
    """
    from ..functions.hive_compat import pround

    a, b = F.col(a_col), F.col(b_col)
    e = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ed = (
        e.join(deg.withColumnsRenamed({"node": "a", "deg": "deg_a"}), "a")
        .join(deg.withColumnsRenamed({"node": "b", "deg": "deg_b"}), "b")
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias(
            "dst_deg"
        ),
    )
    o1 = oriented.select(
        "src",
        F.col("dst").alias("v"),
        F.col("dst_deg").alias("v_deg"),
    )
    o2 = oriented.select(
        "src",
        F.col("dst").alias("w"),
        F.col("dst_deg").alias("w_deg"),
    )
    wedges = o1.join(o2, "src").filter(
        (F.col("v_deg") < F.col("w_deg"))
        | ((F.col("v_deg") == F.col("w_deg")) & (F.col("v") < F.col("w")))
    )
    closed = wedges.join(
        oriented.select(
            F.col("src").alias("v"), F.col("dst").alias("w")
        ),
        ["v", "w"],
        "inner",  # oriented is distinct, so inner == semi for counting
    )
    tri = closed.agg(F.count("*").alias("n_triangles"))
    counts = e.agg(F.count("*").alias("n_edges"))
    nodes = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    return (
        nodes.crossJoin(counts)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            pround(
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("global_clustering"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 60,
) -> DataFrame:
    """The k-core: the maximal subgraph where every node keeps
    degree ≥ k — computed by the standard iterative peel (remove ALL
    sub-k nodes, recompute degrees, repeat to fixpoint). The graph
    health-diagnostic tier above triangle counting: the dense
    nucleus that survives when tendrils are stripped.

    Scale shape: the graph lives as a directed both-ways edge list;
    each round is one degree groupBy + two anti-joins against the
    (typically tiny) removal set — all keyed on node id — with a
    ``localCheckpoint`` lineage cut per round (the iterative
    discipline of connected_components). Rounds = peeling depth; on
    real graphs the removal set collapses in a handful of rounds,
    and an adversarial path/onion graph is bounded loudly by
    ``max_iter`` (ConvergenceError) instead of silently returning a
    partial core.

    Returns (node, core_deg): the k-core members with their degree
    INSIDE the core (≥ k by definition). Edges with a null endpoint
    are ignored: ``least``/``greatest`` skip the null, and the
    ``a != b`` filter drops the self-loop or null pair left behind.
    Like connected_components, the in-task fast path computes the
    full peel directly, so ``max_iter``/ConvergenceError only applies
    on the distributed path (ADVICE r13).
    """
    a, b = F.col(a_col), F.col(b_col)
    und = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # One explode instead of unionAll(und, und.reversed): the union
    # referenced the upstream pair-generation plan twice per action
    # (aliased subtrees are not reused) — same multiset, one pass.
    cur = (
        und.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a").alias("src"), F.col("b").alias("dst")
                    ),
                    F.struct(
                        F.col("b").alias("src"), F.col("a").alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .localCheckpoint(eager=True)
    )
    _, fits = util.task_sized(cur, util.IN_TASK_MAX_ROWS)
    if fits:
        # The directed edge list is task-sized ⇒ run the whole peel
        # in ONE task (the union-find/trainer in-task discipline):
        # degrees are exact integers and removal is a set operation,
        # so the surviving core and its degrees are identical to the
        # distributed loop's fixpoint. At scale the count exceeds the
        # bound and the loop below runs unchanged.
        from pyspark.sql import types as T

        node_t = cur.schema["src"].dataType
        schema = T.StructType(
            [
                T.StructField("node", node_t),
                T.StructField("core_deg", T.LongType()),
            ]
        )

        def kernel(batches):
            import pandas as pd

            adj: dict = {}
            for pdf in batches:
                for s, d in zip(pdf["src"], pdf["dst"]):
                    adj.setdefault(s, set()).add(d)
            while True:
                bad = [n for n, nb in adj.items() if len(nb) < k]
                if not bad:
                    break
                for n in bad:
                    del adj[n]
                bad_set = set(bad)
                for nb in adj.values():
                    nb -= bad_set
            nodes = sorted(adj)
            yield pd.DataFrame(
                {
                    "node": nodes,
                    "core_deg": [len(adj[n]) for n in nodes],
                }
            )

        return cur.coalesce(1).mapInPandas(kernel, schema)
    for _ in range(max_iter):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        bad = deg.filter(F.col("deg") < k).select("src").persist()
        n_bad = bad.count()
        if n_bad == 0:
            bad.unpersist()
            return deg.select(
                F.col("src").alias("node"),
                F.col("deg").cast("bigint").alias("core_deg"),
            )
        nxt = (
            cur.join(bad, "src", "left_anti")
            .join(bad.withColumnsRenamed({"src": "dst"}), "dst", "left_anti")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        bad.unpersist()
        cur = nxt
    raise ConvergenceError(f"k_core: no fixpoint after {max_iter} rounds")
