"""Similarity search over embedding columns (array<float>).

Training-data-pipeline extension (BASELINE.json north-star): nearest
neighbors for near-dup mining / retrieval over an embeddings table.

Two paths:

- ``cosine_topk``: exact brute-force top-k — the correctness
  baseline. Query×corpus join; per-pair math stays inside codegen
  (zip_with fold, no Python). Top-k via per-partition window.
- ``lsh_bucket_topk``: random-hyperplane (sign-LSH) bucketed search —
  the 100 TB path. Each vector hashes to a bucket by the signs of h
  deterministic pseudo-random projections; only same-bucket pairs are
  scored. Recall < 1 by construction (probed in tests, not the
  oracle gate).

Determinism: dot/norm sums are sequential left folds over the array
(arrays live whole inside one row), so results are bit-identical to
the DuckDB oracle at any parallelism. Each vector's norm is folded
once, as a column (``with_norm``), before any pair join; a pair then
folds only its dot product (``cosine_from_norms``). The norm column
is the same fold over the same array, so it is the same double the
per-pair fold gave.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

def _dsum_arr(arr: Column) -> Column:
    """Sequential left-fold sum of a double array. Arrays are
    per-row (never split across partitions), so the fold order is
    fixed → bit-identical to DuckDB's list_reduce left fold."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot_col(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return _dsum_arr(prods)


def norm_col(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(_dsum_arr(sq))


def with_norm(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    """``df`` plus its vectors' norms as column ``out``: fold each
    norm once per vector, not once per pair it joins into."""
    return df.withColumn(out, norm_col(F.col(vec_col)))


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine of ``a`` and ``b`` given their norms ``na`` and ``nb``
    (from ``with_norm`` or ``norm_col``). A zero norm gives NULL
    (non-ANSI division by 0.0)."""
    return dot_col(a, b) / (na * nb)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    (query_id, neighbor_id, rank, cosine); self-pairs excluded.
    The corpus side is the big side — Spark broadcasts the (small)
    query side; ranking is a bounded per-query window.
    """
    from .util import ensure_parallelism

    q = with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec",
        "q_norm",
    )
    # Norms are folded once per vector above; the per-pair dot-product
    # fold is the CPU cost — split the big side wide.
    c = with_norm(
        ensure_parallelism(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        "c_vec",
        "c_norm",
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_norms(
                F.col("q_vec"), F.col("c_vec"),
                F.col("q_norm"), F.col("c_norm"),
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def _plane_matrix(dim: int, n_planes: int, n_tables: int):
    """Deterministic hyperplane matrix (dim × n_planes·n_tables):
    component (i, j) derives from sha256(f"plane:{j}:{i}") mapped to
    a zero-mean value — reproducible on any cluster, any numpy
    version, no RNG state (the same no-shared-randomness discipline
    as xxhash64-derived expressions, but buildable in Python where
    the batched matmul runs)."""
    import hashlib

    import numpy as np

    m = np.empty((dim, n_planes * n_tables), dtype=np.float64)
    for j in range(n_planes * n_tables):
        for i in range(dim):
            h = hashlib.sha256(f"plane:{j}:{i}".encode()).digest()
            m[i, j] = int.from_bytes(h[:8], "big") / 2.0**64 - 0.5
    return m


def _bucket_arrays_udf(dim: int, n_planes: int, n_tables: int):
    """pandas UDF: embedding → array of per-table sign-LSH bucket
    ids. One numpy matmul per Arrow batch scores every plane of
    every table at once — the vectorized replacement for a
    dim·planes·tables tree of interpreted zip_with/aggregate lambdas
    (measured 4-10× faster at dim=64, p=6, T=4; same shape as
    ivf_topk's assignment UDF)."""
    import numpy as np

    planes = _plane_matrix(dim, n_planes, n_tables)
    weights = (1 << np.arange(n_planes, dtype=np.int64))[None, :]

    @F.pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # empty Arrow batch: vstack would throw
            return pd.Series([], dtype=object)
        x = np.vstack(vecs.to_numpy()).astype(np.float64)  # (b, dim)
        signs = (x @ planes) > 0  # (b, planes*tables)
        per_table = [
            (signs[:, t * n_planes : (t + 1) * n_planes] * weights).sum(axis=1)
            for t in range(n_tables)
        ]
        return pd.Series(np.stack(per_table, axis=1).tolist())

    return buckets


def hyperplane_bucket(
    vec: Column, *, dim: int, n_planes: int = 8, table: int = 0
) -> Column:
    """Sign-LSH bucket id for one hyperplane table (column form of
    ``_bucket_arrays_udf`` — kept as the public single-table API)."""
    return F.element_at(
        _bucket_arrays_udf(dim, n_planes, table + 1)(vec), table + 1
    )


def _salted_buckets(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    max_bucket_rows: int,
    n_tables: int = 1,
) -> DataFrame:
    """Bucket assignment with a size guard: buckets larger than
    ``max_bucket_rows`` are hash-split into ceil(size/max) salt
    groups, so within-group pair counts stay ~max² no matter how
    degenerate the corpus (a boilerplate-heavy 100 TB crawl
    concentrates vectors in few buckets; AQE splits a skewed
    SHUFFLE, but cannot cap the pair COUNT of a quadratic self-join).
    Cost of the guard: one tiny aggregation (≤n_tables·2^n_planes
    rows, broadcast back). Recall cost: pairs across salt groups of
    the same bucket are not scored — only degenerate buckets pay it.

    ``n_tables > 1`` = OR-amplification: each row is assigned one
    bucket per independent hyperplane table (a ``posexplode`` of the
    per-table bucket array — rows fan out n_tables-fold, the standard
    linear memory/recall trade of multi-table LSH), and all keys
    downstream are (table, bucket, salt). Single-table collision
    probability for angle θ is (1-θ/π)^p; with T tables it becomes
    1-(1-(1-θ/π)^p)^T — e.g. cosine 0.95, p=6: 0.53 → 0.95 at T=4.

    The exploded bucket table feeds both the size aggregate and the
    salt join; it is NOT persisted here — lsh_bucket_topk persists
    the final salted table (which both self-join sides read), and
    caching this intermediate too would hold a second full copy of
    the exploded vectors in executor memory for a one-time saving of
    a single UDF pass."""
    buckets = _bucket_arrays_udf(dim, n_planes, n_tables)(F.col(vec_col))
    withb = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.posexplode(buckets).alias("_table", "_bucket"),
    )
    sizes = withb.groupBy("_table", "_bucket").agg(
        F.count(F.lit(1)).alias("_bsize")
    )
    n_salts = F.greatest(
        F.lit(1),
        F.ceil(F.col("_bsize") / F.lit(max_bucket_rows)),
    ).cast("int")
    return (
        withb.join(F.broadcast(sizes), ["_table", "_bucket"])
        .select(
            "_id",
            "_vec",
            "_table",
            "_bucket",
            F.pmod(F.xxhash64("_id"), n_salts).cast("int").alias("_salt"),
        )
    )


def lsh_bucket_topk(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    k: int = 5,
    max_bucket_rows: int = 4096,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate all-pairs top-k: score only same-(table, bucket,
    salt) pairs. 2^n_planes buckets shrink the pair space
    ~2^n_planes-fold; the join shuffles on (table, bucket, salt); the
    salt guard (_salted_buckets) bounds the quadratic within-bucket
    blowup on skewed corpora at a documented recall cost; multiple
    tables (OR-amplification) buy recall linearly in candidate cost.

    With n_tables > 1 the same pair can surface in several tables, so
    candidates dedup on (query_id, neighbor_id) via max() — one extra
    shuffle that only the multi-table path pays (the aggregate's
    map-side combine removes most duplicates before it moves).

    The salted bucket table feeds BOTH sides of the self-join and
    Catalyst does not ReuseExchange across the aliased subtrees, so
    it is persisted for the run (last call only,
    ``util.materialize``) — without it the pandas-UDF bucket
    assignment and the size aggregation run twice per action at any
    scale."""
    from .util import ensure_parallelism, materialize

    salted = materialize(
        with_norm(
            _salted_buckets(
                ensure_parallelism(df),
                id_col=id_col,
                vec_col=vec_col,
                dim=dim,
                n_planes=n_planes,
                max_bucket_rows=max_bucket_rows,
                n_tables=n_tables,
            ),
            "_vec",
            "_norm",
        ),
        "similarity.lsh_salted",
    )
    keys = ["_table", "_bucket", "_salt"]
    a = salted.select(
        F.col("_id").alias("query_id"),
        F.col("_vec").alias("q_vec"),
        F.col("_norm").alias("q_norm"),
        *keys,
    )
    b = salted.select(
        F.col("_id").alias("neighbor_id"),
        F.col("_vec").alias("c_vec"),
        F.col("_norm").alias("c_norm"),
        *keys,
    )
    scored = (
        a.join(b, keys)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_norms(
                F.col("q_vec"), F.col("c_vec"),
                F.col("q_norm"), F.col("c_norm"),
            ).alias("cosine"),
        )
    )
    if n_tables > 1:
        scored = scored.groupBy("query_id", "neighbor_id").agg(
            F.max("cosine").alias("cosine")
        )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path, complementing
# sign-LSH: a coarse quantizer learned from a bounded sample assigns
# every vector to its nearest centroid cell; queries probe only the
# n_probe nearest cells. FAISS's IndexIVFFlat shape, re-expressed as
# DataFrame ops: train on the driver (sample is bounded), assign
# distributed via an Arrow-batched pandas UDF (numpy matmul — the
# vector math is the CPU cost, exactly where pandas UDFs beat
# per-row expressions), search = cell-keyed join + bounded window.
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    sample_limit: int = 2048,
    iters: int = 8,
):
    """Spherical k-means on a DETERMINISTIC bounded sample (lowest
    ids — no RNG, reproducible across clusters/runs). The sample is
    collected to the driver: IVF training is O(sample × cells), and
    at 100 TB you still train on a few thousand vectors — assignment,
    not training, is the distributed part. Returns a unit-normalized
    (n_cells × dim) numpy array."""
    import numpy as np

    rows = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_limit)
        .collect()
    )
    X = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:n_cells].copy()
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)
    return C


def ivf_topk(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 2,
    k: int = 5,
    sample_limit: int = 2048,
) -> DataFrame:
    """Approximate all-pairs top-k via IVF cells: corpus vectors live
    in exactly one cell; each query probes its n_probe nearest cells.
    Pair space shrinks ~n_cells/n_probe-fold; recall rises with
    n_probe (n_probe == n_cells degenerates to brute force). The
    cell join shuffles on cell id; AQE splits hot cells the same way
    it handles any skewed key."""


    from .util import ensure_parallelism

    centroids = train_ivf_centroids(
        df,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        sample_limit=sample_limit,
    )
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    @F.pandas_udf("int")
    def nearest_cell(vecs: pd.Series) -> pd.Series:
        import numpy as np

        C = bc.value
        X = np.asarray([list(v) for v in vecs], dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series((X @ C.T).argmax(axis=1).astype("int32"))

    @F.pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        import numpy as np

        C = bc.value
        X = np.asarray([list(v) for v in vecs], dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(X @ C.T), axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(order))

    base = with_norm(
        ensure_parallelism(df).select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
        ),
        "_vec",
        "_norm",
    )
    corpus = base.select(
        F.col("_id").alias("neighbor_id"),
        F.col("_vec").alias("c_vec"),
        F.col("_norm").alias("c_norm"),
        nearest_cell("_vec").alias("_cell"),
    )
    queries = base.select(
        F.col("_id").alias("query_id"),
        F.col("_vec").alias("q_vec"),
        F.col("_norm").alias("q_norm"),
        F.explode(probe_cells("_vec")).alias("_cell"),
    )
    scored = (
        queries.join(corpus, "_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_norms(
                F.col("q_vec"), F.col("c_vec"),
                F.col("q_norm"), F.col("c_norm"),
            ).alias("cosine"),
        )
        # a (query, neighbor) pair can surface from several probed
        # cells — dedup before ranking
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def semantic_dedup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    threshold: float = 0.9,
    n_rounds: int = 8,
    max_cluster_rows: int = 4096,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication" — public): k-means-cluster the embedding
    space, then score cosine pairs ONLY within a cluster. The
    quadratic is bounded per cluster instead of per corpus — the
    recipe's whole point at web scale — and k is the
    cost/recall dial (a true pair straddling a cluster boundary is
    missed; SemDeDup accepts this by construction).

    Scale shape: training state is k×d on the driver
    (embeddings.kmeans_train partials); assignment is map-only;
    within-cluster pairs shuffle on (cluster, salt) where oversized
    clusters hash-split at ``max_cluster_rows`` exactly like the
    sign-LSH salt guard (boilerplate-heavy corpora collapse into one
    semantic cluster; the cap keeps the pair count ~max² there).
    Returns (id_a, id_b, cosine) with id_a < id_b."""
    from .embeddings import kmeans_assign, kmeans_train

    cent = kmeans_train(
        df, k=k, n_iter=n_rounds, id_col=id_col, vec_col=vec_col
    )
    assign = kmeans_assign(df, cent, id_col=id_col, vec_col=vec_col).select(
        F.col("vec_id").alias("_id"), "cluster"
    )
    # NOT persisted (r14 A/B on the sf0.1 embeddings table:
    # with/without persist 7.8s vs 7.7s x3 runs): the cost here is
    # kmeans_train's bounded actions plus the within-cluster
    # sequential-fold cosine — the assignment rescan is noise, so a
    # persist would occupy executor memory without paying for itself.
    vecs = with_norm(
        df.select(
            F.col(id_col).cast("string").alias("_id"),
            F.col(vec_col).alias("_vec"),
        ),
        "_vec",
        "_norm",
    ).join(assign, "_id")
    sizes = vecs.groupBy("cluster").agg(F.count(F.lit(1)).alias("_csize"))
    n_salts = F.greatest(
        F.lit(1), F.ceil(F.col("_csize") / F.lit(max_cluster_rows))
    ).cast("int")
    salted = vecs.join(F.broadcast(sizes), "cluster").select(
        "_id",
        "_vec",
        "_norm",
        "cluster",
        F.pmod(F.xxhash64("_id"), n_salts).cast("int").alias("_salt"),
    )
    keys = ["cluster", "_salt"]
    a = salted.select(
        F.col("_id").alias("id_a"),
        F.col("_vec").alias("va"),
        F.col("_norm").alias("na"),
        *keys,
    )
    b = salted.select(
        F.col("_id").alias("id_b"),
        F.col("_vec").alias("vb"),
        F.col("_norm").alias("nb"),
        *keys,
    )
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_from_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
