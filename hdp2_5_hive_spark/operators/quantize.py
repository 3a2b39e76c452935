"""Embedding quantization: symmetric per-vector int8 with
reconstruction-quality metrics.

The storage/IO optimization every 100 TB embedding corpus runs
before ANN indexing (4× smaller than float32, 8× than float64;
FAISS's ScalarQuantizer QT_8bit shape). Everything is JVM-side array
expressions — ``transform``/``zip_with``/``aggregate`` — inside
whole-stage codegen; no Python in the path. The sequential left-fold
dot products keep float math bit-identical to the DuckDB oracle's
``list_reduce`` (same discipline as operators/similarity.dot_col).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import cosine_from_norms, norm_col


def quantize_int8_stats(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization round-trip report:
    scale = max|x|/127 (zero-vector guarded), q = round(x/scale),
    dequantized error and cosine(original, dequantized).

    Map-only — one projection, no shuffle; the quantized array and
    its metrics derive from each row alone. Output columns are the
    audit a pipeline gates on before swapping the float column out.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    d = (
        df.select(F.col(id_col), v.alias("_v"))
        .withColumn(
            "_scale",
            F.greatest(
                F.array_max(F.transform(F.col("_v"), F.abs)) / F.lit(127.0),
                F.lit(1e-30),
            ),
        )
        .withColumn(
            "_q",
            F.transform(
                F.col("_v"),
                lambda x: F.round(x / F.col("_scale"), 0).cast("int"),
            ),
        )
        .withColumn(
            "_dq",
            F.transform(
                F.col("_q"), lambda q: q.cast("double") * F.col("_scale")
            ),
        )
    )
    return d.select(
        id_col,
        F.round(F.col("_scale"), 8).alias("scale"),
        F.size(
            F.filter(F.col("_q"), lambda q: F.abs(q) == 127)
        ).alias("n_saturated"),
        F.round(
            F.array_max(
                F.zip_with(
                    F.col("_v"), F.col("_dq"), lambda a, b: F.abs(a - b)
                )
            ),
            8,
        ).alias("max_abs_err"),
        F.round(
            cosine_from_norms(
                F.col("_v"), F.col("_dq"),
                norm_col(F.col("_v")), norm_col(F.col("_dq")),
            ),
            8,
        ).alias("cos_dequant"),
    )


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    m: int = 4,
    k: int = 16,
    n_iter: int = 8,
):
    """Product-quantization codebooks (Jégou, Douze, Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — public):
    split the d dims into ``m`` contiguous subspaces and k-means each
    independently. Returns an (m, k, d//m) numpy array.

    Each subspace trains via embeddings.kmeans_train on a SLICED
    column — the same bounded-partial Lloyd rounds (k·(d/m) floats
    per partition per round, md5-deterministic init), m of them.
    d must be divisible by m.

    When the whole training set fits one right-sized partition the m
    trainings FUSE into one in-task job (plus one shared init collect
    and one shared count): the md5 init order and the Arrow batch
    boundaries are slice-independent, so slicing the full vectors
    inside the kernel — contiguous copies, same BLAS call shapes —
    reproduces each per-subspace run bit-for-bit while replacing
    m×(init + count + loop) jobs with 3. Larger data takes the
    unchanged per-subspace kmeans_train path."""
    import numpy as np

    from .embeddings import kmeans_train

    first = df.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError("pq_train: empty input (no vectors to train on)")
    d = len(first[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m

    rows_per_partition = 32768  # kmeans_train's single-partition bound
    n_rows = df.count()
    if n_rows <= rows_per_partition:
        return _pq_train_fused(
            df, id_col, vec_col, m=m, k=k, sub=sub, n_iter=n_iter
        )

    books = []
    for j in range(m):
        sl = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), j * sub + 1, sub).alias(vec_col),
        )
        books.append(
            kmeans_train(sl, vec_col, id_col, k=k, n_iter=n_iter)
        )
    return np.stack(books)


def _pq_train_fused(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int,
    k: int,
    sub: int,
    n_iter: int,
    tol: float = 1e-6,
):
    """One-partition fused PQ training. Replicates, per subspace,
    exactly what ``kmeans_train``'s single-partition path computes:

    - init = the k rows whose (md5(id), id) sorts first, sliced —
      the sort keys don't involve the vector, so one collect of FULL
      vectors sliced here equals m per-slice ``_kmeans_init`` calls;
    - the Lloyd loop runs on ``np.ascontiguousarray`` slices of the
      full-vector batch matrices, giving the same contiguous
      (n, sub)/(k, sub) float64 operands — hence the same BLAS
      kernels and bit-identical accumulation — as Arrow batches of a
      pre-sliced column (batch boundaries are row-based and therefore
      slice-independent)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    # Persist before the coalesce(1) loop read: merging the slices of
    # an UNcached local-relation scan pays each slice's Python-side
    # deserialization serially inside the one task (measured ~5s for
    # a 32-slice createDataFrame), while a cached read is a JVM-local
    # block fetch. The init collect doubles as the cache materializer.
    base = df.select(id_col, vec_col).persist()
    init_rows = (
        base.orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .limit(k)
        .collect()
    )
    init_full = np.asarray(
        [np.asarray(r[vec_col], dtype=np.float64) for r in init_rows]
    )

    def all_books(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        mats = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mats.append(
                np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
            )
        out = np.empty((m, len(init_full), sub))
        for j in range(m):
            lo, hi = j * sub, (j + 1) * sub
            cen = np.ascontiguousarray(init_full[:, lo:hi])
            mats_j = [np.ascontiguousarray(x[:, lo:hi]) for x in mats]
            for _ in range(n_iter):
                cnt = np.zeros(len(cen))
                sums = np.zeros((len(cen), sub))
                for x in mats_j:
                    dist = -2.0 * (x @ cen.T) + (cen * cen).sum(axis=1)
                    a = dist.argmin(axis=1)
                    for c in range(len(cen)):
                        msk = a == c
                        if msk.any():
                            cnt[c] += int(msk.sum())
                            sums[c] += x[msk].sum(axis=0)
                new = cen.copy()
                nz = cnt > 0
                new[nz] = sums[nz] / cnt[nz, None]
                shift = float(np.abs(new - cen).max())
                cen = new
                if shift < tol:
                    break
            out[j] = cen
        yield pd.DataFrame({"books": [out.ravel()]})

    try:
        res = (
            base.select(vec_col)
            .coalesce(1)
            .mapInPandas(
                all_books,
                StructType([StructField("books", ArrayType(DoubleType()))]),
            )
            .collect()
        )
    finally:
        base.unpersist()
    return np.asarray(res[0]["books"], dtype=np.float64).reshape(
        m, len(init_full), sub
    )


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes): each vector compressed to ``m`` small ints — the
    nearest codebook entry per subspace. Map-only (one Arrow pass,
    broadcast (m,k,sub) codebooks in the closure); at 100 TB this is
    the IO win — m bytes replace d floats in every downstream
    shuffle."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    c = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)
    m, _, sub = c.shape
    schema = StructType(
        [
            StructField("vec_id", StringType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )
    cols = df.select(
        F.col(id_col).cast("string").alias("vec_id"), F.col(vec_col)
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                cj = c[j]
                dist = -2.0 * (xs @ cj.T) + (cj * cj).sum(axis=1)
                codes[:, j] = dist.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    return cols.mapInPandas(encode, schema)


def pq_topk(
    codes_df: DataFrame,
    queries_df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k_top: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query a
    (m, k) table of exact squared distances from its subvectors to
    every codebook entry; a vector's approximate distance is the sum
    of m table lookups — no float vectors are ever read again.

    Scale shape: the query set is BOUNDED and collected (the same
    contract as similarity.cosine_topk's broadcast queries); tables
    ship in the closure; one Arrow pass over the codes emits ONLY
    each batch's per-query top-k (a superset of the global top-k),
    and a final window takes exact top-k per query. The big side
    shuffles k_top·n_queries rows per batch, never n·n_queries."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    c = np.asarray(codebooks, dtype=np.float64)
    m, k, sub = c.shape
    q_rows = queries_df.select(
        F.col(id_col).cast("string").alias("qid"), F.col(vec_col)
    ).collect()
    qids = [r.qid for r in q_rows]
    qv = np.asarray(
        [np.asarray(r[vec_col], dtype=np.float64) for r in q_rows]
    )
    # tables[t, j, code] = ||q_j - c[j, code]||^2
    tables = np.empty((len(qids), m, k))
    for j in range(m):
        qs = qv[:, j * sub : (j + 1) * sub]  # (nq, sub)
        cj = c[j]  # (k, sub)
        tables[:, j, :] = (
            (qs * qs).sum(axis=1)[:, None]
            - 2.0 * (qs @ cj.T)
            + (cj * cj).sum(axis=1)
        )
    schema = StructType(
        [
            StructField("query_id", StringType()),
            StructField("neighbor_id", StringType()),
            StructField("adist", DoubleType()),
        ]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.asarray(
                [np.asarray(v, dtype=np.int64) for v in pdf["codes"]]
            )  # (n, m)
            n = len(codes)
            # dists[t, i] = sum_j tables[t, j, codes[i, j]]
            dists = np.zeros((len(qids), n))
            for j in range(m):
                dists += tables[:, j, :][:, codes[:, j]]
            top = min(k_top, n)
            out_q, out_n, out_d = [], [], []
            ids = np.asarray(pdf["vec_id"], dtype=object)
            for t, qid in enumerate(qids):
                # tie-break by neighbor_id WITHIN the batch pruning,
                # matching the final window's (adist, neighbor_id)
                # order — PQ distances collide often (identical
                # codes), and an arbitrary argpartition boundary
                # would make the kept candidate set — and thus the
                # output — depend on batch composition.
                idx = np.lexsort((ids, dists[t]))[:top]
                out_q.extend([qid] * top)
                out_n.extend(ids[idx])
                out_d.extend(dists[t, idx])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adist": out_d}
            )

    cand = codes_df.select("vec_id", "codes").mapInPandas(scan, schema)
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_top)
        .drop("rn")
    )


def ivfpq_topk(
    df: DataFrame,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_cells: int = 8,
    n_probe: int = 3,
    m: int = 4,
    k: int = 16,
    n_iter: int = 8,
    k_top: int = 5,
    sample_limit: int = 2048,
) -> DataFrame:
    """Composed IVF-PQ index (FAISS ``IndexIVFPQ`` shape; Jégou,
    Douze, Schmid TPAMI 2011 §V "IVFADC"): a coarse quantizer prunes
    each query's search to its ``n_probe`` nearest cells, and PQ
    codebooks trained on RESIDUALS ``x - centroid(x)`` give each
    corpus vector an m-byte code — the two scale levers multiplied
    (candidate set ÷ n_cells/n_probe, bytes-per-candidate ÷
    d·8/m). Residual encoding is what makes the composition better
    than either part: within a cell the residual spread is small, so
    k codewords per subspace quantize it far more finely than they
    could the raw vectors.

    Scale shape (the point of the composition at 100 TB):

    * training is BOUNDED — coarse centroids and all m codebooks are
      fit on the driver from a deterministic lowest-id
      ``sample_limit`` sample (the `train_ivf_centroids` contract:
      training is O(sample), assignment is the distributed part;
      FAISS trains IndexIVFPQ on a sample the same way);
    * the corpus is touched in exactly TWO map-only Arrow passes —
      one normalize+assign+encode pass (no join between cell
      assignment and codes: both computed in the same kernel), one
      ADC scan pass — with nothing but (id, cell, m-int codes)
      alive between them;
    * queries are bounded and collected (the `pq_topk`/`cosine_topk`
      broadcast-queries contract); per (query, probed cell) an
      (m × k) ADC table of exact squared distances from the QUERY'S
      residual in that cell ships in the closure;
    * each scan batch emits only its per-query top-k (a superset of
      the global answer), tie-broken by (adist, neighbor_id) so the
      kept set never depends on batch composition; a final window
      takes the exact global top-k — k_top·n_queries rows shuffle
      per batch, never n·n_queries.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from .similarity import train_ivf_centroids

    C = train_ivf_centroids(
        df,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        sample_limit=sample_limit,
    )  # (n_cells, d), unit rows
    d = C.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m

    # ---- bounded driver-side codebook training on residuals --------
    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(sample_limit).collect()
    )
    if len(rows) < k:
        raise ValueError(
            f"ivfpq_topk: training sample has {len(rows)} rows < k={k} "
            "codewords — lower k or raise sample_limit"
        )
    X = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    R = X - C[(X @ C.T).argmax(axis=1)]
    books = np.empty((m, k, sub))
    for j in range(m):
        Rj = R[:, j * sub : (j + 1) * sub]
        # deterministic init: first k sample rows (no RNG — same
        # reproducibility discipline as train_ivf_centroids)
        cb = Rj[:k].copy()
        for _ in range(n_iter):
            dist = (
                (Rj * Rj).sum(axis=1)[:, None]
                - 2.0 * (Rj @ cb.T)
                + (cb * cb).sum(axis=1)
            )
            assign = dist.argmin(axis=1)
            for c in range(k):
                members = Rj[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        books[j] = cb

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((C, books))

    # ---- pass 1: normalize + assign + residual-encode, ONE kernel --
    enc_schema = StructType(
        [
            StructField("vec_id", StringType()),
            StructField("cell", IntegerType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )
    base = df.select(
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(vec_col).alias("_v"),
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cv, Bv = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            cell = (x @ Cv.T).argmax(axis=1)
            r = x - Cv[cell]
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                rj = r[:, j * sub : (j + 1) * sub]
                cj = Bv[j]
                dist = -2.0 * (rj @ cj.T) + (cj * cj).sum(axis=1)
                codes[:, j] = dist.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": cell.astype("int32"),
                    "codes": list(codes),
                }
            )

    encoded = base.mapInPandas(encode, enc_schema)

    # ---- bounded query prep: per (query, probed cell) ADC table ----
    q_rows = queries_df.select(
        F.col(id_col).cast("string").alias("qid"), F.col(vec_col)
    ).collect()
    qv = np.asarray(
        [np.asarray(r[1], dtype=np.float64) for r in q_rows]
    )
    qv /= np.maximum(np.linalg.norm(qv, axis=1, keepdims=True), 1e-12)
    probe = np.argsort(-(qv @ C.T), axis=1)[:, :n_probe]  # (nq, n_probe)
    # cell -> (qids array, tables (nq_cell, m, k))
    per_cell: dict[int, tuple[list, np.ndarray]] = {}
    for cell in np.unique(probe):
        sel = np.nonzero((probe == cell).any(axis=1))[0]
        rq = qv[sel] - C[cell]  # query residuals IN THIS CELL
        tables = np.empty((len(sel), m, k))
        for j in range(m):
            qs = rq[:, j * sub : (j + 1) * sub]
            cj = books[j]
            tables[:, j, :] = (
                (qs * qs).sum(axis=1)[:, None]
                - 2.0 * (qs @ cj.T)
                + (cj * cj).sum(axis=1)
            )
        per_cell[int(cell)] = ([q_rows[i].qid for i in sel], tables)
    bc_tables = spark.sparkContext.broadcast(per_cell)

    # ---- pass 2: ADC scan, per-batch per-query top-k ----------------
    out_schema = StructType(
        [
            StructField("query_id", StringType()),
            StructField("neighbor_id", StringType()),
            StructField("adist", DoubleType()),
        ]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pc = bc_tables.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_q, out_n, out_d = [], [], []
            for cell, grp in pdf.groupby("cell"):
                hit = pc.get(int(cell))
                if hit is None:
                    continue  # no query probes this cell — pruned
                qids, tables = hit
                codes = np.asarray(
                    [np.asarray(v, dtype=np.int64) for v in grp["codes"]]
                )
                ids = np.asarray(grp["vec_id"], dtype=object)
                dists = np.zeros((len(qids), len(codes)))
                for j in range(m):
                    dists += tables[:, j, :][:, codes[:, j]]
                top = min(k_top, len(codes))
                for ti, qid in enumerate(qids):
                    idx = np.lexsort((ids, dists[ti]))[:top]
                    out_q.extend([qid] * top)
                    out_n.extend(ids[idx])
                    out_d.extend(dists[ti, idx])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adist": out_d}
            )

    cand = encoded.mapInPandas(scan, out_schema)
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_top)
        .drop("rn")
    )
