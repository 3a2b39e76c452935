"""Distributed logistic-regression quality classifier.

The standard learned document filter of a training-data pipeline
(fastText/CCNet-style quality and language classifiers, Wenzek et
al. 2020; Joulin et al. 2017 — both public): a linear model over
hashing-trick features, trained full-batch on the cluster, applied
map-only at scan speed.

Scale shape — the same iterative-algorithm discipline as
``operators/embeddings.py`` (PCA/k-means) and ``bpe.py``:

- The feature table is materialized ONCE (localCheckpoint) before
  the loop; every round re-scans the checkpoint, not the lineage.
- Each round is ONE distributed pass producing per-partition
  gradient partials of fixed width (d+1 floats + loss + count) via
  ``mapInArrow`` — the driver receives O(P·d) numbers, never rows,
  sums them in sorted-partition order (deterministic), and takes a
  gradient step. No shuffle at all: partials go straight from the
  scan to the driver.
- Inference (``predict``) is a map-only Arrow-batched projection —
  it pipelines into whatever filter/write follows, exactly like the
  k-means assignment and int8 quantization kernels.

Reference: Hive has no trainer; this is SURVEY §6
training-data-pipeline surface. Determinism: zero init + full-batch
gradient ⇒ the learned weights are a pure function of the dataset
up to float-summation order, which the sorted-partial reduction
pins; partition-count invariance is asserted in tests/test_logreg.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _partial_kernel(w, b):
    import numpy as np

    def kernel(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        d = len(w)
        grad = np.zeros(d)
        gb = 0.0
        loss = 0.0
        n = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            X = np.vstack(batch.column("features").to_pylist()).astype(
                np.float64
            )
            y = np.asarray(batch.column("label").to_pylist(), dtype=np.float64)
            z = X @ w + b
            p = 1.0 / (1.0 + np.exp(-z))
            err = p - y
            grad += X.T @ err
            gb += float(err.sum())
            # numerically-stable log loss
            loss += float(
                np.sum(np.log1p(np.exp(-np.abs(z))) + np.maximum(z, 0) - z * y)
            )
            n += len(y)
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [pid],
                "grad": [grad.tolist()],
                "grad_b": [gb],
                "loss": [loss],
                "n": [n],
            }
        )

    return kernel


def _single_partition_loop(dim, n_rounds, lr, l2, total):
    """The WHOLE gradient loop inside one task — exact fast path for
    a training set that fits one partition (total ≤ rows_per_partition
    after right-sizing). With P=1 the driver's sorted-partial
    reduction is the identity, so running all rounds next to the data
    is bit-identical to the distributed loop (same per-batch
    accumulation order, same float64 update arithmetic) while paying
    ONE job instead of n_rounds collect round-trips (guide §1.2: fix
    the distributed algorithm first — here the algorithm degenerates
    to local GD and the per-round job scheduling WAS the cost). At
    warehouse scale the partition count exceeds 1 and the distributed
    path below runs unchanged."""
    import numpy as np

    def kernel(batches):
        import pyarrow as pa

        mats = []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            X = np.vstack(batch.column("features").to_pylist()).astype(
                np.float64
            )
            y = np.asarray(batch.column("label").to_pylist(), dtype=np.float64)
            mats.append((X, y))
        w = np.zeros(dim)
        b = 0.0
        mean_loss = float("inf")
        for _ in range(n_rounds):
            grad = np.zeros(dim)
            gb = loss = 0.0
            for X, y in mats:  # same per-batch fp order as _partial_kernel
                z = X @ w + b
                p = 1.0 / (1.0 + np.exp(-z))
                err = p - y
                grad += X.T @ err
                gb += float(err.sum())
                loss += float(
                    np.sum(
                        np.log1p(np.exp(-np.abs(z)))
                        + np.maximum(z, 0)
                        - z * y
                    )
                )
            grad = grad / total + l2 * w
            gb /= total
            mean_loss = loss / total + 0.5 * l2 * float(w @ w)
            w -= lr * grad
            b -= lr * gb
        yield pa.RecordBatch.from_pydict(
            {"w": [w.tolist()], "b": [b], "mean_loss": [mean_loss]}
        )

    return kernel


def train_logreg(
    df: DataFrame,
    *,
    label_col: str = "label",
    features_col: str = "features",
    dim: int,
    n_rounds: int = 40,
    lr: float = 0.5,
    l2: float = 1e-4,
):
    """Full-batch gradient descent; returns (weights ndarray[dim],
    bias, mean training loss as measured at the LAST gradient step —
    i.e. before the final update). ``df`` must have a dense
    ``array<double>`` features column and a 0/1 double label."""
    import numpy as np

    ckpt = df.select(
        F.col(features_col).alias("features"),
        F.col(label_col).cast("double").alias("label"),
    ).localCheckpoint(eager=True)
    total = ckpt.count()
    if total == 0:
        raise ValueError("empty training set")
    # Right-size the n_rounds gradient jobs to the data (guide
    # §2): the checkpoint keeps the static shuffle layout, so a
    # small training set would otherwise pay n_rounds ×
    # shuffle.partitions near-empty Arrow tasks. coalesce is
    # narrow and never widens — no-op at warehouse scale. The
    # per-partition partials change grouping, not values: the
    # sorted-pid reduction stays deterministic and
    # partition-count invariance is tolerance-pinned in
    # tests/test_logreg.py.
    from .util import right_size_loop_frame

    rows_per_partition = 32768
    data = right_size_loop_frame(
        ckpt, total, rows_per_partition=rows_per_partition
    )
    if total <= rows_per_partition:
        # One partition after the coalesce ⇒ run every round in
        # the task (see _single_partition_loop: bit-identical).
        out = data.mapInArrow(
            _single_partition_loop(dim, n_rounds, lr, l2, total),
            "w array<double>, b double, mean_loss double",
        ).collect()
        r = out[0]
        return np.asarray(r.w), r.b, r.mean_loss
    w = np.zeros(dim)
    b = 0.0
    mean_loss = float("inf")
    for _ in range(n_rounds):
        parts = data.mapInArrow(
            _partial_kernel(w, b),
            "pid long, grad array<double>, grad_b double, "
            "loss double, n long",
        ).collect()
        parts.sort(key=lambda r: r.pid)  # deterministic fp order
        grad = np.zeros(dim)
        gb = loss = 0.0
        for r in parts:
            grad += np.asarray(r.grad)
            gb += r.grad_b
            loss += r.loss
        grad = grad / total + l2 * w
        gb /= total
        mean_loss = loss / total + 0.5 * l2 * float(w @ w)
        w -= lr * grad
        b -= lr * gb
    return w, b, mean_loss


def predict(
    df: DataFrame,
    w,
    b: float,
    *,
    features_col: str = "features",
    out_col: str = "score",
) -> DataFrame:
    """Map-only scoring: sigmoid(w·x + b) appended as ``out_col``."""
    import numpy as np

    wv = np.asarray(w, dtype=np.float64)

    @F.pandas_udf("double")
    def score(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=float)
        X = np.vstack(vecs.to_numpy()).astype(np.float64)
        return pd.Series(1.0 / (1.0 + np.exp(-(X @ wv + b))))

    return df.withColumn(out_col, score(F.col(features_col)))


def dense_hash_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    dim: int = 128,
) -> DataFrame:
    """(id, features array<double>[dim]): hashing-trick counts
    (features.hash_token_features) pivoted dense with log1p scaling —
    one explode + one shuffle, JVM-side pivot via map lookup (no
    Python in the featurization path)."""
    from .features import hash_token_features

    sparse = hash_token_features(df, id_col, text_col, dim=dim)
    m = F.map_from_entries(
        F.collect_list(F.struct(F.col("bucket"), F.col("cnt")))
    )
    dense = sparse.groupBy(id_col).agg(m.alias("m"))
    feats = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.log1p(
            F.coalesce(F.element_at("m", i.cast("long")), F.lit(0)).cast(
                "double"
            )
        ),
    )
    return dense.select(F.col(id_col), feats.alias("features"))


def planted_corpus(n_docs: int = 400, n_words: int = 30):
    """Deterministic two-class corpus, no RNG (sha256-derived, the
    _plane_matrix discipline): class 1 draws ~70% of its words from
    pool A and 30% from pool B, class 0 the reverse — overlapping
    distributions, so the classifier must weigh evidence, not match
    a single token. Returns [(doc_id, text, label)].

    Exists because the testdata ``lang`` column is independent of
    ``text`` (all docs share one word pool — verified), so no
    text-based classifier can learn it; a trainer test needs a
    corpus whose label actually lives in the text."""
    import hashlib

    pool_a = [f"alpha{i}" for i in range(40)]
    pool_b = [f"beta{i}" for i in range(40)]

    def h(tag: str, i: int, j: int) -> int:
        return int.from_bytes(
            hashlib.sha256(f"{tag}:{i}:{j}".encode()).digest()[:8], "big"
        )

    rows = []
    for i in range(n_docs):
        label = i % 2
        major, minor = (pool_a, pool_b) if label else (pool_b, pool_a)
        words = []
        for j in range(n_words):
            if h("mix", i, j) % 10 < 7:
                words.append(major[h("w", i, j) % len(major)])
            else:
                words.append(minor[h("w", i, j) % len(minor)])
        rows.append((i, " ".join(words), float(label)))
    return rows
