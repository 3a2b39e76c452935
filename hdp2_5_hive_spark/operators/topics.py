"""Mixture-of-unigrams topic model (classification EM / hard EM).

The corpus-exploration tier above k-means on embeddings
(``operators/embeddings.py``): clusters documents by their WORD
DISTRIBUTION with an explicit per-topic unigram model — Nigam et
al. 2000 ("Text Classification from Labeled and Unlabeled Documents
using EM", the mixture-of-unigrams member of that family), hard
(classification) EM per Celeux & Govaert 1992. Public textbook
algorithm throughout; Hive has no trainer — SURVEY §6
training-data-pipeline surface, same tier as ``logreg.py`` /
``unigram_lm.py`` / ``wordpiece.py``.

Scale shape — the repo's iterative-algorithm discipline:

- The doc-word count table is materialized ONCE (persist + count)
  before the loop; every round re-scans it, never growing lineage —
  each round's plan is ``dw`` + driver-literal broadcast tables.
- E-step is a broadcast join against the V-row vocab score table
  (V×K log-probabilities as DECIMAL(12,6) literals) + ONE keyed
  decimal aggregate per doc with map-side combine — no corpus-sized
  shuffle beyond the doc-keyed agg.
- M-step collects ≤ V×K integer (topic, word, count) rows + K doc
  counts — bounded driver state, exactly like the k-means /
  PQ-codebook / BPE collectors.
- Convergence is a changed-assignment COUNT (scalar to the driver),
  never a collected assignment vector.

Determinism / exactness — the pin that lets tests compare EXACTLY
against a sequential reference under any partitioning:

- Integer counts everywhere in the M-step (hard EM, like
  ``unigram_lm.py``'s choice); log-probabilities are computed
  driver-side from those integers and ROUNDED to 6 dp, then carried
  as DECIMAL(12,6). Per-doc scores are Σ c·lp — exact decimal
  arithmetic, so partition order cannot perturb the argmax.
- Ties in the argmax go to the SMALLEST topic id; vocabulary is
  top-V by (count desc, word asc); the initial assignment is
  md5(doc_id) mod K — RNG-free and engine-portable.
- Documents with zero in-vocabulary tokens are excluded from the
  model (documented rule, mirrored by the reference).
"""

from __future__ import annotations

import hashlib
import math
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import util


def doc_word_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, word, c): lowercase whitespace tokenization (the
    textstats convention), empty tokens dropped, one keyed agg."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
    ).filter(F.length("word") > 0)
    return tok.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("c")
    )


def top_vocab(dw: DataFrame, vocab_size: int) -> list[str]:
    """Top-V words by (corpus count desc, word asc) — V-bounded
    driver state via TakeOrderedAndProject, no global sort."""
    rows = (
        dw.groupBy("word")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(vocab_size)
        .collect()
    )
    return [r["word"] for r in rows]


def _init_topic_col(k: int):
    """md5(doc_id) mod k — first 15 hex digits (fits a signed long),
    identical to the reference's int(md5(str(id))[:15], 16) % k."""
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % k
    ).cast("int")


def _log_theta(
    counts: dict[tuple[int, str], int],
    tok_k: dict[int, int],
    vocab: list[str],
    k: int,
) -> dict[tuple[int, str], float]:
    """Laplace-smoothed per-topic word log-probs, rounded to 6 dp —
    a pure function of integer counts, so both engines agree."""
    v = len(vocab)
    return {
        (t, w): round(
            math.log((counts.get((t, w), 0) + 1) / (tok_k.get(t, 0) + v)), 6
        )
        for t in range(k)
        for w in vocab
    }


def _assign(
    spark,
    dw: DataFrame,
    vocab: list[str],
    log_theta: dict[tuple[int, str], float],
    log_pi: list[float],
    k: int,
) -> DataFrame:
    """E-step: broadcast the V×K score table, one doc-keyed decimal
    aggregate, argmax with smallest-topic tie-break."""
    score_rows = [
        (w, [Decimal(f"{log_theta[(t, w)]:.6f}") for t in range(k)])
        for w in vocab
    ]
    scores = spark.createDataFrame(
        score_rows, "word string, lp array<decimal(12,6)>"
    )
    j = dw.join(F.broadcast(scores), "word")
    aggs = [
        F.sum(F.col("c") * F.col("lp")[t]).alias(f"s{t}") for t in range(k)
    ]
    per_doc = j.groupBy("doc_id").agg(*aggs)
    total = [
        (F.col(f"s{t}") + F.lit(Decimal(f"{log_pi[t]:.6f}"))).alias(f"t{t}")
        for t in range(k)
    ]
    sc = per_doc.select("doc_id", *total)
    best = F.greatest(*[F.col(f"t{t}") for t in range(k)])
    topic = F.lit(None).cast("int")
    for t in range(k - 1, -1, -1):
        topic = F.when(F.col(f"t{t}") == best, F.lit(t)).otherwise(topic)
    return sc.select("doc_id", topic.alias("topic"))


def _init_topic_py(doc_id, k: int) -> int:
    """Python twin of ``_init_topic_col``: int(md5(str(id))[:15], 16)
    % k — identical hex parse and modulus."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % k


def _train_local_topics(
    rows: list[tuple[object, str, int]],
    vocab: list[str],
    k: int,
    n_rounds: int,
) -> tuple[list[tuple[object, int]], dict, dict, list[int], int]:
    """The WHOLE hard-EM loop over an in-memory doc-word table — exact
    twin of the distributed body of ``train_topics`` (the bpe/logreg
    in-task discipline). Every per-doc score is a sum of DECIMAL(12,6)
    quantities (exact, order-independent), the argmax tie goes to the
    smallest topic id, and M-step counts are integers — so assignments,
    counts and history are bit-identical under either path.

    Returns (assign [(doc_id, topic)], counts {(t,w):n},
    doc_counts {t:n}, changed_hist, rounds_run).

    Arithmetic note: every DECIMAL(12,6) score term is an exact
    multiple of 1e-6, so scoring runs in int64 MICROS (numpy) —
    Σ c·lp stays far below 2^63 (c·lp ≤ 10³·1.5·10⁷ per term, ≤ V
    terms per doc), sums/compares are exact, and ``argmax`` takes the
    first (= smallest) topic on ties — identical to the distributed
    decimal aggregate."""
    import numpy as np
    from decimal import Decimal

    widx = {w: i for i, w in enumerate(vocab)}
    by_doc: dict = {}
    for doc_id, word, c in rows:
        by_doc.setdefault(doc_id, []).append((widx[word], int(c)))
    doc_ids = sorted(by_doc)
    n_docs = len(doc_ids)
    v = len(vocab)
    # Flat (doc_idx, word_idx, c) arrays for the vectorized passes.
    di = np.fromiter(
        (i for i, d in enumerate(doc_ids) for _ in by_doc[d]),
        dtype=np.int64,
    )
    wi = np.fromiter(
        (w for d in doc_ids for w, _ in by_doc[d]), dtype=np.int64
    )
    cv = np.fromiter(
        (c for d in doc_ids for _, c in by_doc[d]), dtype=np.int64
    )
    assign = np.fromiter(
        (_init_topic_py(d, k) for d in doc_ids), dtype=np.int64
    )

    def micros(x: float) -> int:
        # x is already round(·, 6); f-format pins the 6-dp string and
        # Decimal.scaleb makes the integer exact.
        return int(Decimal(f"{x:.6f}").scaleb(6))

    changed_hist: list[int] = []
    rounds_run = 0

    def mstep():
        cnt = np.zeros((k, v), dtype=np.int64)
        np.add.at(cnt, (assign[di], wi), cv)
        dc = np.bincount(assign, minlength=k) if n_docs else np.zeros(k, int)
        return cnt, dc

    cnt = dc = None
    for _ in range(n_rounds):
        cnt, dc = mstep()
        tok_k = {t: int(cnt[t].sum()) for t in range(k)}
        counts_d = {
            (t, vocab[w]): int(cnt[t, w])
            for t in range(k)
            for w in range(v)
            if cnt[t, w]
        }
        lt = _log_theta(counts_d, tok_k, vocab, k)
        lp = [
            round(math.log((int(dc[t]) + 1) / (n_docs + k)), 6)
            for t in range(k)
        ]
        # E-step in exact int64 micros.
        ltab = np.empty((v, k), dtype=np.int64)
        for t in range(k):
            for w in range(v):
                ltab[w, t] = micros(lt[(t, vocab[w])])
        scores = np.tile(
            np.asarray([micros(x) for x in lp], dtype=np.int64), (n_docs, 1)
        )
        np.add.at(scores, di, cv[:, None] * ltab[wi])
        new_assign = scores.argmax(axis=1)  # first max ⇒ smallest topic
        changed = int((new_assign != assign).sum())
        changed_hist.append(changed)
        rounds_run += 1
        assign = new_assign
        if changed == 0:
            break

    # Final counts under the converged assignment.
    cnt, dc = mstep()
    counts = {
        (t, vocab[w]): int(cnt[t, w])
        for t in range(k)
        for w in range(v)
        if cnt[t, w]
    }
    doc_counts = {t: int(dc[t]) for t in range(k) if dc[t]}
    return (
        [(d, int(assign[i])) for i, d in enumerate(doc_ids)],
        counts,
        doc_counts,
        changed_hist,
        rounds_run,
    )


def train_topics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 4,
    vocab_size: int = 128,
    n_rounds: int = 8,
) -> tuple[DataFrame, dict]:
    """Hard-EM mixture-of-unigrams. Returns (assignment DataFrame
    (doc_id, topic), model dict with 'counts' {(topic,word): n},
    'doc_counts' {topic: docs}, 'vocab', 'rounds_run', 'changed'
    per-round history). Stops early when no assignment changes."""
    spark = df.sparkSession
    dw = doc_word_counts(df, text_col, id_col)
    vocab = top_vocab(dw, vocab_size)
    dw = dw.join(
        F.broadcast(spark.createDataFrame([(w,) for w in vocab], "word string")),
        "word",
    ).localCheckpoint(eager=True)
    # Null doc_ids take the distributed path (see util.task_sized;
    # a NaN id would also mis-hash vs the SQL cast in str(5.0)).
    n_dw, fits = util.task_sized(dw, util.IN_TASK_MAX_ROWS, ("doc_id",))
    if fits:
        # The doc-word table is task-sized ⇒ run every EM round in ONE
        # task (see _train_local_topics: decimal-exact, bit-identical)
        # instead of ~4 scheduled jobs per round. Driver state stays
        # bounded: n_docs assignment pairs + V×K integer counts — the
        # same order as the M-step collects the distributed loop
        # already pays PER ROUND. At warehouse scale n_dw exceeds the
        # bound and the distributed loop below runs unchanged.
        import json as _json

        kw = {"vocab": vocab, "k": k, "n_rounds": n_rounds}

        def kernel(batches):
            import pandas as pd

            rows = []
            for pdf in batches:
                for d, w, c in zip(pdf["doc_id"], pdf["word"], pdf["c"]):
                    rows.append((d, w, int(c)))
            assign, counts, doc_counts, hist, rounds = _train_local_topics(
                rows, kw["vocab"], kw["k"], kw["n_rounds"]
            )
            meta = _json.dumps(
                {
                    "counts": [[t, w, n] for (t, w), n in counts.items()],
                    "doc_counts": list(doc_counts.items()),
                    "hist": hist,
                    "rounds": rounds,
                }
            )
            # One marker row carries the model; assignment rows carry
            # meta=None (robust for the empty-corpus edge).
            yield pd.DataFrame(
                {
                    "doc_id": [None] + [d for d, _ in assign],
                    "topic": [None] + [t for _, t in assign],
                    "meta": [meta] + [None] * len(assign),
                }
            )

        from pyspark.sql import types as T

        id_t = dw.schema["doc_id"].dataType
        schema = T.StructType(
            [
                T.StructField("doc_id", id_t),
                T.StructField("topic", T.IntegerType()),
                T.StructField("meta", T.StringType()),
            ]
        )
        out = dw.coalesce(1).mapInPandas(kernel, schema).collect()
        meta = _json.loads(next(r["meta"] for r in out if r["meta"]))
        assign_df = spark.createDataFrame(
            [
                (r["doc_id"], int(r["topic"]))
                for r in out
                if r["meta"] is None
            ],
            T.StructType(
                [
                    T.StructField("doc_id", id_t),
                    T.StructField("topic", T.IntegerType()),
                ]
            ),
        )
        model = {
            "counts": {(t, w): int(n) for t, w, n in meta["counts"]},
            "doc_counts": {int(t): int(n) for t, n in meta["doc_counts"]},
            "vocab": vocab,
            "rounds_run": int(meta["rounds"]),
            "changed": [int(c) for c in meta["hist"]],
        }
        return assign_df, model

    # Right-size the frames every EM round re-scans (guide §2):
    # checkpointed plans keep the static shuffle layout, so a small
    # corpus would otherwise run each round's M-step join + E-step
    # aggregate + changed-count at shuffle.partitions near-empty
    # tasks. All round aggregates are integer/decimal-exact, so the
    # layout cannot change any value.
    dw = util.right_size_loop_frame(dw, n_dw)
    n_docs = dw.select("doc_id").distinct().count()
    assign = (
        util.right_size_loop_frame(
            dw.select("doc_id").distinct().select(
                "doc_id", _init_topic_col(k).alias("topic")
            ),
            n_docs,
        )
    ).persist()
    assign.count()

    counts: dict[tuple[int, str], int] = {}
    doc_counts: dict[int, int] = {}
    changed_hist: list[int] = []
    rounds_run = 0
    for _ in range(n_rounds):
        # M-step: integer counts from the current assignment.
        crows = (
            dw.join(assign, "doc_id")
            .groupBy("topic", "word")
            .agg(F.sum("c").alias("n"))
            .collect()
        )
        counts = {(r["topic"], r["word"]): int(r["n"]) for r in crows}
        doc_counts = {
            r["topic"]: int(r["n"])
            for r in assign.groupBy("topic")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        tok_k = {t: 0 for t in range(k)}
        for (t, _w), n in counts.items():
            tok_k[t] = tok_k.get(t, 0) + n
        lt = _log_theta(counts, tok_k, vocab, k)
        lp = [
            round(math.log((doc_counts.get(t, 0) + 1) / (n_docs + k)), 6)
            for t in range(k)
        ]
        # E-step under the new model.
        new_assign = _assign(spark, dw, vocab, lt, lp, k).persist()
        changed = (
            new_assign.alias("a")
            .join(assign.alias("b"), "doc_id")
            .filter(F.col("a.topic") != F.col("b.topic"))
            .count()
        )
        changed_hist.append(changed)
        rounds_run += 1
        assign.unpersist()
        assign = new_assign
        if changed == 0:
            break

    # Final counts under the converged assignment (what summaries use).
    crows = (
        dw.join(assign, "doc_id")
        .groupBy("topic", "word")
        .agg(F.sum("c").alias("n"))
        .collect()
    )
    counts = {(r["topic"], r["word"]): int(r["n"]) for r in crows}
    doc_counts = {
        r["topic"]: int(r["n"])
        for r in assign.groupBy("topic").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    model = {
        "counts": counts,
        "doc_counts": doc_counts,
        "vocab": vocab,
        "rounds_run": rounds_run,
        "changed": changed_hist,
    }
    return assign, model


def topic_summary(spark, model: dict, k: int, top_n: int = 5) -> DataFrame:
    """Per-topic (topic, n_docs, n_tokens, top_words) — built from
    the bounded collected model, scalar columns only (driver
    canonicalizer contract)."""
    rows = []
    for t in range(k):
        words = sorted(
            (
                (w, n)
                for (tt, w), n in model["counts"].items()
                if tt == t
            ),
            key=lambda wn: (-wn[1], wn[0]),
        )
        rows.append(
            (
                t,
                int(model["doc_counts"].get(t, 0)),
                int(sum(n for _w, n in words)),
                " ".join(w for w, _n in words[:top_n]),
            )
        )
    return spark.createDataFrame(
        rows, "topic int, n_docs bigint, n_tokens bigint, top_words string"
    ).orderBy("topic")


def reference_topics(
    docs: list[tuple[object, str]], *, k: int = 4, vocab_size: int = 128,
    n_rounds: int = 8,
) -> tuple[dict[object, int], dict]:
    """Sequential reference: the SAME algorithm over in-memory docs,
    used by tests to pin the distributed trainer EXACTLY."""
    from collections import Counter

    dw: dict[object, Counter] = {}
    corpus: Counter = Counter()
    for did, text in docs:
        c = Counter(w for w in text.lower().split() if w)
        if c:
            dw[did] = c
            corpus.update(c)
    vocab = [
        w
        for w, _n in sorted(corpus.items(), key=lambda wn: (-wn[1], wn[0]))[
            :vocab_size
        ]
    ]
    vset = set(vocab)
    dw = {
        did: Counter({w: n for w, n in c.items() if w in vset})
        for did, c in dw.items()
    }
    dw = {did: c for did, c in dw.items() if c}
    n_docs = len(dw)
    assign = {
        did: int(hashlib.md5(str(did).encode()).hexdigest()[:15], 16) % k
        for did in dw
    }
    counts: dict[tuple[int, str], int] = {}
    doc_counts: dict[int, int] = {}
    for _ in range(n_rounds):
        counts, doc_counts = {}, {}
        for did, c in dw.items():
            t = assign[did]
            doc_counts[t] = doc_counts.get(t, 0) + 1
            for w, n in c.items():
                counts[(t, w)] = counts.get((t, w), 0) + n
        tok_k: dict[int, int] = {}
        for (t, _w), n in counts.items():
            tok_k[t] = tok_k.get(t, 0) + n
        lt = _log_theta(counts, tok_k, vocab, k)
        lp = [
            Decimal(
                f"{round(math.log((doc_counts.get(t, 0) + 1) / (n_docs + k)), 6):.6f}"
            )
            for t in range(k)
        ]
        ltd = {
            (t, w): Decimal(f"{v:.6f}") for (t, w), v in lt.items()
        }
        new_assign = {}
        for did, c in dw.items():
            scores = [
                lp[t] + sum((ltd[(t, w)] * n for w, n in c.items()), Decimal(0))
                for t in range(k)
            ]
            best = max(scores)
            new_assign[did] = min(
                t for t in range(k) if scores[t] == best
            )
        changed = sum(1 for d in dw if new_assign[d] != assign[d])
        assign = new_assign
        if changed == 0:
            break
    counts, doc_counts = {}, {}
    for did, c in dw.items():
        t = assign[did]
        doc_counts[t] = doc_counts.get(t, 0) + 1
        for w, n in c.items():
            counts[(t, w)] = counts.get((t, w), 0) + n
    return assign, {
        "counts": counts,
        "doc_counts": doc_counts,
        "vocab": vocab,
    }
