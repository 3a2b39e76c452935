"""Term-based retrieval: TF-IDF / BM25 scoring over the documents
table — the lexical complement of operators/similarity.py's embedding
ANN (SURVEY §2.14 similarity-search extension).

Scale shape (100 TB corpus, small query set):
- Per-doc term frequencies are one explode + keyed partial agg —
  the shuffle carries (doc, term, tf), collapsed map-side.
- Document frequencies reuse the same table: groupBy(term) partial
  agg — one row per distinct term.
- Corpus scalars (N, average doc length) are single-row aggregates
  broadcast via crossJoin, NOT an empty-frame window (which would
  funnel the corpus through one partition).
- The query side is tiny by construction → broadcast hash join on
  term; the corpus table never shuffles for scoring, only the
  (doc, query) partial sums do.

Everything is built-in expressions; ln() runs JVM-side and the final
score is rounded so cross-engine libm ulp noise cannot surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import words_col
from .util import materialize


def term_frequencies(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf, dl): per-document term counts + doc length."""
    from .util import ensure_parallelism

    words = ensure_parallelism(df).select(
        F.col(id_col), F.explode(words_col(F.col(text_col))).alias("term")
    )
    tf = words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dl = words.groupBy(id_col).agg(F.count("*").alias("dl"))
    return tf.join(dl, id_col)


def bm25_scores(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every corpus doc for every query (docs
    sharing at least one term). Robertson/Spärck Jones BM25 with the
    +1 idf floor (as in Lucene): idf = ln(1 + (N - df + 0.5)/(df + 0.5)).

    Returns (query_id, doc_id, score) with score rounded to 4 dp.
    """
    # Lazy persist, NOT the eager localCheckpoint rm3 uses: re-
    # measured in r14 — with only three tf consumers here the eager
    # materialization cost exceeds the replay savings (cold build
    # 3.5s -> 11.1s, warm 2.8s -> 3.4s on retrieval_bm25), the
    # opposite outcome from rm3's ~11 consumers. The tf table feeds
    # three consumers (corpus scalars, document frequencies, scoring).
    tf = materialize(
        term_frequencies(corpus, id_col, text_col), "retrieval.bm25_tf"
    )
    stats = corpus.select(
        F.count("*").alias("n_docs")
    ).crossJoin(
        tf.select(id_col, "dl")
        .distinct()
        .select(F.avg("dl").alias("avgdl"))
    )
    q_terms = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(words_col(F.col(text_col)))).alias("term"),
    )
    # Document frequencies over the WHOLE corpus, but narrowed to the
    # query vocabulary before broadcast — a full (term, df) table is
    # millions of rows at corpus scale and must never be broadcast
    # (same mistake class as round-1's forced broadcast(customer)).
    df_t = (
        tf.join(F.broadcast(q_terms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (
        F.col("tf") * (k1 + 1)
    ) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            query_id_col,
            id_col,
            (idf * tf_part).alias("contrib"),
        )
    )
    return scored.groupBy(query_id_col, id_col).agg(
        F.round(F.sum("contrib"), 4).alias("score")
    )


def rm3_expand_rescore(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    *,
    fb_docs: int = 3,
    fb_terms: int = 3,
    expand_weight: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Pseudo-relevance feedback (RM3-style, Lavrenko & Croft 2001
    simplified to the BM25 setting): run BM25, take each query's top
    ``fb_docs`` documents, mine their ``fb_terms`` strongest
    non-query terms (feedback tf × corpus idf), then RESCORE with the
    expanded query — expansion contributions down-weighted by
    ``expand_weight``. The classic fix for vocabulary mismatch
    ("car" queries also pulling "automobile" docs).

    Float-parity discipline (stricter than bm25_scores): every
    per-(query,doc,term) contribution rounds to 6 decimals into
    DECIMAL(38,6) before the final sum, so the score is exact and
    order-independent — the SQL oracle replays it bit-for-bit.

    Scale shape: two broadcast-probe scoring passes over the
    persisted corpus tf table (never shuffling the corpus), a per-
    query WindowGroupLimit for feedback docs and expansion terms —
    everything that moves is query-sized.

    Retention: the corpus tf table is an eager local checkpoint, not
    a ``materialize`` persist, so a call does not release the previous
    call's table, and ``unpersist``/``clearCache`` cannot free it. Its
    blocks stay on the executors as long as the returned frame is
    reachable, and until the next JVM GC after that; a long-lived
    session that keeps several results keeps one corpus-sized tf
    table per result."""
    from pyspark.sql import Window

    # The tf table feeds ~11 subtree copies across the two scoring
    # passes + feedback mining (the static plan inlined 148 corpus
    # scans, 0 ReusedExchange). r13's A/B rejected .persist() (2x
    # worse — lazy cache + broadcast subqueries); r14 re-measured
    # with an EAGER localCheckpoint, which physically materializes
    # the narrow (id, term, tf, dl) table once and truncates every
    # copy's lineage to a block read: warm 10.5s -> 8.5s, cold 18.8s
    # -> 11.0s on a 50-query probe at sf0.1. At warehouse scale this
    # trades one materialization of the term table against ~11 full
    # corpus re-reads (retention: see the docstring).
    tf = term_frequencies(corpus, id_col, text_col).localCheckpoint(
        eager=True
    )
    stats = corpus.select(F.count("*").alias("n_docs")).crossJoin(
        tf.select(id_col, "dl")
        .distinct()
        .select(F.avg("dl").alias("avgdl"))
    )
    q_terms = queries.select(
        F.col(query_id_col),
        F.explode(
            F.array_distinct(words_col(F.col(text_col)))
        ).alias("term"),
    )

    def contribs(qt, weight):
        """Per-(query, doc, term) BM25 contribution, weighted and
        rounded to 6 into DECIMAL(38,6)."""
        df_t = (
            tf.join(F.broadcast(qt.select("term").distinct()), "term")
            .groupBy("term")
            .agg(F.count("*").alias("df"))
        )
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col("df") + 0.5)
            / (F.col("df") + 0.5)
        )
        tf_part = (F.col("tf") * (k1 + 1)) / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
        return (
            tf.join(F.broadcast(qt), "term")
            .join(F.broadcast(df_t), "term")
            .crossJoin(F.broadcast(stats))
            .select(
                query_id_col,
                id_col,
                F.round(F.lit(weight) * idf * tf_part, 6)
                .cast("decimal(38,6)")
                .alias("c"),
            )
        )

    first = contribs(q_terms, 1.0).groupBy(query_id_col, id_col).agg(
        F.sum("c").alias("s")
    )
    top_docs = first.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy(query_id_col).orderBy(
                F.desc("s"), F.col(id_col)
            )
        ),
    ).filter(F.col("r") <= fb_docs)

    # expansion candidates: terms of the feedback docs, scored by
    # (sum of feedback tf) × corpus idf, minus the original terms
    fb_tf = tf.join(
        F.broadcast(top_docs.select(query_id_col, id_col)), id_col
    )
    cand = (
        fb_tf.groupBy(query_id_col, "term")
        .agg(F.sum("tf").alias("fbtf"))
        .join(q_terms, [query_id_col, "term"], "left_anti")
    )
    cand_df = (
        tf.join(F.broadcast(cand.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    cand_idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    exp_terms = (
        cand.join(F.broadcast(cand_df), "term")
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            query_id_col,
            "term",
            F.round(F.col("fbtf") * cand_idf, 6).alias("w"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy(query_id_col).orderBy(
                    F.desc("w"), F.col("term")
                )
            ),
        )
        .filter(F.col("r") <= fb_terms)
        .select(query_id_col, "term")
    )

    second = contribs(exp_terms, expand_weight)
    all_c = first.select(
        query_id_col, id_col, F.col("s").alias("c")
    ).unionByName(second)
    from ..functions.hive_compat import pround

    return all_c.groupBy(query_id_col, id_col).agg(
        # the exact decimal sum is a multiple of 1e-6 — a native
        # round-to-4 can land ON a .5e-4 tie (observed: 4.43615), so
        # the deterministic floor form is required here
        pround(F.sum("c").cast("double"), 4).alias("score")
    )


def ranking_metrics(
    run: DataFrame, qrels: DataFrame, k: int = 20
) -> DataFrame:
    """Standard retrieval-eval metrics per query — recall@k, MRR@k,
    binary nDCG@k — over a ranked ``run`` (query_id, doc_id, rank;
    rank 1-based, ≤ k per query) and a relevance set ``qrels``
    (query_id, doc_id). The offline eval gate every retrieval /
    ANN / hybrid stack reports before a ranker ships.

    Determinism: each DCG/IDCG term 1/log2(rank+1) is rounded to 6
    places and accumulated as DECIMAL(38,6) (the Zipf/centroid-drift
    idiom — irrational log terms never sit on a rounding tie; the
    dyadic ones, ranks 1 and 3, round exactly), so both engines sum
    identical quantities exactly; the final recall / reciprocal-rank
    / nDCG quotients are single IEEE divisions under ``pround``.

    Scale: the run is |Q|·k rows; qrels joins on (query_id, doc_id)
    — keyed equi-join, never broadcast-dependent; per-query
    aggregates are map-side-combining groupBys. IDCG's
    min(n_rel, k)-term series is a per-row higher-order aggregate
    over a k-bounded sequence — no extra shuffle.
    """
    from ..functions.hive_compat import pround

    dcg_term = F.expr(
        "cast(round(1 / log2(rank + 1), 6) as decimal(38,6))"
    )
    hits = (
        run.join(qrels, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit"),
            F.min("rank").alias("first_rank"),
            F.sum(dcg_term).alias("dcg"),
        )
    )
    nrel = qrels.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    idcg = F.expr(
        f"aggregate(transform(sequence(1, least(n_rel, {k})),"
        " i -> cast(round(1 / log2(i + 1), 6) as decimal(38,6))),"
        " cast(0 as decimal(38,6)), (a, x) -> a + x)"
    )
    out = (
        nrel.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("n_rel").cast("bigint").alias("n_rel"),
            F.coalesce(F.col("n_hit"), F.lit(0))
            .cast("bigint")
            .alias("n_hit"),
            pround(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_rel").cast("double")
            ).alias("recall_k"),
            pround(
                F.coalesce(
                    F.lit(1.0) / F.col("first_rank").cast("double"),
                    F.lit(0.0),
                )
            ).alias("mrr"),
            pround(
                F.coalesce(F.col("dcg"), F.lit(0).cast("decimal(38,6)"))
                .cast("double")
                / idcg.cast("double")
            ).alias("ndcg_k"),
        )
        .orderBy("query_id")
    )
    return out
