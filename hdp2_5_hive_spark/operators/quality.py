"""Corpus-statistical quality scoring: unigram language-model
perplexity (the CCNet/RedPajama-style filter signal).

Extends the reference's text-function surface (SURVEY.md §2.14 north
star; Hive's own stats live in ``ql/.../udf/generic/
GenericUDAFComputeStats.java`` — per-column NDV/histograms, never a
corpus LM) with the scoring step every large-scale training-data
pipeline runs: score each document by how surprising its tokens are
under a model trained on the corpus itself, then filter the tails
(gibberish scores high, boilerplate scores low).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hive_compat import pround
from .dedup import words_col
from .util import materialize


def compression_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document zlib compression ratio — the entropy-proxy
    quality signal (RedPajama/Gopher family: machine-generated
    boilerplate compresses far below ~0.4, high-entropy gibberish
    stays near 1.0).

    zlib is Python-side by necessity, so it runs as an Arrow-batched
    pandas UDF (one C call per doc inside the batch loop — the cost
    IS the compression, not the transfer). Deterministic for a fixed
    level, so values are pinned in pytest; no SQL oracle exists for
    DEFLATE, which is why the registered query is rows-only."""
    import zlib

    @F.pandas_udf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        def one(s: str | None) -> float:
            if not s:
                return 1.0
            raw = s.encode("utf-8")
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        return texts.map(one)

    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        ratio(F.col(text_col)).alias("zlib_ratio"),
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean negative log2-probability of its tokens
    under the corpus's own unigram distribution (bits/token).

    Scale shape (two keyed shuffles + one count-keyed join, all with
    map-side combine; no Python anywhere):

    1. explode → (doc, word) partial counts — collapses each doc's
       repeated words before anything shuffles;
    2. vocabulary = (word → corpus count) from the (doc, word)
       aggregate (NOT from raw tokens — input rows to the second
       shuffle are already deduped per doc);
    3. total-token count is a 1-row aggregate, broadcast;
    4. score join keyed on word. The vocabulary can reach ~10⁸ rows
       on a web corpus, so this stays a shuffle join by default and
       lets AQE broadcast it when it measures small.

    Float-parity discipline: per-(doc,word) bits are rounded to 6
    decimals and accumulated as DECIMAL(38,6) — exact, order-
    independent addition, so the DuckDB oracle can reproduce the sum
    no matter how partitions interleave (same trick as functions.dsum).
    """
    from .util import ensure_parallelism

    words = ensure_parallelism(df).select(
        F.col(id_col), F.explode(words_col(F.col(text_col))).alias("w")
    )
    doc_word = words.groupBy(id_col, "w").agg(F.count("*").alias("dc"))
    vocab = doc_word.groupBy("w").agg(F.sum("dc").alias("c"))
    total = vocab.agg(F.sum("c").alias("n_total"))
    scored = doc_word.join(vocab, "w").crossJoin(F.broadcast(total))
    bits = F.round(
        -F.log2(F.col("c").cast("double") / F.col("n_total").cast("double")), 6
    ).cast("decimal(38,6)")
    return scored.groupBy(id_col).agg(
        F.sum("dc").cast("bigint").alias("n_tokens"),
        pround(
            F.sum(bits * F.col("dc")).cast("double")
            / F.sum("dc").cast("double")
        ).alias("bits_per_token"),
    )


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean conditional bits/bigram under the corpus's
    own MLE bigram model: -log2 C(w1,w2)/C(w1·) averaged over the
    doc's bigram occurrences — the next strength class of LM quality
    signal above ``unigram_logprob`` (word-order-scrambled
    boilerplate scores high here while its unigram score is
    unchanged). MLE needs no smoothing: every doc bigram occurs in
    the corpus counts by construction (the corpus contains the doc).

    Same scale/parity discipline as unigram_logprob: per-(doc,
    bigram) partial counts collapse before the shuffle, the bigram
    table and its context marginal are keyed aggregates with
    map-side combine, and per-term bits round to 6 decimals into a
    DECIMAL(38,6) accumulator — exact, order-independent sums any
    SQL oracle reproduces."""
    from .util import ensure_parallelism

    w = words_col(F.col(text_col))
    grams = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(w) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - 1),
                    lambda i: F.struct(
                        F.element_at(w, i).alias("w1"),
                        F.element_at(w, i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<w1:string,w2:string>>")
            )
        ).alias("g"),
    ).select(id_col, "g.w1", "g.w2")
    doc_gram = grams.groupBy(id_col, "w1", "w2").agg(
        F.count("*").alias("dc")
    )
    bigrams = doc_gram.groupBy("w1", "w2").agg(F.sum("dc").alias("c12"))
    context = bigrams.groupBy("w1").agg(F.sum("c12").alias("c1"))
    scored = doc_gram.join(bigrams, ["w1", "w2"]).join(context, "w1")
    bits = F.round(
        -F.log2(F.col("c12").cast("double") / F.col("c1").cast("double")), 6
    ).cast("decimal(38,6)")
    return scored.groupBy(id_col).agg(
        F.sum("dc").cast("bigint").alias("n_bigrams"),
        pround(
            F.sum(bits * F.col("dc")).cast("double")
            / F.sum("dc").cast("double")
        ).alias("bits_per_bigram"),
    )


def dsir_logratio(
    df: DataFrame,
    target_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_buckets: int = 512,
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023 —
    public): score every raw document by how much more likely its
    hashed n-gram features are under the TARGET domain's bucket
    distribution than under the raw corpus's own.

    Features are the paper's hashed bag of unigrams+bigrams: each
    gram maps to ``md5(gram) mod n_buckets`` (engine-portable hash —
    see features.md5_bucket), and both distributions are
    Laplace-smoothed bucket unigram models:

        p[b] = (count[b] + 1) / (N + n_buckets)

    The per-doc importance log-weight is

        sum over grams g of log2( p_target[bucket(g)] / p_raw[...] )

    Selecting the top-weighted docs (downstream ORDER BY + LIMIT, or
    the md5-ordered deterministic samplers in corpus.py) is the DSIR
    resampling step; this operator produces the weights.

    Scale shape (100 TB): one explode + one (doc, bucket) keyed
    aggregate with map-side combine — the word-count shape. Both
    models are aggregates of that table with AT MOST ``n_buckets``
    rows, so the score join is an explicit broadcast; totals are a
    1-row broadcast. No vocabulary table, no driver state beyond the
    1-row totals, no second pass over text.

    Float-parity discipline: the per-bucket log term is rounded to 6
    decimals and accumulated as DECIMAL(38,6) times the count —
    exact, order-independent sums any SQL oracle reproduces (the
    unigram_logprob trick).

    ``target_filter``: boolean Column over ``df``'s rows marking the
    in-domain subset (e.g. ``F.col("lang") == "en"`` for an
    English-Wikipedia-like target). The target is a SUBSET of the
    corpus, so every target bucket also appears in the raw model.

    Documents yielding no features (empty text / all-empty tokens)
    have no likelihood-ratio evidence and are OMITTED from the
    output — downstream resampling can therefore never select them,
    which is the conservative choice for a training-data filter.
    """
    from .features import md5_bucket
    from .util import ensure_parallelism

    base = ensure_parallelism(df).select(
        F.col(id_col),
        target_filter.alias("_is_t"),
        words_col(F.col(text_col)).alias("_wa"),
    )
    wa = F.col("_wa")
    # ONE explode over unigrams ++ bigrams (array concat keeps the
    # multiset identical to the former union of two explode branches,
    # so the base subtree — which re-runs whatever upstream anti-joins
    # feed it — is consumed once, not twice).
    big_arr = F.when(
        F.size(wa) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(wa) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(wa, i), F.element_at(wa, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(
        id_col,
        "_is_t",
        F.explode(
            F.concat(F.filter(wa, lambda x: x != F.lit("")), big_arr)
        ).alias("g"),
    )
    # The (doc, bucket) table feeds BOTH the model build and the
    # scoring join; without the persist the gram explode + aggregate
    # (and every upstream stage) ran 3-4× per action — Catalyst does
    # not reuse the exchange across the differently-shaped consumers
    # (same audit result as dedup.near_duplicate_pairs' signature
    # table).
    doc_bucket = materialize(
        grams.groupBy(
            F.col(id_col),
            F.col("_is_t"),
            md5_bucket(F.col("g"), n_buckets).alias("b"),
        ).agg(F.count(F.lit(1)).alias("dc")),
        "quality.dsir_doc_bucket",
    )

    # Both bucket models in ONE pass (ct = target subset via a
    # conditional sum — integer-identical to the former filtered
    # aggregate + left join + coalesce), collected: ≤ n_buckets rows
    # of integer counts — bounded driver state, and the grand totals
    # derive from them exactly, saving the third pass the totals
    # aggregate paid.
    model_rows = (
        doc_bucket.groupBy("b")
        .agg(
            F.sum("dc").alias("cr"),
            F.sum(F.when(F.col("_is_t"), F.col("dc")).otherwise(0)).alias(
                "ct"
            ),
        )
        .collect()
    )
    nr = sum(int(r["cr"]) for r in model_rows)
    nt = sum(int(r["ct"]) for r in model_rows)
    spark = df.sparkSession
    model = spark.createDataFrame(
        [(int(r["b"]), int(r["ct"]), int(r["cr"])) for r in model_rows],
        "b long, ct long, cr long",
    )
    scored = doc_bucket.join(F.broadcast(model), "b")
    term = F.round(
        F.log2(
            (F.col("ct") + 1).cast("double")
            * F.lit(nr + n_buckets).cast("double")
            / (
                (F.col("cr") + 1).cast("double")
                * F.lit(nt + n_buckets).cast("double")
            )
        ),
        6,
    ).cast("decimal(38,6)")
    return scored.groupBy(id_col).agg(
        F.sum("dc").cast("bigint").alias("n_grams"),
        F.round(F.sum(term * F.col("dc")).cast("double"), 6).alias(
            "log2_ratio"
        ),
    )


# Correctly-rounded double for ln(2): spelled as a literal so the
# Spark expression and any SQL oracle use the IDENTICAL constant
# rather than two engines' runtime LN(2) evaluations.
_LN2 = 0.6931471805599453


def dsir_resample(
    df: DataFrame,
    target_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 100,
    n_buckets: int = 512,
    seed: str = "dsir-v1",
) -> DataFrame:
    """The DSIR RESAMPLING step (Xie et al. 2023 §3): draw ``k``
    documents without replacement with probability proportional to
    their importance weights, via the Gumbel top-k trick — per doc,

        key = ln(w) + Gumbel(0,1) = _LN2 * log2_ratio - ln(-ln(u))

    and the k largest keys are exactly a proportional-without-
    replacement sample (Efraimidis & Spirakis 2006 equivalence).

    RNG-free and engine-portable: u is the md5 of (seed, doc id)
    mapped into (0,1) — the repo-wide deterministic-sampling idiom
    (corpus.shuffle_seeded / train_holdout_split), so reruns,
    retries, and any SQL oracle produce the identical sample.

    Scale shape: the weight table is dsir_logratio's output (one
    gram shuffle + broadcast model); the top-k is orderBy+limit,
    which Spark executes as TakeOrderedAndProject — per-partition
    k-heaps, never a global sort."""
    w = dsir_logratio(
        df, target_filter, id_col, text_col, n_buckets=n_buckets
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(seed + ":"), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key = F.lit(_LN2) * F.col("log2_ratio") - F.log(-F.log(u))
    return (
        w.withColumn("gumbel_key", key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            "n_grams",
            "log2_ratio",
            F.round("gumbel_key", 6).alias("gumbel_key"),
        )
    )


def stupid_backoff_bits(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    alpha: float = 0.4,
) -> DataFrame:
    """Held-out bigram LM scoring with STUPID BACKOFF (Brants et al.
    EMNLP 2007 — the web-scale LM recipe: no discounting, a fixed
    backoff penalty, trivially distributable counts): score each doc
    of ``score`` under a model counted ONLY from ``train``:

        S(w2|w1) = C(w1w2)/C(w1·)        if the bigram was seen
                 = α · C(w2)/N           else if w2 was seen
                 = α · 1/N               else (OOV floor)

    Unlike ``bigram_logprob`` (MLE on the corpus itself — backoff
    can never fire), train/score are DISJOINT here, so unseen
    bigrams and OOV words genuinely occur and the backoff tiers are
    exercised. bits/bigram = mean −log2 S.

    Scale shape: model tables (bigrams, context marginals, unigrams)
    are keyed aggregates with map-side combine; scoring is three
    keyed LEFT joins (bigram, context, unigram) + one broadcast
    scalar N — web-corpus vocabularies stay shuffle joins, AQE
    broadcasts them when small. Per-gram bits round to 6 decimals
    into DECIMAL(38,6): exact order-independent sums any SQL oracle
    reproduces."""
    from .util import ensure_parallelism

    def doc_grams(df):
        w = words_col(F.col(text_col))
        return (
            ensure_parallelism(df)
            .select(
                F.col(id_col),
                F.explode(
                    F.when(
                        F.size(w) >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size(w) - 1),
                            lambda i: F.struct(
                                F.element_at(w, i).alias("w1"),
                                F.element_at(w, i + 1).alias("w2"),
                            ),
                        ),
                    ).otherwise(
                        F.array().cast(
                            "array<struct<w1:string,w2:string>>"
                        )
                    )
                ).alias("g"),
            )
            .select(id_col, "g.w1", "g.w2")
            .groupBy(id_col, "w1", "w2")
            .agg(F.count("*").alias("dc"))
        )

    t_grams = doc_grams(train)
    bigrams = t_grams.groupBy("w1", "w2").agg(
        F.sum("dc").alias("c12")
    )
    context = bigrams.groupBy("w1").agg(F.sum("c12").alias("c1"))
    unigram = (
        ensure_parallelism(train)
        .select(F.explode(words_col(F.col(text_col))).alias("w2"))
        .groupBy("w2")
        .agg(F.count("*").alias("cu"))
    )
    total = unigram.agg(F.sum("cu").alias("n_total"))

    s_grams = doc_grams(score)
    scored = (
        s_grams.join(bigrams, ["w1", "w2"], "left")
        .join(context, "w1", "left")
        .join(unigram, "w2", "left")
        .crossJoin(F.broadcast(total))
    )
    prob = (
        F.when(
            F.col("c12").isNotNull(),
            F.col("c12").cast("double") / F.col("c1").cast("double"),
        )
        .when(
            F.col("cu").isNotNull(),
            F.lit(alpha)
            * F.col("cu").cast("double")
            / F.col("n_total").cast("double"),
        )
        .otherwise(F.lit(alpha) / F.col("n_total").cast("double"))
    )
    bits = F.round(-F.log2(prob), 6).cast("decimal(38,6)")
    return scored.groupBy(id_col).agg(
        F.sum("dc").cast("bigint").alias("n_bigrams"),
        F.sum(
            F.when(F.col("c12").isNull(), F.col("dc")).otherwise(0)
        ).cast("bigint").alias("n_backoff"),
        pround(
            F.sum(bits * F.col("dc")).cast("double")
            / F.sum("dc").cast("double")
        ).alias("bits_per_bigram"),
    )


def ccnet_perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet's signature head/middle/tail split (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data" §4.4): per LANGUAGE, rank documents by LM perplexity
    and cut into terciles — head (lowest perplexity = most fluent)
    feeds the highest-quality corpus tier, tail is dropped or
    down-weighted. The LM signal here is ``unigram_logprob``'s
    bits/token (CCNet uses a fixed KenLM; the corpus-own unigram
    model is this repo's deterministic, oracle-reproducible
    stand-in).

    Bucketing is ``ntile(3)`` over (bits, id) per language — EXACT
    tercile counts and a total tie order, so the assignment is
    engine-reproducible (threshold-free: no float boundary
    comparisons to drift between engines). Scale note: ntile per
    language is one shuffle keyed by language with a per-language
    sort — fine up to ~10⁹ docs/language; past that, production
    CCNet assigns by percentile THRESHOLDS fitted on a sample
    (map-side comparison, no sort), trading exact tercile counts
    for a boundary approximation. The labeled query keeps the exact
    form because its contract is count-exact buckets.
    """
    from pyspark.sql import Window

    scored = unigram_logprob(df, id_col, text_col)
    with_lang = scored.join(
        df.select(id_col, lang_col), id_col
    )
    w = Window.partitionBy(lang_col).orderBy(
        F.col("bits_per_token"), F.col(id_col)
    )
    tile = F.ntile(3).over(w)
    return with_lang.select(
        F.col(id_col),
        F.col(lang_col),
        F.col("n_tokens"),
        F.col("bits_per_token"),
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), tile
        ).alias("bucket"),
    )


def kneser_ney_bits(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    discount: float = 0.75,
) -> DataFrame:
    """Held-out bigram LM scoring with interpolated KNESER-NEY
    smoothing (Kneser & Ney 1995; the interpolated form of Chen &
    Goodman 1998) — the quality tier ABOVE stupid_backoff: absolute
    discounting plus a continuation-probability backoff that asks
    "in how many contexts does w2 appear?" rather than "how often?":

        P(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
                   + D · N1+(w1·)/c(w1·) · Pcont(w2)     (w1 seen)
                 = Pcont(w2)                             (w1 unseen)
        Pcont(w2) = (N1+(·w2) + 0.5) / (T + 0.5·(V+1))

    with D = ``discount``, N1+(w1·) = distinct continuations of w1,
    N1+(·w2) = distinct left contexts of w2, T = total bigram types,
    V = train vocabulary size. The +0.5 continuation smoothing keeps
    OOV words finite (documented deviation from the textbook form,
    which leaves Pcont undefined for unseen w2) and is applied
    IDENTICALLY in the SQL oracle.

    Scale shape: model tables (bigram counts, context marginals with
    continuation fan-outs, left-context counts) are keyed aggregates;
    scoring is three keyed LEFT joins + ONE broadcast scalar row
    carrying (T, V). All probabilities are closed-form expressions of
    integer counts — bit-identical across engines — and per-gram bits
    round to 6 into DECIMAL(38,6) before the pround mean."""
    from .util import ensure_parallelism

    def doc_grams(df):
        w = words_col(F.col(text_col))
        return (
            ensure_parallelism(df)
            .select(
                F.col(id_col),
                F.explode(
                    F.when(
                        F.size(w) >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size(w) - 1),
                            lambda i: F.struct(
                                F.element_at(w, i).alias("w1"),
                                F.element_at(w, i + 1).alias("w2"),
                            ),
                        ),
                    ).otherwise(
                        F.array().cast(
                            "array<struct<w1:string,w2:string>>"
                        )
                    )
                ).alias("g"),
            )
            .select(id_col, "g.w1", "g.w2")
            .groupBy(id_col, "w1", "w2")
            .agg(F.count("*").alias("dc"))
        )

    # the bigram model table feeds context marginals, continuation
    # counts, the type total AND the scoring join — persist it
    # (vocab²-bounded, KBs-MBs) or the train-corpus subtree replays
    # four times
    bigrams = materialize(
        doc_grams(train).groupBy("w1", "w2").agg(F.sum("dc").alias("c12")),
        "quality.kn_bigrams",
    )
    context = bigrams.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("nf")
    )
    cont = bigrams.groupBy("w2").agg(F.count("*").alias("tc"))
    totals = bigrams.agg(
        F.count("*").alias("t_types")
    ).crossJoin(
        ensure_parallelism(train)
        .select(F.explode(words_col(F.col(text_col))).alias("w"))
        .agg(F.countDistinct("w").alias("v_size"))
    )

    scored = (
        doc_grams(score)
        .join(bigrams, ["w1", "w2"], "left")
        .join(context, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(totals))
    )
    d = F.lit(discount)
    pc = (
        F.coalesce(F.col("tc"), F.lit(0)).cast("double") + F.lit(0.5)
    ) / (
        F.col("t_types").cast("double")
        + F.lit(0.5) * (F.col("v_size").cast("double") + F.lit(1.0))
    )
    seen = (
        F.greatest(
            F.coalesce(F.col("c12"), F.lit(0)).cast("double") - d,
            F.lit(0.0),
        )
        / F.col("c1").cast("double")
        + d
        * F.col("nf").cast("double")
        / F.col("c1").cast("double")
        * pc
    )
    prob = F.when(F.col("c1").isNotNull(), seen).otherwise(pc)
    bits = F.round(-F.log2(prob), 6).cast("decimal(38,6)")
    return scored.groupBy(id_col).agg(
        F.sum("dc").cast("bigint").alias("n_bigrams"),
        F.sum(
            F.when(F.col("c12").isNull(), F.col("dc")).otherwise(0)
        ).cast("bigint").alias("n_unseen"),
        pround(
            F.sum(bits * F.col("dc")).cast("double")
            / F.sum("dc").cast("double")
        ).alias("bits_per_bigram"),
    )
