"""Plan-shape gates (SURVEY §4 'net: Catalyst built-ins do the
optimizing — we assert they actually fired'): predicate pushdown,
column pruning, broadcast joins, codegen."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdp2_5_hive_spark.plans import audit
from hdp2_5_hive_spark.queries import all_queries


@pytest.fixture(scope="module")
def qs():
    return all_queries()


def test_q1_filter_pushed_and_pruned(spark, sf_dir, qs):
    """TPC-H Q1: shipdate predicate reaches the parquet scan; scan
    reads only the 7 referenced columns of 16."""
    df = qs["q1_pricing_summary"].fn(spark, sf_dir)
    facts = audit.analyze(df)
    assert any("l_shipdate" in f for f in facts.pushed_filters), facts.text
    assert facts.read_schemas and all(
        "l_comment" not in rs for rs in facts.read_schemas
    ), facts.read_schemas
    # Codegen only materializes in the finalized (post-AQE) plan of
    # THIS DataFrame — collect() finalizes it (a noop-sink write
    # would execute a copy).
    df.collect()
    plan = audit.executed_plan(df)
    # '*(n)' prefixes mark whole-stage-codegen spans in simpleString.
    assert "*(1)" in plan or "WholeStageCodegen" in plan, plan


def test_q3_broadcasts_dimensions(spark, sf_dir, qs):
    """Q3 customer (filtered dim) should broadcast, not shuffle-join."""
    df = qs["q3_shipping_priority"].fn(spark, sf_dir)
    audit.assert_broadcast(df, at_least=1)


def test_q5_multiway_join_broadcasts_small_dims(spark, sf_dir, qs):
    df = qs["q5_local_supplier"].fn(spark, sf_dir)
    facts = audit.analyze(df)
    # region (5 rows) and nation (25) must never be the big side of a
    # shuffle join.
    assert facts.n_broadcast_joins >= 2, facts.text


def test_scan_column_pruning_projection(spark, sf_dir):
    """A 2-column projection reads a 2-column schema."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select("l_orderkey", "l_quantity")
    facts = audit.analyze(df)
    assert facts.scans_read_only("l_orderkey", "l_quantity"), facts.read_schemas


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """Partition-column predicate prunes directories at plan time
    (PartitionPruner.java analogue — Spark PruneFileSourcePartitions)."""
    src = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(30)], "id int, p int, v string"
    )
    path = str(tmp_path / "pt")
    src.write.partitionBy("p").parquet(path)
    df = spark.read.parquet(path).filter(F.col("p") == 1).select("id", "v")
    # Partition filters appear as PartitionFilters in the scan node.
    text = audit.formatted_plan(df)
    assert "PartitionFilters" in text and "p#" in text
    assert df.count() == 10


def test_orderby_limit_is_top_k(spark, sf_dir, qs):
    """ORDER BY + LIMIT plans as TakeOrderedAndProject (TopNHash.java
    analogue), not a full sort."""
    df = qs["orderby_limit"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in audit.formatted_plan(df)


def test_semi_join_strategy(spark, sf_dir, qs):
    """IN-subquery compiles to a semi join (QBSubQuery.java rewrite)."""
    df = qs["subq_in"].fn(spark, sf_dir)
    text = audit.formatted_plan(df)
    assert "LeftSemi" in text, text


def test_q21_semi_and_anti_join(spark, sf_dir, qs):
    """EXISTS → LeftSemi, NOT EXISTS → LeftAnti in one plan
    (QBSubQuery.java rewrite pair)."""
    text = audit.formatted_plan(qs["q21_waiting_supplier"].fn(spark, sf_dir))
    assert "LeftSemi" in text, text
    assert "LeftAnti" in text, text


def test_q17_broadcasts_only_narrowed_average(spark, sf_dir, qs):
    """The decorrelated per-part average must broadcast (it is
    narrowed to qualifying parts first — broadcasting an all-parts
    aggregate would OOM at sf100)."""
    df = qs["q17_small_quantity_revenue"].fn(spark, sf_dir)
    audit.assert_broadcast(df, at_least=2)  # parts + narrowed pa


def test_q13_plans_left_outer(spark, sf_dir, qs):
    text = audit.formatted_plan(qs["q13_customer_distribution"].fn(spark, sf_dir))
    assert "LeftOuter" in text, text


def _exchange_nodes(text: str) -> set[str]:
    """Distinct numbered Exchange nodes in a formatted plan (the tree
    and detail sections both print '(N) Exchange' — dedup by N)."""
    import re as _re

    return set(_re.findall(r"\((\d+)\) Exchange", text))


def test_line_dedup_exactly_two_exchanges(spark, sf_dir):
    """Corpus-global line dedup must shuffle exactly twice — once on
    the chunk hash (first-occurrence window), once on doc_id (doc
    rebuild). A third exchange would mean a plan regression that
    multiplies at 100 TB."""
    from hdp2_5_hive_spark.operators.corpus import line_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    facts = audit.analyze(line_dedup(docs, "doc_id", "text"))
    assert len(_exchange_nodes(facts.text)) == 2, facts.text
    assert "CartesianProduct" not in facts.text


def test_redact_pii_map_only(spark, sf_dir):
    """PII redaction is pure per-row regexp — any Exchange in this
    plan is a bug."""
    from hdp2_5_hive_spark.operators.corpus import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    facts = audit.analyze(redact_pii(docs, "doc_id", "text"))
    assert len(_exchange_nodes(facts.text)) == 0, facts.text
    assert "[codegen id" in facts.text, facts.text  # JVM regexp, no UDF


def test_audio_spectrogram_map_only(spark, sf_dir):
    """Synthesize → decode → FFT is mapInPandas end-to-end: no
    shuffle anywhere in the media path."""
    from hdp2_5_hive_spark.operators import multimodal as mm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = mm.synthesize_wav_media(
        docs.filter(docs.doc_id < 50), "doc_id"
    )
    facts = audit.analyze(mm.extract_audio_spectrogram(media))
    assert len(_exchange_nodes(facts.text)) == 0, facts.text


def test_stratified_sample_pushes_rank_below_shuffle(spark, sf_dir, qs):
    """sample_stratified: the per-stratum top-10 heap must run
    map-side (WindowGroupLimit below the exchange), so the shuffle
    carries <=10 rows per stratum per input partition."""
    df = qs["sample_stratified"].fn(spark, sf_dir)
    plan = audit.executed_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_jaccard_prefix_join_never_cartesian(spark, sf_dir, qs):
    """dedup_jaccard_prefix: candidate generation is a keyed join on
    prefix tokens — a cartesian/broadcast-nested-loop anywhere means
    the pruning silently degenerated to all-pairs."""
    df = qs["dedup_jaccard_prefix"].fn(spark, sf_dir)
    plan = audit.executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def _plan_nodes(node):
    yield node
    it = node.children().iterator()
    while it.hasNext():
        yield from _plan_nodes(it.next())


def test_embedding_cosine_join_is_split_and_folds_no_norm(spark, sf_dir, qs):
    """dedup_embedding_cosine's all-pairs nested-loop join: the
    streamed side sits under a shuffle (the 500-row slice is one
    split, and unsplit it runs the whole quadratic in one task), and
    the join condition folds only the pair's dot product — norms are
    per-vector columns (``transform`` appears only in ``norm_col``)."""
    df = qs["dedup_embedding_cosine"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan()
    if "AdaptiveSparkPlan" in plan.getClass().getSimpleName():
        plan = plan.inputPlan()
    joins = [
        n
        for n in _plan_nodes(plan)
        if n.getClass().getSimpleName() == "BroadcastNestedLoopJoinExec"
    ]
    assert len(joins) == 1, plan.toString()
    join = joins[0]
    cond = join.condition().get().toString()
    assert "zip_with(" in cond and "transform(" not in cond, cond
    if spark.sparkContext.defaultParallelism > 1:
        build_right = join.buildSide().toString() == "BuildRight"
        streamed = join.left() if build_right else join.right()
        assert any(
            n.getClass().getSimpleName() == "ShuffleExchangeExec"
            for n in _plan_nodes(streamed)
        ), plan.toString()


def test_span_dup_stats_three_exchanges_no_strings(spark, sf_dir):
    """Duplicated-span coverage shuffles exactly three times — gram
    hash groupBy (dup set), gram hash join (flagging), doc window +
    final doc join share the doc-keyed exchange(s) — and the shuffled
    gram key is the 8-byte xxhash64, never the gram string. A fourth
    gram-keyed Exchange or a shuffled string gram multiplies at
    100 TB."""
    from hdp2_5_hive_spark.operators.corpus import span_dup_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    facts = audit.analyze(span_dup_stats(docs, "doc_id", "text", k=16))
    n_ex = len(_exchange_nodes(facts.text))
    assert n_ex <= 4, f"{n_ex} exchanges:\n{facts.text}"
    assert "CartesianProduct" not in facts.text
    # the join key is the hash column, projected before the exchange
    assert "xxhash64" in facts.text


def test_shuffle_seeded_no_global_sort(spark, sf_dir):
    """Seeded shuffle must never plan a global (single-partition)
    Sort: positions come from per-shard windows, so the only
    exchange is hashpartitioning on the shard key — rangepartitioning
    (a global sort) would serialize the whole corpus through one
    task's sampler at 100 TB."""
    from hdp2_5_hive_spark.operators.corpus import shuffle_seeded

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    facts = audit.analyze(shuffle_seeded(docs, "doc_id", n_shards=8))
    assert "rangepartitioning" not in facts.text.lower(), facts.text
    assert "hashpartitioning(shard" in facts.text, facts.text


def test_phash_near_pairs_bucket_join_not_cartesian(spark, sf_dir):
    """pHash pair search must plan a hash-equality join on
    (band, bucket) — never BroadcastNestedLoop/Cartesian. The banded
    join IS the reason this scales; an all-pairs fallback at 100 TB
    of images is the classic quadratic blowup."""
    import pandas as pd

    from hdp2_5_hive_spark.operators import multimodal as mm
    from hdp2_5_hive_spark.operators import phash as ph

    import numpy as np

    rows = []
    for i in range(12):
        rng = np.random.RandomState(i)
        px = rng.randint(0, 256, (8, 8, 3)).astype(np.uint8)
        rows.append(
            {"media_id": f"m{i}", "payload": mm.encode_ppm(8, 8, px.reshape(-1))}
        )
    media = spark.createDataFrame(pd.DataFrame(rows))
    pairs = ph.phash_near_pairs(ph.phash_table(media))
    facts = audit.analyze(pairs)
    assert "CartesianProduct" not in facts.text, facts.text
    assert "BroadcastNestedLoopJoin" not in facts.text, facts.text


def test_pca_project_and_kmeans_assign_map_only(spark, sf_dir):
    """PCA projection and k-means assignment are broadcast matmuls
    inside mapInPandas — an Exchange in either plan means the
    operator stopped being map-only."""
    import numpy as np

    from hdp2_5_hive_spark.operators import embeddings as emb

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mean = np.zeros(64)
    comps = np.eye(8, 64)
    facts = audit.analyze(emb.pca_project(vecs, mean, comps))
    assert len(_exchange_nodes(facts.text)) == 0, facts.text
    cent = np.zeros((4, 64))
    facts2 = audit.analyze(emb.kmeans_assign(vecs, cent))
    assert len(_exchange_nodes(facts2.text)) == 0, facts2.text


def test_keep_best_uses_window_group_limit(spark, sf_dir, qs):
    """dedup_cluster_keep_best's per-cluster argmax must plan as
    WindowGroupLimit (rank pushed below the shuffle — each map task
    keeps only its local top-1 per cluster before data moves), not a
    full window sort over every row."""
    df = qs["dedup_cluster_keep_best"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan


def test_windowed_rate_single_shuffle_partial_agg(spark, sf_dir, qs):
    """events_windowed_rate: the 3-fold window explode feeds ONE
    hash aggregate pair (partial above the explode, final after one
    exchange) — the map-side combine shape that holds at 100 TB."""
    import re

    df = qs["events_windowed_rate"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "HashAggregate" in plan, plan


def test_rcfile_read_is_map_only(spark, sf_dir, qs):
    """RCFile decode (file-list parallelize + mapInPandas + casts)
    adds no shuffle: one round-robin exchange distributes the file
    list; decode and type projection pipeline map-only after it."""
    df = qs["fmt_rcfile_round_trip"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    # the only exchange is the file-list repartition (RoundRobin)
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "RoundRobinPartitioning" for e in exchanges), plan


def test_bitmap_index_two_level_partial_agg(spark, sf_dir, qs):
    """agg_bitmap_index: three aggregation levels (bucket bitmaps
    -> OR-merge -> sum), each partial-aggregated before its exchange
    — so only the FIRST exchange moves row-scaled data (bitmap
    partials); levels 2-3 shuffle at the bounded cardinality
    |returnflag| x |linestatus| x buckets. No join, no expand, scan
    pruned to the three referenced columns."""
    import re

    df = qs["agg_bitmap_index"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "Join" not in plan and "Expand" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3, plan
    # every exchange is fed by a partial HashAggregate (map-side combine)
    assert plan.count("partial_") >= 3, plan
    facts = audit.analyze(df)
    assert facts.scans_read_only(
        "l_returnflag", "l_linestatus", "l_suppkey", "l_quantity"
    ), facts.read_schemas


def test_logreg_predict_map_only_and_featurize_one_shuffle(spark, sf_dir):
    """logreg: featurization is exactly TWO exchanges — (id, bucket)
    partial counts (map-side combined before moving), then the
    per-doc pivot on id; scoring is map-only — the pandas-UDF
    projection adds no exchange, so the filter it feeds pipelines
    with the featurized table at any scale."""
    import re

    import numpy as np

    from hdp2_5_hive_spark.operators import logreg

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = logreg.dense_hash_features(docs, "doc_id", "text", dim=16)
    plan = audit.formatted_plan(feats)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan

    scored = logreg.predict(feats, np.zeros(16), 0.0)
    plan2 = audit.formatted_plan(scored.filter(F.col("score") > 0.5))
    # no exchange beyond the featurization's own two
    assert len(re.findall(r"\(\d+\) Exchange", plan2)) == 2, plan2


def test_range_join_banded_never_nested_loop(spark, sf_dir, qs):
    """join_range_banded: the band equi-join must plan as a hash/SMJ
    join — never BroadcastNestedLoopJoin or CartesianProduct, the
    plans Spark falls back to for pure-inequality joins."""
    df = qs["join_range_banded"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "BroadcastNestedLoop" not in plan, plan
    assert "Cartesian" not in plan, plan
    assert "Join" in plan, plan


def test_range_join_banded_matches_naive(spark, sf_dir):
    """Band + exact recheck must equal the naive inequality join."""
    from pyspark.sql import functions as F

    from hdp2_5_hive_spark.catalog import load_table
    from hdp2_5_hive_spark.operators.rangejoin import banded_range_join

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = orders.filter("o_orderkey <= 200").select(
        "o_orderkey",
        F.col("o_orderdate").cast("timestamp").alias("lo"),
        (F.col("o_orderdate") + ((F.col("o_orderkey") % 11)
         * F.expr("INTERVAL 1 DAY"))).cast("timestamp").alias("hi"),
    )
    pts = li.filter("l_orderkey <= 500").select(
        F.col("l_shipdate").cast("timestamp").alias("p")
    )
    banded = banded_range_join(pts, iv, "p", "lo", "hi", band_seconds=86400 * 7)
    naive = pts.crossJoin(iv).filter(
        F.col("p").between(F.col("lo"), F.col("hi"))
    )
    a = sorted(tuple(r) for r in banded.select("o_orderkey", "p").collect())
    b = sorted(tuple(r) for r in naive.select("o_orderkey", "p").collect())
    assert a == b and a

    # how='left' (regression): unmatched points must survive
    # null-extended — the exact predicate lives in the join
    # condition, so it can't drop them post-join — and matched rows
    # must equal the inner result exactly.
    left = banded_range_join(
        pts, iv, "p", "lo", "hi", band_seconds=86400 * 7, how="left"
    )
    lm = sorted(
        tuple(r)
        for r in left.filter(F.col("o_orderkey").isNotNull())
        .select("o_orderkey", "p")
        .collect()
    )
    assert lm == a
    n_unmatched = left.filter(F.col("o_orderkey").isNull()).count()
    assert n_unmatched == pts.count() - pts.join(
        naive.select("p").distinct(), "p", "left_semi"
    ).count()
    assert n_unmatched > 0  # the fixture really exercises the branch
    # and the left form still plans as an equi-join, never a loop
    lplan = left._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in lplan, lplan
    assert "Cartesian" not in lplan, lplan


def test_dsir_model_broadcasts_and_topk_never_global_sorts(spark, sf_dir, qs):
    """DSIR (quality.dsir_logratio/dsir_resample) scale gates: the
    ≤n_buckets-row model and 1-row totals join the (doc,bucket)
    table as BROADCASTS — document grams shuffle exactly once for
    the keyed aggregate, never for the scoring join — and the
    resampling top-k plans as TakeOrderedAndProject (per-partition
    heaps), not Exchange+Sort over every weight."""
    w = qs["quality_dsir_weights"].fn(spark, sf_dir)
    audit.assert_broadcast(w, at_least=2)
    r = qs["corpus_dsir_resample"].fn(spark, sf_dir)
    plan = audit.formatted_plan(r)
    assert "TakeOrderedAndProject" in plan, plan


def test_parquet_aggregate_pushdown_metadata_only(spark, sf_dir):
    """MIN/MAX/COUNT with spark.sql.parquet.aggregatePushdown push
    into the DSv2 parquet scan (PushedAggregation) and answer from
    footer statistics — at 100 TB these become metadata reads, not
    table scans. Confs are restored so the rest of the suite keeps
    the v1 path it was validated on."""
    saved_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        agg = li.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("mn"),
            F.max("l_quantity").alias("mx"),
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation" in plan, plan
        got = agg.collect()[0]
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", saved_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
    ref = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("mn"),
            F.max("l_quantity").alias("mx"),
        )
        .collect()[0]
    )
    assert (got.n, got.mn, got.mx) == (ref.n, ref.mn, ref.mx)


# Registry-wide nested-loop whitelist. Every entry is one of:
#   baseline — labeled all-pairs correctness baseline (a bucketed
#              production path exists beside it);
#   scalar   — crossJoin of a 1-row (or driver-bounded) broadcast
#              aggregate: the standard scalar-broadcast idiom, the
#              "nested loop" side holds one row;
#   cross    — a cartesian product IS the query's semantics.
NESTED_LOOP_OK = {
    "join_cross": "cross",
    "ann_cosine_topk": "baseline",
    "dedup_embedding_cosine": "baseline",
    "dedup_ngram_jaccard": "baseline",
    # ann_ivf_topk's IVF path itself joins equi on cell id; its plan's
    # BNLJ nodes are the embedded brute-force cosine_topk RECALL
    # baseline it compares against, plus the 1-row totals crossJoin.
    "ann_ivf_topk": "baseline",
    "retrieval_bm25": "scalar",
    "quality_unigram_bits": "scalar",
    "quality_dsir_weights": "scalar",
    "corpus_dsir_resample": "scalar",
    "corpus_clean_v4": "scalar",
    "corpus_mix_temperature": "scalar",
    "vocab_pmi_collocations": "scalar",
    "sample_percent": "scalar",
    "q11_important_stock": "scalar",
    # 1-row sketch/exact-count aggregates crossJoined for the
    # single-row comparison report
    "agg_hll_set_ops": "scalar",
    # 1-row grand-total (ng) crossJoin; the dense source-x-vocab
    # cross join was eliminated in favor of the closed-form
    # zero-count contribution (see corpus_token_drift docstring)
    "corpus_token_drift": "scalar",
    # 1-row corpus-doc-count broadcast carrying the DF threshold
    "corpus_boilerplate_filter": "scalar",
    # v6 composes boilerplate_filter: same 1-row threshold broadcast
    "corpus_clean_v6": "scalar",
    # 1-row normalizing-total broadcast in the epoch planner
    "corpus_epoch_plan": "scalar",
    # v7 composes ccnet buckets: same unigram 1-row totals broadcast
    "corpus_clean_v7": "scalar",
    # 1-row N-total broadcast in the backoff probability
    "quality_stupid_backoff": "scalar",
    # bm25's 1-row (n_docs, avgdl) stats broadcast inside the fused plan
    "retrieval_rrf_hybrid": "scalar",
    # unigram_logprob's 1-row corpus-total broadcast under the tercile
    # window (same node as quality_unigram_bits)
    "quality_ccnet_buckets": "scalar",
    # 1-row stream-total (N) broadcast carrying the MG threshold
    "agg_misra_gries_heavy": "scalar",
    # 1-row corpus doc-count broadcast inside the smoothed IDF
    "text_tfidf_topk": "scalar",
    # 1-row (T, V) totals broadcast in the KN continuation probability
    "quality_kneser_ney": "scalar",
    # 10-row checkpoint table + 1-row fit broadcast in the Heaps fit
    "vocab_heaps_fit": "scalar",
    # v8 composes KN (T,V totals) + tfidf (doc-count) scalar broadcasts
    "corpus_clean_v8": "scalar",
    # bm25 1-row (n_docs, avgdl) stats broadcasts, twice (both passes)
    "retrieval_rm3_expansion": "scalar",
    # 1-row node/edge/triangle aggregate crossJoins in the census
    # report row; the wedge/closing stages are equi-joins
    "graph_triangle_count": "scalar",
    # 1-row totals x 1-row top10 crossJoin in the skew report row
    "events_key_skew_audit": "scalar",
    # 1-row min/max broadcast feeding the equi-width floor
    "feature_discretize_bins": "scalar",
    # 1-row p01/p99 threshold broadcast feeding the clip pass
    "feature_winsorize": "scalar",
    # 1-row grand-total broadcast into the 9-digit expectation table
    "audit_benford_first_digit": "scalar",
    # 1-row pooled-count broadcast feeding the quantile index math
    "feature_quantile_normalize": "scalar",
    # bm25's 1-row (n_docs, avgdl) stats broadcast inside the eval
    "retrieval_bm25_eval": "scalar",
    # 1-row pooled-theta broadcast into the 2-row arm rollup
    "events_ab_cuped": "scalar",
    # 1-row total + 1-row chi2 broadcasts into the 2-row arm table
    "events_ab_srm": "scalar",
    # dimension-sized hub table broadcast fan-out (25 rows) + map-side
    # argmin; the grid-bucketed equi-join is the too-big-to-broadcast
    # path (see geo_nearest_hub docstring)
    "geo_nearest_hub": "cross",
    # 1-row basket-count broadcast carrying the RELATIVE min-support
    # threshold (sup >= ceil(n * 0.002)); the pair explode itself is
    # bounded by order size and the rule join is equi on antecedent
    "mining_association_rules": "scalar",
    "mining_item_neighbors": "scalar",
    # 1-row corpus-total broadcast feeding the entropy/Simpson terms
    "corpus_source_diversity": "scalar",
}

# Iterative/trainer queries run driver-bounded jobs at CONSTRUCTION
# time (k-means rounds, BPE merges, LR epochs); each already has its
# own map-only/plan gate above and in its operator tests. Excluded
# here to keep the sweep a plan-only pass.
SWEEP_SKIP = {
    "vocab_bpe_merges",
    "vocab_bpe_apply",
    "vocab_wordpiece_merges",
    "vocab_wordpiece_apply",
    "vocab_unigram_lm",
    "vocab_unigram_apply",
    "quality_learned_classifier",
    "ann_pq_recall",
    "emb_pca_project",
    "emb_kmeans_clusters",
    "emb_cluster_balanced_sample",
    "dedup_components_star",
    "dedup_components",
    "dedup_keep_list",
    "dedup_semantic_clusters",
    "graph_kcore_membership",
    "er_em_parameters",
    "quality_classifier_calibration",
    "topic_model_mixture",
    "vocab_tokenizer_compare",
    # plans OTHER registry queries (already swept individually by name)
    "meta_plan_shuffle_census",
}

# Verdict r11 watch #3: SWEEP_SKIP is the one place a future trainer
# could silently dodge the registry-wide nested-loop invariant. Every
# skip entry must therefore name its DEDICATED gate — the test
# (file, function) that pins its scale discipline (plan shape,
# bounded rounds, or partition invariance). Adding a SWEEP_SKIP name
# without a gate mapping, or mapping to a test that doesn't exist,
# fails test_sweep_skip_names_have_dedicated_gates.
SWEEP_SKIP_GATES: dict[str, tuple[str, str]] = {
    "vocab_bpe_merges": (
        "test_plan_audit.py", "test_tokenizer_round_counts_partial_agg"
    ),
    "vocab_bpe_apply": (
        "test_plan_audit.py", "test_tokenizer_apply_map_only"
    ),
    "vocab_wordpiece_merges": (
        "test_plan_audit.py", "test_tokenizer_round_counts_partial_agg"
    ),
    "vocab_wordpiece_apply": (
        "test_plan_audit.py", "test_tokenizer_apply_map_only"
    ),
    "vocab_unigram_lm": (
        "test_unigram_lm.py", "test_unigram_estep_partition_invariant"
    ),
    "vocab_unigram_apply": (
        "test_plan_audit.py", "test_tokenizer_apply_map_only"
    ),
    # compare's hot path IS the three map-only applies; its own agg
    # tail is vocab-bounded
    "vocab_tokenizer_compare": (
        "test_plan_audit.py", "test_tokenizer_apply_map_only"
    ),
    "quality_learned_classifier": (
        "test_plan_audit.py",
        "test_logreg_predict_map_only_and_featurize_one_shuffle",
    ),
    "ann_pq_recall": (
        "test_embeddings_pca.py",
        "test_pq_codes_partition_invariant_and_recall",
    ),
    "emb_pca_project": (
        "test_plan_audit.py", "test_pca_project_and_kmeans_assign_map_only"
    ),
    "emb_kmeans_clusters": (
        "test_plan_audit.py", "test_pca_project_and_kmeans_assign_map_only"
    ),
    "emb_cluster_balanced_sample": (
        "test_embeddings_pca.py",
        "test_cluster_balanced_sample_quota_and_determinism",
    ),
    "dedup_components_star": (
        "test_components.py",
        "test_star_converges_on_long_chain_where_hashmin_cannot",
    ),
    "dedup_components": (
        "test_components.py", "test_convergence_guard_raises"
    ),
    "dedup_keep_list": (
        "test_components.py", "test_keep_list_marks_min_per_cluster"
    ),
    "dedup_semantic_clusters": (
        "test_pipeline.py", "test_semantic_dedup_finds_planted_duplicates"
    ),
    "graph_kcore_membership": (
        "test_pipeline6.py", "test_kcore_matches_reference_on_corpus_graph"
    ),
    "er_em_parameters": (
        "test_pipeline6.py",
        "test_em_fit_matches_sequential_reference_and_recovers",
    ),
    "quality_classifier_calibration": (
        "test_pipeline6.py",
        "test_calibration_bins_account_for_all_holdout_docs",
    ),
    "topic_model_mixture": ("test_topics.py", "test_partition_invariance"),
    "meta_plan_shuffle_census": (
        "test_plan_audit.py", "test_shuffle_census_pinned"
    ),
}


def test_sweep_skip_names_have_dedicated_gates():
    """Structural closure of the SWEEP_SKIP loophole: every skipped
    name maps to a gate test that actually exists (the mapped file
    defines the mapped function), and the gate registry carries no
    dead entries."""
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    missing = sorted(SWEEP_SKIP - set(SWEEP_SKIP_GATES))
    assert not missing, (
        f"SWEEP_SKIP entries without a dedicated gate: {missing} — "
        "add a plan/scale gate test and register it in "
        "SWEEP_SKIP_GATES before skipping the query from the "
        "registry-wide nested-loop sweep"
    )
    dead = sorted(set(SWEEP_SKIP_GATES) - SWEEP_SKIP)
    assert not dead, f"SWEEP_SKIP_GATES entries not in SWEEP_SKIP: {dead}"
    for name, (fname, test_fn) in sorted(SWEEP_SKIP_GATES.items()):
        path = os.path.join(here, fname)
        assert os.path.isfile(path), f"{name}: gate file {fname} missing"
        src = open(path, encoding="utf-8").read()
        assert f"def {test_fn}(" in src, (
            f"{name}: gate test {fname}::{test_fn} not found"
        )


def test_tokenizer_apply_map_only(spark, sf_dir):
    """The three tokenizer APPLY operators ship their learned
    vocab/merge table inside the Arrow kernel's closure (broadcast in
    cluster terms) — the corpus pass itself must be map-only. An
    Exchange in any of these plans means tokenizing 100 TB would
    shuffle 100 TB."""
    from hdp2_5_hive_spark.operators import bpe, unigram_lm, wordpiece

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    applied = [
        bpe.apply_bpe(docs, [(0, "t", "h", 5)]),
        wordpiece.apply_wordpiece(docs, ["t", "h", "##e"]),
        unigram_lm.apply_unigram_lm(docs, [("th", 3, -1.0), ("e", 2, -2.0)]),
    ]
    for df in applied:
        facts = audit.analyze(df)
        assert len(_exchange_nodes(facts.text)) == 0, facts.text


def test_tokenizer_round_counts_partial_agg(spark, sf_dir):
    """BPE/WordPiece trainers run ONE counting job per merge round
    over the (localCheckpoint-ed) word table. The only viable shape
    at scale is partial map-side aggregation into a bounded number of
    shuffles: BPE pair counts = 2 exchanges end-to-end from the raw
    corpus (word groupBy + pair groupBy); WordPiece adds the unigram
    symbol table (3rd exchange) whose joins onto the pair table MUST
    broadcast — a sort-merge join there would re-shuffle the
    vocabulary-bounded tables every round."""
    from hdp2_5_hive_spark.operators import bpe, wordpiece

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # mirror the trainers: the word table is localCheckpoint-ed once,
    # so the per-round job starts from materialized partitions
    words = bpe.word_freq_table(docs).localCheckpoint(eager=True)
    facts = audit.analyze(bpe._pair_counts(words))
    assert len(_exchange_nodes(facts.text)) == 1, facts.text
    assert "HashAggregate" in facts.text, facts.text

    wp_words = wordpiece.wp_word_table(docs).localCheckpoint(eager=True)
    facts2 = audit.analyze(wordpiece._pair_and_sym_counts(wp_words))
    # pair groupBy + the symbol-table groupBy per broadcast branch
    # (renamed projections defeat ReuseExchange — bounded, documented)
    assert len(_exchange_nodes(facts2.text)) <= 3, facts2.text
    assert "BroadcastHashJoin" in facts2.text, facts2.text
    assert "SortMergeJoin" not in facts2.text, facts2.text


# Row-at-a-time Python UDFs (BatchEvalPython nodes) are the documented
# slow path — allowed ONLY in the legacy-surface demo. Everything else
# must stay JVM-side or Arrow-vectorized (ArrowEvalPython/mapInPandas).
# Same contract as NESTED_LOOP_OK: every entry carries a non-empty
# justification string (enforced below) so the whitelist cannot be
# silently widened by a bare name.
ROW_UDF_OK = {
    "udf_python_scalar": (
        "the legacy-surface demo itself: it exists to exercise the "
        "row-at-a-time F.udf registration path (HiveQL CREATE "
        "TEMPORARY FUNCTION parity) and is pinned to toy input; the "
        "vectorized twin is udf_pandas_charge"
    ),
}


def test_registry_wide_no_unplanned_nested_loop(spark, qs):
    """Global scale invariants over the WHOLE registry, one plan pass:
    (a) no query may plan a CartesianProduct or
    BroadcastNestedLoopJoin unless whitelisted as a labeled baseline,
    a 1-row scalar broadcast, or an intentional cross join;
    (b) no query may plan a row-at-a-time Python UDF
    (BatchEvalPython) outside the legacy-surface demo — at 100 TB a
    per-row Python round-trip in a hot path is a 10-100x tax. A new
    operator that degrades on either axis fails here by name."""
    import re as _re

    sf = "/root/testdata/sf0.001"
    offenders = {}
    udf_offenders = {}
    for name, q in qs.items():
        if name in SWEEP_SKIP:
            continue
        df = q.fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = [
            n
            for n in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if n in plan
        ]
        if hits and name not in NESTED_LOOP_OK:
            offenders[name] = hits
        # negative lookahead: BatchEvalPythonUDTF is the (Arrow-capable)
        # native UDTF node, not the scalar row-UDF slow path
        if (
            _re.search(r"BatchEvalPython(?!UDTF)", plan)
            and name not in ROW_UDF_OK
        ):
            udf_offenders[name] = "BatchEvalPython"
    assert not offenders, offenders
    assert not udf_offenders, (
        f"row-at-a-time Python UDF planned outside the legacy demo: "
        f"{udf_offenders}"
    )
    stale = (
        [n for n in NESTED_LOOP_OK if n not in qs]
        + [n for n in SWEEP_SKIP if n not in qs]
        + [n for n in ROW_UDF_OK if n not in qs]
    )
    assert not stale, f"whitelist entries not in registry: {stale}"
    # a bare addition (no rationale) to either whitelist fails here
    unjustified = [
        n
        for wl in (NESTED_LOOP_OK, ROW_UDF_OK)
        for n, why in wl.items()
        if not (isinstance(why, str) and why.strip())
    ]
    assert not unjustified, (
        f"whitelist entries without a justification: {unjustified}"
    )


def test_shared_shuffle_reused_across_branches(spark, sf_dir):
    """Hive's CorrelationOptimizer (YSmart; qfile family
    correlationoptimizer*.q) merges operators sharing a shuffle key;
    Spark's analogue is ReuseExchange — a self-join of one aggregate
    computes the shuffle ONCE when the branch subtrees are identical.
    The nuance this test pins: column pruning beats reuse (branches
    projecting different aggregate columns produce different
    exchanges), so the reuse-sensitive rewrite is to keep branch
    projections identical — exactly what the reference optimizer's
    shared-scan detection did at the MR level."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    agg = li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("q"), F.count(F.lit(1)).alias("n")
    )
    a = agg.filter(F.col("q") > 100)
    b = agg.filter(F.col("n") > 3).select(
        F.col("l_orderkey").alias("k2"),
        F.col("q").alias("q2"),
        F.col("n").alias("n2"),
    )
    j = a.join(b, a.l_orderkey == b.k2)
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_null_intolerant_filter_rewrites_outer_to_inner(spark, sf_dir):
    """PPD through outer joins (qfile family ppd_outer_join*.q;
    Hive optimizer/ppd/): a WHERE predicate on the null-producing
    side is null-INTOLERANT, so the left join is semantically an
    inner join — Catalyst (EliminateOuterJoin) must rewrite it and
    then push the predicate into the scan. At scale this turns a
    preserved-everything join into a filtered equi-join."""
    from pyspark.sql import functions as F

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = n.join(c, n.n_nationkey == c.c_nationkey, "left").filter(
        F.col("c_acctbal") > 0
    )
    plan = audit.formatted_plan(j)
    assert "LeftOuter" not in plan, plan
    assert "Inner" in plan, plan
    facts = audit.analyze(j)
    assert any("c_acctbal" in f for f in facts.pushed_filters), facts.text


def test_bucketed_table_aggregates_without_shuffle(spark, sf_dir):
    """Hive's sorted/bucketed group-by optimization (qfile family
    groupby_sort_*.q — bucket-sorted tables aggregate without the
    shuffle phase): a table bucketed on the grouping key reports its
    HashPartitioning to Catalyst, so groupBy(bucket_key) plans with
    ZERO Exchange nodes. At 100 TB the pre-bucketed layout amortizes
    one write-time shuffle across every downstream aggregation —
    the same economics as the SMB join gate."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spark.sql("DROP TABLE IF EXISTS bkt_groupby_gate")
    try:
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).saveAsTable("bkt_groupby_gate")
        agg = (
            spark.table("bkt_groupby_gate")
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("q"))
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and it still computes the right thing
        direct = {
            r.l_orderkey: r.q
            for r in li.groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("q"))
            .collect()
        }
        got = {r.l_orderkey: r.q for r in agg.collect()}
        assert got == direct
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_groupby_gate")


def test_pii_redact_is_pure_scan(spark, sf_dir, qs):
    """text_pii_redact must plan as a map-only projection over the
    scan — zero Exchange nodes: at 100 TB the redaction pass is IO
    bound and any shuffle would be pure waste."""
    df = qs["text_pii_redact"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_winnow_partitions_by_doc_never_global_sort(spark, sf_dir, qs):
    """text_winnow_fingerprints: ONE hash exchange on doc_id (the
    window partition key), per-doc local sort only — a global Sort or
    rangepartitioning would serialize the corpus at scale. The
    distinct must reuse the doc_id partitioning (no second
    exchange)."""
    df = qs["text_winnow_fingerprints"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_url_host_filter_broadcasts_blocklist(spark, sf_dir, qs):
    """The deny list joins as a broadcast LEFT ANTI — the corpus must
    never shuffle for membership checks against a MB-scale list."""
    df = qs["text_url_host_filter"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_boilerplate_filter_keyed_joins_and_broadcast_threshold(
    spark, sf_dir, qs
):
    """corpus_boilerplate_filter: the corpus-size scalar must ride as
    a 1-row BROADCAST (threshold computed in-plan, not on the
    driver), the boiler set joins back keyed (no cartesian), and no
    global sort appears anywhere."""
    df = qs["corpus_boilerplate_filter"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_rrf_hybrid_never_shuffles_corpus_for_broadcastable_sides(
    spark, sf_dir, qs
):
    """retrieval_rrf_hybrid: the query sides (5 queries' terms and
    vectors) broadcast; the fusion join runs over two k-per-query
    rank lists. A global sort of the corpus would mean a rank was
    computed with Window over an unpartitioned frame — forbidden."""
    df = qs["retrieval_rrf_hybrid"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan, plan
    assert "rangepartitioning" not in plan, plan


def _final_plan_nodes(node, parent=None):
    """(node, parent) over an executed adaptive plan, descending into
    query stages (whose ``plan`` is not a child) but not into reused
    exchanges."""
    yield node, parent
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _final_plan_nodes(node.executedPlan(), node)
    elif name.endswith("QueryStageExec"):
        yield from _final_plan_nodes(node.plan(), node)
    elif name != "ReusedExchangeExec":
        it = node.children().iterator()
        while it.hasNext():
            yield from _final_plan_nodes(it.next(), node)


def _is_doc_id_split(node) -> bool:
    """A shuffle (or a reuse of one) hash-partitioned on doc_id."""
    return node.getClass().getSimpleName() in (
        "ShuffleExchangeExec",
        "ReusedExchangeExec",
    ) and node.outputPartitioning().toString().startswith("hashpartitioning(doc_id#")


def test_bm25_eval_splits_the_corpus_once(spark, sf_dir, qs):
    """retrieval_bm25_eval: tf, doc lengths and the corpus scalars all
    read ONE keyed split of the corpus (the other readers are reused
    exchanges), nothing is cached, and on more than one core every
    read of the split spans more than one partition (AQE did not
    coalesce it into one task)."""
    df = qs["retrieval_bm25_eval"].fn(spark, sf_dir)
    df.collect()
    nodes = list(_final_plan_nodes(df._jdf.queryExecution().executedPlan()))
    names = [n.getClass().getSimpleName() for n, _ in nodes]
    assert "InMemoryTableScanExec" not in names, names
    splits = [n for n, _ in nodes if _is_doc_id_split(n)]
    fresh = [n for n in splits if n.getClass().getSimpleName() == "ShuffleExchangeExec"]
    assert len(fresh) == 1, [n.toString() for n in splits]
    assert len(splits) > 1, "no consumer reuses the split"
    below = [n.getClass().getSimpleName() for n, _ in _final_plan_nodes(fresh[0].child())]
    assert "FileSourceScanExec" in below, below
    assert not any("Exchange" in b or "QueryStage" in b for b in below), below
    if spark.sparkContext.defaultParallelism > 1:
        reads = [
            (p if p.getClass().getSimpleName() == "AQEShuffleReadExec" else n)
            for n, p in nodes
            if n.getClass().getSimpleName() == "ShuffleQueryStageExec"
            and _is_doc_id_split(n.plan())
        ]
        assert reads
        widths = [r.outputPartitioning().numPartitions() for r in reads]
        assert min(widths) > 1, widths


def test_url_dedup_single_aggregate_no_join(spark, sf_dir, qs):
    """corpus_url_dedup is ONE hash aggregate over a map-side
    canonicalization — any join or range partitioning is a planning
    bug (this is the cheapest dedup tier; it must stay cheap)."""
    df = qs["corpus_url_dedup"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    # map-side partial + final: exactly one shuffle on the canonical key
    assert plan.count("Exchange") == 1, plan


def test_pagerank_round_is_join_plus_partial_agg(spark):
    """One PageRank round = ONE equi-join (ranks x edges) + ONE
    hash-partitioned partial-sum aggregate + the 1-row dangling
    broadcast — never a cartesian, never a range partitioning."""
    from hdp2_5_hive_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [(i % 7, (i * 3 + 1) % 7) for i in range(30)],
        "src long, dst long",
    )
    df = pagerank(edges, n_iter=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_runtime_bloom_filter_semijoin_reduction(spark, sf_dir):
    """Hive-on-Tez dynamic semi-join reduction parity (reference
    ``ql/optimizer/DynamicPartitionPruningOptimization.java`` /
    hive.tez.dynamic.semijoin.reduction — a bloom filter built from
    the filtered dim side prunes fact rows BEFORE the shuffle):
    Spark's runtime bloom-filter injection is the same optimization
    (spark.sql.optimizer.runtime.bloomFilter). With thresholds
    cleared and broadcast disabled (a broadcast join needs no
    reduction), the selective orders filter must inject a
    BloomFilterMightContain probe on lineitem's scan side."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        from pyspark.sql import functions as F

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        od = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(
            od, li.l_orderkey == od.o_orderkey
        ).groupBy("o_orderpriority").agg(F.sum("l_quantity").alias("q"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
        assert joined.count() >= 1  # and it still computes correctly
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tfidf_topk_plans_window_group_limit(spark, sf_dir):
    """tfidf_topk's per-doc top-k must run the map-side
    WindowGroupLimit heap, not a full per-doc sort."""
    from hdp2_5_hive_spark.operators.textstats import tfidf_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = tfidf_topk(docs, "doc_id", "text", k=3)
    df.collect()
    assert "WindowGroupLimit" in audit.executed_plan(df)


def test_webdataset_write_single_shard_exchange(spark, sf_dir, tmp_path):
    """The webdataset export plan: ONE shard-keyed exchange feeds the
    streamed tar writer — a second exchange (or a sort spanning
    shards) would double the shuffle of the full corpus payload."""
    from hdp2_5_hive_spark.sources import webdataset_py as wd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # build the prepared plan exactly as write_webdataset does
    key = F.col("doc_id").cast("string")
    shard = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 4
    ).cast("int")
    prepared = (
        docs.select(key.alias("_key"), shard.alias("_shard"), "text")
        .repartition(4, "_shard")
        .sortWithinPartitions("_shard", "_key")
    )
    facts = audit.analyze(prepared)
    assert len(_exchange_nodes(facts.text)) == 1, facts.text
    # and the E2E write agrees with the plan-level claim
    n = wd.write_webdataset(
        docs.limit(50), str(tmp_path / "w"), "doc_id",
        {"text": "txt"}, n_shards=4,
    )
    assert n == 50


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Dynamic partition pruning (Hive-on-Tez's dynamic min/max /
    bloom semijoin reduction twin for PARTITION keys): a selective
    dim filter joined on the fact's partition column must inject a
    dynamicpruning subquery into the fact scan's PartitionFilters —
    at warehouse scale this is the difference between scanning 3
    partitions and 3000. Gate pins the plan marker."""
    fact = spark.range(10000).select(
        (F.col("id") % 20).alias("p"), F.col("id").alias("v")
    )
    fact.write.partitionBy("p").parquet(str(tmp_path / "fact"))
    dim = spark.range(20).select(
        F.col("id").alias("p"), (F.col("id") % 3).alias("grp")
    )
    f = spark.read.parquet(str(tmp_path / "fact"))
    j = f.join(dim.filter("grp = 1"), "p").groupBy("p").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:1200]
    # and it actually executes correctly
    assert j.count() == 7  # p in {1,4,7,10,13,16,19}


def test_join_strategy_hints_respected(spark, sf_dir):
    """Hive's MAPJOIN hint family maps onto Spark's strategy hints;
    beside the broadcast hint (covered by hiveql_mapjoin_hint),
    SHUFFLE_HASH and MERGE must each pin their physical join."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sh = o.join(c.hint("SHUFFLE_HASH"), o.o_custkey == c.c_custkey)
    assert "ShuffledHashJoin" in sh._jdf.queryExecution().executedPlan().toString()
    sm = o.join(c.hint("MERGE"), o.o_custkey == c.c_custkey)
    assert "SortMergeJoin" in sm._jdf.queryExecution().executedPlan().toString()


def test_shuffle_census_pinned(spark, sf_dir):
    """The EXPLAIN-surface census query reports exactly the plan
    facts the audit helpers see — pinned literally so a Catalyst
    strategy drift (a broadcast falling back to sort-merge, an extra
    exchange appearing) lands as a test failure, not a silent perf
    regression."""
    from hdp2_5_hive_spark.queries import all_queries

    rows = {
        r["query"]: r
        for r in all_queries()["meta_plan_shuffle_census"]
        .fn(spark, sf_dir)
        .collect()
    }
    q3 = rows["q3_shipping_priority"]
    assert (q3["n_exchanges"], q3["n_broadcast_joins"], q3["n_sortmerge_joins"]) == (2, 4, 0)
    assert q3["has_pushed_filters"]
    q18 = rows["q18_large_orders"]
    # r13 optimization: the under-split guard hash-repartitions on the
    # group key so the HAVING aggregate reuses that one exchange —
    # the round-robin Exchange + the aggregate's own Exchange fused
    # into one shuffle (4 exchanges -> 2; see
    # `git show b992b97:plans/r13/q18_large_orders_after.txt`).
    assert (q18["n_exchanges"], q18["n_broadcast_joins"], q18["n_sortmerge_joins"]) == (2, 4, 0)
    assert q18["has_pushed_filters"]
    cube = rows["agg_cube_grouping_id"]
    assert cube["n_sortmerge_joins"] == 0
    assert cube["n_exchanges"] == 4
