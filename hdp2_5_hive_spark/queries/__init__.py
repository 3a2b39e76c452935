"""Named query registry — the driver-facing surface.

Each registered query pairs a Spark callable ``(spark, sf_dir) ->
DataFrame`` with an equivalent DuckDB oracle SQL string (or ``None``
for non-SQL-expressible operators → rows-only check). This mirrors
the reference's golden-file qfile tests
(``ql/src/test/queries/clientpositive/*.q`` + ``*.q.out``,
SURVEY.md §5) with DuckDB as the golden-output generator.
"""

from __future__ import annotations

import importlib

from .registry import Query, all_queries, oracle_map, query_map, register

# Registration (= driver sampling) order: the driver's correctness
# run checks a prefix of the registry (~50 queries), so each round
# rotates a different family block to the front until every query has
# a driver-green CORRECTNESS row. Rotation ledger:
#   round 2 window: core(22) joins(10) aggregates(11) windows(first 7)
#     -> 48/50 green (CORRECTNESS_r02.json)
#   round 3 window (this order): scalars(9) setops(6) lateral(9)
#     subqueries(7) extensions(6) streaming_batch(7) formats(6) = 50,
#     all oracle-backed — proves the §2.1 physical-operator rows
#     (ReduceSink/Union/UDTF/LateralView/Script/FileSink/SMB/merge),
#     §2.2 formats, §2.10 streaming twins, §2.11 subqueries, §2.12.
#   round 4 window (SAMPLE_FRONT below): the 9 events-loader ERR rows
#     of r3 (json ×2, streaming_batch ×7 — loader fixed this round),
#     the 2 fixed-but-unproven rows (q12, agg_approx_distinct),
#     ddl_persistent_catalog (cut from r3's 50 at position 51), ACID
#     DML (2), and the never-sampled LLM-pipeline family (pipeline 20
#     + pipeline2 16) = 50.
#   round 5 window (SAMPLE_FRONT below): the full never-sampled tail —
#     text_hash_features/dedup_hash_cosine (2), scalars2 (28),
#     win_topk_per_group + win_agg_over (stale r1 ERRs), fmt_csv/
#     fmt_text round-trips (34 total) — then the new round-5 surface:
#     hiveql text suite part 1 (9), fmt_sequencefile_round_trip,
#     pipeline3 (4), and at ~49-51 the flagship new operators
#     (dedup_components_star, dedup_jaccard_prefix) plus q18 (plan
#     rewritten this round). After the 34 land, every PRE-round-5
#     query has >=1 CORRECTNESS row.
#   round 5 result: 47/50 green; the 3 red rows (fn_decimal_round
#     oracle half-up-on-double bug; fn_xpath_suite +
#     fn_sentences_soundex array columns the driver canonicalizer
#     cannot sort) are all FIXED in round 6 and re-fronted.
#   round 6 window (SAMPLE_FRONT below): the 24 never-sampled
#     round-5-part-2 queries (span dedup/mask, domain mixing, seeded
#     shuffle, fuzzy decon, pHash, EXPORT/IMPORT + ANALYZE, BPE, PCA,
#     k-means, clean_v3, FFD, incremental dedup, hiveql part 2,
#     compression ratio, event analytics), then the 3 fixed red rows
#     (positions 25-27), then 23 new round-6 queries filling the
#     window to exactly 50. Closes the full registry ledger: after
#     this window every query registered BEFORE round 6 has >=1
#     driver CORRECTNESS row. Positions 51+ hold the late round-6
#     additions (ann_ivf_recall, interleave, attribution, min_by,
#     semantic dedup, view/directory text forms, printf, arrays) —
#     all green in the end-of-round 245/245 full-registry sim; they
#     are round 7's window candidates.
#   round 6 result: 47/50 green; the 3 red rows (fn_decimal_round
#     DECIMAL-vs-DOUBLE oracle type drift, ddl_analyze_stats HUGEINT,
#     emb_pca_project array column in the driver canonicalizer) are
#     all fixed in round 7 and re-fronted.
#   round 7 window (SAMPLE_FRONT below): the 44 never-sampled
#     late-round-6 queries (positions 1-44 — closes the driver ledger
#     at 280/280 sampled), the 3 fixed red rows (45-47), then new
#     round-7 queries as they land. Positions 48+ (the ~55 round-7
#     additions: compressed codecs, parity corners, pipeline5 parts
#     1-2, HS2 wire, macros, IVF-PQ, boilerplate/URL/snapshot/RRF/
#     backoff/PageRank/video/audio/card/v6/varsub/rerank, then the
#     continued-session tail: protobuf SerDe ×2, CCNet terciles,
#     edit-distance joins ×2, char entropy, two-phase attributes,
#     SCD2, ACID minor compaction, epoch planner, HTML extract,
#     parquet bloom, clean_v7, cross-modal dedup, Misra-Gries heavy
#     hitters, WebDataset tar shards, unigram-LM tokenizer ×2,
#     pround quotient-parity migration, TF-IDF top-k, Zipf fit,
#     LazyBinary SerDe, Kneser-Ney LM, flagship v8, TypedBytes
#     TRANSFORM, interval-overlap join, schema-evolution reads ×2,
#     MAD anomaly, incremental stats merge, streaming MG state,
#     exact-proportion split, weighted median, data contract,
#     RM3 expansion, weekday seasonality, TRANSFORM delimited +
#     REDUCE keyword forms, Arrow IPC, 3-step path mining,
#     parquet codec matrix, Gopher rule battery, centroid drift,
#     Heaps fit) are beyond the
#     ~50-query driver prefix — they are round 8's window candidates;
#     all are green in this round's TWO full-registry check_oracle
#     batteries (317/317 at the first snapshot; 339 pass / 0 fail /
#     16 rows-only = 355 at the second battery covering the pround
#     parity migration) — the 8 queries registered after the second
#     battery (hiveql TRANSFORM-delimited/REDUCE, Arrow IPC, 3-step
#     paths, parquet codecs, Gopher rules, centroid drift, Heaps
#     fit) were each verified individually at sf0.001 AND sf0.01.
#     End-of-round registry: 363 queries, 347 oracle-backed, 16
#     rows-only; registry-wide nested-loop sweep green at 363.
#   round 7 continued-session-3 (restarted context, same round): 30
#     further additions — C4 rule battery + flagship v9 (C4 gate →
#     provable containment dedup → source audit), WordPiece
#     tokenizer ×2 (exact sequential-reference pin), triangle census
#     (degree-oriented) + k-core peel, provably-complete asymmetric
#     containment join, Fellegi-Sunter scoring + EM training,
#     Jaro-Winkler (vs DuckDB's native), retrieval-eval metrics
#     (recall/MRR/nDCG), EWMA + rolling-median + streak +
#     cumulative-uniques + top-N-other + Benford + key-skew + FK
#     audits, feature prep (pivot, winsorize, OOF target encode,
#     discretize, quantile-normalize), ACID time travel, Ranger-style
#     policy data plane, z-order clustering key, ORC bloom, LSH
#     S-curve, haversine. Plus plan gates: DPP, join-strategy hints,
#     bucket pruning, z-order row-group skipping;
#     dropDuplicatesWithinWatermark streaming semantics. Every
#     oracle-backed addition passed check_oracle at BOTH sf0.001 and
#     sf0.01 when it landed; interim full battery 361 pass / 0 fail /
#     19 rows-only at 380 registered; second interim battery 379
#     pass / 0 fail / 21 rows-only at 400. Part 2 of the session
#     added: BM25 end-to-end eval capstone, CUPED + SRM
#     experimentation tier, market-basket rules + item-item
#     neighbors (relative min-support), mutual information,
#     hierarchy shares, column-level lineage (Catalyst plan walk),
#     churn labels, linear gap interpolation, rolling WAU,
#     MATCH_RECOGNIZE row patterns, SCD2 incremental upsert
#     (merge==rebuild oracle), grid-bucketed geo radius join +
#     nearest hub + haversine, warehouse health card, column
#     profile, classifier calibration (plus the single-class-holdout
#     fix it surfaced in the learned-classifier eval), SQL-standard
#     GRANT/REVOKE authorization with SHOW GRANT (closes the last
#     authorization oos row), ACID Initiator auto-compaction and
#     ROW__ID exposure, dropDuplicatesWithinWatermark / outer
#     stream-join / maxFilesPerTrigger / observe() pins. Every
#     addition check_oracle-green at BOTH SFs and driver_sim-green
#     at sf0.01 individually; the closing battery covers the final
#     registry. End-of-session registry: 413 (392 oracle-backed,
#     21 rows-only).
#   round 7 result: 50/50 green (48 hash-match + 2 rows-only executed)
#     — first perfect driver window. Cumulative ledger 283/418.
#   round 8 window (SAMPLE_FRONT below): ROTATED per verdict r7 #1.
#     The tuple is now EXACTLY the 135 queries with no cumulative
#     CORRECTNESS_r01..r07 row (verified against the artifacts at
#     rotation time); all 283 previously-sampled green names dropped
#     behind into registration order. First 50 = round-8 window,
#     riskiest first (codec tail, HS2 wire, rows-only/iterative,
#     fresh oracle shapes); positions 50-134 stage round 9. Done
#     criterion: CORRECTNESS_r08 holds 50 previously-unsampled
#     names, ledger 283 -> 333/418.
#   round 8 result: 48 green + 2 hash-FAIL (fmt_parquet_codecs,
#     fmt_lazybinary_sequencefile_round_trip — the only two sampled
#     queries with raw DECIMAL output columns; the driver comparator
#     renders Spark DecimalType vs DuckDB DECIMAL differently).
#     Ledger 333/419 (win_cumulative_distinct slipped past the
#     50-row window when fmt_rcfile_snappy was inserted mid-list).
#   round 9 window: the 2 fixed red rows first (final decimals cast
#     to DOUBLE on both sides, plus the new reject_decimal_schema
#     static guard making the hazard unwritable), then the 86
#     never-sampled names in staged order. Verification that round:
#     the full 50-name window driver_sim green at sf0.01 AND sf0.1;
#     the staged r10 tail (positions 50-87) driver_sim green at
#     sf0.01; the ENTIRE 419-query registry driver_sim green at
#     sf0.01 (419 pass / 0 fail / 24 rows-only) and pytest-oracle
#     green at sf0.001.
#   round 9 result: 50/50 green (CORRECTNESS_r09: 2 formerly-red
#     CONVERTED + 48 first-time greens, zero rows-only in window).
#     Cumulative ledger 381/419 (359 hash-green, 22 rows-only
#     executed green, 0 red). 38 never-sampled remain.
#   round 10 window (SAMPLE_FRONT below): ROTATED per verdict r9 #1.
#     Positions 0-37 = the LAST 38 never-sampled names (verified
#     against the cumulative r1-r9 artifacts at rotation time; same
#     staged order they held at positions 50-87) — this window
#     closes the driver ledger at 419/419. Positions 38-42 = the
#     FIVE rows-only -> synthesized-oracle upgrades of this round
#     (verdict r9 #3: graph_pagerank_hosts unrolled power iteration,
#     graph_kcore_membership recursive-CTE peel, er_em_parameters
#     unrolled EM, pack_ffd_bins recursive first-fit fold,
#     topic_model_mixture unrolled decimal-exact hard-EM) so the
#     upgrades land as driver HASH evidence. Positions 43-49 = 7
#     deliberate RE-PROVES of the oldest-evidence green rows (r2-era:
#     the verdict-named q1/q3/q5, win_range_frame,
#     agg_cube_grouping_id, plus the two bench-watch queries
#     q7_volume_shipping and join_inner_basic from verdict #4) —
#     re-proving 8-round-old evidence is the only other useful thing
#     a spare slot can do. test_sample_front_window_is_rotated
#     amended per verdict order #1: green names allowed only at
#     positions >= the window's needs-sampling count. Done
#     criterion: CORRECTNESS_r10 = 38 first-timers green + 5 oracle
#     upgrades hash-green + 7 re-proves green; ledger 381 -> 419/419.
#   round 10 result: 49 hash-green + 1 rows-only executed green
#     (quality_classifier_calibration — the window's by-design
#     rows-only row). Ledger CLOSED at 419/419 sampled (401
#     hash-green, 18 rows-only evidence). Session 2 staged 8 more
#     rows-only -> exact-oracle upgrades (simhash, sign-LSH, the six
#     tokenizer trainers) for the r11 window.
#   round 11 window (SAMPLE_FRONT below): positions 0-7 = the 8
#     staged oracle upgrades (verdict r10 #1) so they flip
#     `no_oracle` -> driver hash evidence; positions 8-49 = the
#     evidence-freshness ratchet (verdict r10 #5): all 41 r2-latest
#     rows + orderby_limit (oldest r3 + bench watch, verdict #6).
#     Done criterion: rows-only set becomes exactly the 10
#     justified; max evidence age drops r2 -> r3.
_MODULES = (
    "scalars",
    "setops",
    "lateral",
    "subqueries",
    "extensions",
    "streaming_batch",
    "formats",
    "acid",
    "analytics",
    "hiveql",
    "pipeline",
    "pipeline2",
    "pipeline3",
    "pipeline4",
    "pipeline5",
    "pipeline6",
    "scalars2",
    "scalars3",
    "core",
    "joins",
    "aggregates",
    "windows",
)

# Explicit sample-window order: ``all_queries()`` yields these names
# first (in this order), then every other registered query in module
# registration order. The driver checks a ~50-query prefix, so this
# list IS the round's correctness window — update it per the rotation
# ledger above each round.
SAMPLE_FRONT: tuple[str, ...] = (
    # ---- round-15 window: ROTATED (starting-gun clause (b)).
    # Round-14 result: 50/50 hash-green (35 r5-era + 15 r6-era rows
    # re-proved); cumulative ledger 419/419 sampled, 0 red.
    # First the six round-14 optimizations that touch semantics
    # (in-task pagerank, PPJoin positional filter, rm3 tf checkpoint,
    # simhash/LSH band persists, containment length bound, bloom
    # hash persists), so the sampled window proves them.
    "graph_pagerank_hosts",
    "dedup_jaccard_prefix",
    "retrieval_rm3_expansion",
    "dedup_simhash",
    "dedup_containment_prefix",
    "decontaminate_bloom_prefilter",
    # ---- all 29 remaining r6-era rows (stalest evidence).
    "emb_kmeans_clusters",
    "events_funnel",
    "events_retention",
    "events_top_transitions",
    "events_windowed_rate",
    "fmt_rcfile_round_trip",
    "fmt_zorder_skipping",
    "fn_date_format_patterns",
    "fn_hash_multiarg",
    "fn_json_path_suite",
    "fn_sentences_soundex",
    "fn_string_edge_cases",
    "fn_trig_inverse",
    "fn_xpath_suite",
    "hiveql_case_cast_expr",
    "hiveql_correlated_exists",
    "hiveql_cte_chain",
    "hiveql_having_alias",
    "hiveql_null_ordering",
    "hiveql_order_by_pos",
    "hiveql_tablesample_bucket",
    "hiveql_union_mixed",
    "multimodal_phash_dedup",
    "quality_learned_classifier",
    "subq_not_in_null_semantics",
    "text_compression_ratio",
    "win_first_last_ignore_nulls",
    "win_nth_value_ntile",
    "win_range_interval_frame",
    # ---- the 15 alphabetically-first r7-era rows fill the window.
    "acid_delta_layout_reader",
    "agg_bit_ops",
    "agg_cms_heavy_hitters",
    "agg_hll_set_ops",
    "agg_min_by_max_by",
    "agg_null_group_semantics",
    "agg_quantile_sketch",
    "ann_ivf_recall",
    "ann_pq_recall",
    "corpus_chunk_overlap",
    "corpus_clean_v4",
    "corpus_dsir_resample",
    "corpus_interleave_stride",
    "corpus_ngram_novelty",
    "corpus_token_budget_sample",
)


def load_all() -> None:
    """Import every query module so registration side-effects run."""
    for mod in _MODULES:
        importlib.import_module(f"{__name__}.{mod}")


__all__ = [
    "Query",
    "register",
    "all_queries",
    "query_map",
    "oracle_map",
    "load_all",
]
