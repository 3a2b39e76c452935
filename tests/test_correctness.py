"""Every registered query vs its DuckDB oracle at sf0.001 — the
same gate the driver applies at sf0.01 (order-insensitive exact
compare, hdp2_5_hive_spark/oracle.py)."""

from __future__ import annotations

import pytest

from hdp2_5_hive_spark.oracle import compare_query
from hdp2_5_hive_spark.queries import all_queries

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    q = QUERIES[name]
    df = q.fn(spark, sf_dir)
    if q.oracle is None:
        # rows-only contract: must execute and return a well-formed
        # frame, AND a driver-canonicalizable schema — the driver
        # pandas-sorts even rows-only results and dies on array cells
        # (emb_pca_project ERR r6), so the complex-schema guard
        # applies to every registered query, not just oracle-backed.
        from hdp2_5_hive_spark.oracle import reject_complex_schema

        reject_complex_schema(df)
        assert df.columns, f"{name}: no columns"
        assert df.count() >= 0
        return
    ok, detail = compare_query(df, oracle_con, q.oracle)
    assert ok, f"{name}: {detail}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert df.columns[0] == "l_returnflag"


def test_contract_shape():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 50


def test_view_registration_follows_sf_dir(spark):
    """Interleaving sf_dirs (driver: entry at sf0.001, correctness
    at sf0.01) must re-point the session's temp views — a cached
    registration would silently serve the wrong scale."""
    from hdp2_5_hive_spark.queries import query_map

    qm = query_map()
    a = qm["subq_in"](spark, "/root/testdata/sf0.001").count()
    b = qm["subq_in"](spark, "/root/testdata/sf0.01").count()
    a2 = qm["subq_in"](spark, "/root/testdata/sf0.001").count()
    assert a == a2
    assert b != a


def test_sample_front_names_unique_and_registered():
    """MUST_PROVE leads the driver's correctness window: a duplicate
    name silently shrinks the window (dict collapse), a missing name
    raises in all_queries() — pin both."""
    from hdp2_5_hive_spark.queries.registry import MUST_PROVE

    assert len(set(MUST_PROVE)) == len(MUST_PROVE)
    assert set(MUST_PROVE) <= set(QUERIES)


# The window the driver was to check after recording CORRECTNESS_r01
# .. r14, built by hand before the window was computed: MUST_PROVE,
# the 29 names last proven in r6, then the 15 alphabetically-first
# names last proven in r7.
R15_WINDOW = [
    "graph_pagerank_hosts", "dedup_jaccard_prefix",
    "retrieval_rm3_expansion", "dedup_simhash",
    "dedup_containment_prefix", "decontaminate_bloom_prefilter",
    "emb_kmeans_clusters", "events_funnel", "events_retention",
    "events_top_transitions", "events_windowed_rate",
    "fmt_rcfile_round_trip", "fmt_zorder_skipping",
    "fn_date_format_patterns", "fn_hash_multiarg", "fn_json_path_suite",
    "fn_sentences_soundex", "fn_string_edge_cases", "fn_trig_inverse",
    "fn_xpath_suite", "hiveql_case_cast_expr", "hiveql_correlated_exists",
    "hiveql_cte_chain", "hiveql_having_alias", "hiveql_null_ordering",
    "hiveql_order_by_pos", "hiveql_tablesample_bucket",
    "hiveql_union_mixed", "multimodal_phash_dedup",
    "quality_learned_classifier", "subq_not_in_null_semantics",
    "text_compression_ratio", "win_first_last_ignore_nulls",
    "win_nth_value_ntile", "win_range_interval_frame",
    "acid_delta_layout_reader", "agg_bit_ops", "agg_cms_heavy_hitters",
    "agg_hll_set_ops", "agg_min_by_max_by", "agg_null_group_semantics",
    "agg_quantile_sketch", "ann_ivf_recall", "ann_pq_recall",
    "corpus_chunk_overlap", "corpus_clean_v4", "corpus_dsir_resample",
    "corpus_interleave_stride", "corpus_ngram_novelty",
    "corpus_token_budget_sample",
]

GREEN = {
    "rows_match": True, "schema_match": True, "hash_match": True,
    "spark_rows": 1, "oracle_rows": 1, "err": None,
}


def _driver_order(monkeypatch, artifacts):
    """``list(all_queries())`` as if the repo held ``artifacts``."""
    from hdp2_5_hive_spark.queries import registry

    monkeypatch.setattr(registry, "load_artifacts", lambda root: artifacts)
    return list(registry.all_queries())


def _committed_r01_r14():
    from hdp2_5_hive_spark.queries.registry import _REPO_ROOT, load_artifacts

    artifacts = load_artifacts(_REPO_ROOT)
    assert len(artifacts) >= 14
    return artifacts[:14]


def test_sample_window_reproduces_r15_window_and_order(monkeypatch):
    """On the committed r01-r14 artifacts the computed window is the
    hand-built r15 window, and everything behind it stays in module
    registration order (= the no-artifact order minus the window)."""
    order = _driver_order(monkeypatch, _committed_r01_r14())
    no_artifacts = _driver_order(monkeypatch, [])
    assert len(order) == len(QUERIES)
    assert order[:50] == R15_WINDOW
    assert order[50:] == [n for n in no_artifacts if n not in R15_WINDOW]


def test_sample_window_rotates_after_driver_records_it(monkeypatch):
    """Once the driver records an all-green window, the next window
    shares no name with it: the just-proven rows are the freshest."""
    artifacts = _committed_r01_r14()
    window = _driver_order(monkeypatch, artifacts)[:50]
    r15 = {n: dict(GREEN) for n in window}
    following = _driver_order(monkeypatch, artifacts + [r15])[:50]
    assert len(following) == 50
    assert not set(following) & set(window)


def _window(names, artifacts, has_oracle=(), must_prove=()):
    from hdp2_5_hive_spark.queries.registry import sample_window

    return sample_window(names, artifacts, set(has_oracle), must_prove)


def test_sample_window_no_artifacts_is_must_prove_then_registration():
    assert _window(["c", "a", "b", "d"], [], must_prove=("b",)) == [
        "b", "c", "a", "d",
    ]


def test_sample_window_never_sampled_first():
    arts = [{"a": GREEN, "b": GREEN, "d": GREEN}]
    assert _window(["a", "b", "c", "d"], arts) == ["c", "a", "b", "d"]


def test_sample_window_red_latest_first():
    arts = [
        {"a": GREEN, "b": GREEN, "c": GREEN, "d": GREEN, "e": GREEN},
        {
            "b": {**GREEN, "hash_match": False},
            "d": {**GREEN, "err": "Py4JJavaError"},
            "e": GREEN,
        },
        {"a": GREEN},
    ]
    # b and d are red in their latest row; e's and a's are green.
    assert _window(["a", "b", "c", "d", "e"], arts) == [
        "b", "d", "c", "e", "a",
    ]
    # A later green row clears the red one.
    arts.append({"b": GREEN})
    assert _window(["a", "b", "c", "d", "e"], arts)[:2] == ["d", "c"]


def test_sample_window_oracle_upgrade_first():
    rows_only = {"err": "no_oracle", "spark_rows": 7}
    arts = [{"a": GREEN, "b": rows_only, "c": rows_only}]
    # b gained an oracle since its rows-only row; c still has none,
    # so its rows-only row is green evidence.
    assert _window(["a", "b", "c"], arts, has_oracle={"a", "b"}) == [
        "b", "a", "c",
    ]
    # A rows-only row that did not execute is red.
    arts.append({"c": {"err": "no_oracle", "spark_rows": None}})
    assert _window(["a", "b", "c"], arts, has_oracle={"a", "b"}) == [
        "b", "c", "a",
    ]


def test_sample_window_fill_stalest_first():
    arts = [{"d": GREEN, "c": GREEN}, {"b": GREEN, "a": GREEN}, {"e": GREEN}]
    assert _window(["e", "b", "a", "d", "c"], arts) == [
        "c", "d", "a", "b", "e",
    ]
    names = [f"q{i:03d}" for i in range(60)]
    arts = [{n: GREEN for n in names[30:]}, {n: GREEN for n in names[:30]}]
    assert _window(names, arts) == names[30:] + names[:20]


def test_sample_window_must_prove_drops_out_once_recorded():
    arts = [{"a": GREEN, "b": GREEN, "c": GREEN}, {"a": GREEN}]
    assert _window(["a", "b", "c"], arts, must_prove=("c",)) == [
        "c", "b", "a",
    ]
    arts.append({"c": GREEN})
    assert _window(["a", "b", "c"], arts, must_prove=("c",)) == [
        "b", "a", "c",
    ]


def test_load_artifacts_orders_rounds_numerically(tmp_path):
    from hdp2_5_hive_spark.queries.registry import load_artifacts

    for rnd in (10, 2, 1):
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(
            '{"r%d": {}}' % rnd
        )
    (tmp_path / "CORRECTNESS_r3.json").write_text("{not json")
    (tmp_path / "CORRECTNESS_r4_draft.json").write_text('{"x": {}}')
    assert [list(a) for a in load_artifacts(tmp_path)] == [
        ["r1"], ["r2"], ["r10"],
    ]
