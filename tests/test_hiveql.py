"""HiveQL-text suite gates: the textual interface must not only
return the right rows (oracle-checked by scripts/check_oracle +
driver) but also compile to the same optimized shapes as the
DataFrame twins — hints honored, semi joins planned as LeftSemi,
lateral views as Generate."""

from __future__ import annotations

import pytest

from hdp2_5_hive_spark.plans import audit
from hdp2_5_hive_spark.queries import all_queries


@pytest.fixture(scope="module")
def qs():
    return all_queries()


def test_sample_front_names_all_registered(qs):
    """Registry invariant (fail-loud guard in all_queries): every
    MUST_PROVE name resolves, and the list has no duplicates —
    catches a query rename/removal BEFORE the driver does."""
    from hdp2_5_hive_spark.queries.registry import (
        _REPO_ROOT,
        MUST_PROVE,
        load_artifacts,
    )

    assert len(set(MUST_PROVE)) == len(MUST_PROVE)
    missing = [n for n in MUST_PROVE if n not in qs]
    assert not missing, missing
    # The names the newest artifact has not recorded lead the
    # driver's sample window.
    artifacts = load_artifacts(_REPO_ROOT)
    newest = artifacts[-1] if artifacts else {}
    unproven = [n for n in MUST_PROVE if n not in newest]
    assert list(qs)[: len(unproven)] == unproven


def test_mapjoin_hint_plans_broadcast(spark, sf_dir, qs):
    """/*+ MAPJOIN(n) */ must plan a broadcast-hash join — Hive's
    MapJoinProcessor contract, Spark's MAPJOIN hint alias."""
    df = qs["hiveql_mapjoin_hint"].fn(spark, sf_dir)
    audit.assert_broadcast(df, at_least=1)


def test_semi_join_plans_left_semi(spark, sf_dir, qs):
    df = qs["hiveql_semi_join"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan, plan


def test_lateral_view_plans_generate(spark, sf_dir, qs):
    """LATERAL VIEW explode compiles to a Generate node (Hive's
    UDTF+LateralViewForward pair collapsed into one operator)."""
    df = qs["hiveql_lateral_view"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate explode" in plan, plan


def test_window_topk_single_shuffle(spark, sf_dir, qs):
    """The windowed top-k reads orders, shuffles ONCE on o_custkey,
    sorts within partitions, filters — no second exchange."""
    df = qs["hiveql_window_topk"].fn(spark, sf_dir)
    # Tree-form plan lists each node once (analyze()'s formatted text
    # would double-count: tree + per-node detail section).
    plan = audit.executed_plan(df)
    assert plan.count("Exchange") <= 1, plan
    # Spark 3.5+ pushes a partial top-k below the shuffle
    # (WindowGroupLimit) — the map-side combine of windowed rank.
    assert "WindowGroupLimit" in plan, plan


def test_grouping_sets_matches_dataframe_twin(spark, sf_dir, qs):
    """Hive `GROUP BY a,b GROUPING SETS(...)` text and the DataFrame
    grouping-sets API agree row-for-row (gid encoding included)."""
    from pyspark.sql import functions as F

    sql_rows = {
        tuple(r)
        for r in qs["hiveql_grouping_sets"].fn(spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df_rows = {
        tuple(r)
        for r in li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(F.grouping_id().alias("gid"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sql_rows == df_rows


class TestVariableSubstitution:
    def test_prefixed_bare_nested_and_set(self, spark):
        from hdp2_5_hive_spark.functions.varsub import VariableContext

        ctx = VariableContext()
        ctx.sql(spark, "SET hivevar:lo=3")
        ctx.sql(spark, "SET hivevar:hi=${lo}0")          # nested -> 30
        got = ctx.sql(
            spark,
            "SELECT id FROM range(100) "
            "WHERE id >= ${hivevar:lo} AND id < ${hi}",
        ).count()
        assert got == 27  # ids 3..29

    def test_hiveconf_env_and_unresolved_left_verbatim(self, spark):
        import os

        from hdp2_5_hive_spark.functions.varsub import VariableContext

        ctx = VariableContext()
        ctx.sql(spark, "SET spark.my.test.prop=42")
        assert ctx.substitute(
            spark, "x=${hiveconf:spark.my.test.prop}"
        ) == "x=42"
        os.environ["VARSUB_TEST"] = "abc"
        assert ctx.substitute(spark, "${env:VARSUB_TEST}") == "abc"
        # unresolved stays put (reference behavior)
        assert ctx.substitute(spark, "${nope:x} ${missing}") == (
            "${nope:x} ${missing}"
        )

    def test_set_hiveconf_prefix_round_trips(self, spark):
        """Regression: SET hiveconf:k=v stored the LITERAL key
        'hiveconf:k' in the Spark conf, so ${hiveconf:k} (which reads
        conf 'k') could never see the value — Hive's SetProcessor
        strips the namespace before setting."""
        from hdp2_5_hive_spark.functions.varsub import VariableContext

        ctx = VariableContext()
        ctx.sql(spark, "SET hiveconf:varsub.test.prop=7")
        assert (
            ctx.substitute(spark, "${hiveconf:varsub.test.prop}") == "7"
        )
        assert spark.conf.get("varsub.test.prop") == "7"

    def test_substitutes_inside_string_literals(self, spark):
        """Hive substitutes BEFORE parsing — literals included."""
        from hdp2_5_hive_spark.functions.varsub import VariableContext

        ctx = VariableContext({"who": "world"})
        r = ctx.sql(spark, "SELECT 'hello ${who}' AS s").collect()[0].s
        assert r == "hello world"

    def test_recursion_guard(self, spark):
        import pytest

        from hdp2_5_hive_spark.functions.varsub import (
            SubstitutionDepthError,
            VariableContext,
        )

        ctx = VariableContext({"a": "${b}", "b": "${a}"})
        with pytest.raises(SubstitutionDepthError):
            ctx.substitute(spark, "${a}")

    def test_set_print_and_list(self, spark):
        from hdp2_5_hive_spark.functions.varsub import VariableContext

        ctx = VariableContext({"dt": "2024-01-01"})
        row = ctx.sql(spark, "SET hivevar:dt").collect()[0]
        assert (row.key, row.value) == ("hivevar:dt", "2024-01-01")
        listed = {r.key for r in ctx.sql(spark, "SET").collect()}
        assert listed == {"dt"}


class TestResourceCommands:
    def test_add_file_distributes_to_executors(self, spark, tmp_path):
        """ADD FILE must make the file readable from EXECUTOR tasks
        via the SparkFiles mechanism — the distributed-cache contract
        TRANSFORM scripts rely on."""
        from hdp2_5_hive_spark.functions.resources import ResourceManager

        p = tmp_path / "lookup.txt"
        p.write_text("payload-42")
        res = ResourceManager()
        out = res.process(spark, f"ADD FILE {p}")
        assert out == [f"added file {p}"]
        assert res.process(spark, "LIST FILES") == [str(p)]

        def read_on_executor(_):
            from pyspark import SparkFiles

            with open(SparkFiles.get("lookup.txt")) as f:
                yield f.read()

        got = (
            spark.sparkContext.parallelize([0], 1)
            .mapPartitions(read_on_executor)
            .collect()
        )
        assert got == ["payload-42"]

    def test_delete_is_list_only_and_errors_loud(self, spark, tmp_path):
        import pytest

        from hdp2_5_hive_spark.functions.resources import (
            ResourceError,
            ResourceManager,
        )

        res = ResourceManager()
        with pytest.raises(ResourceError, match="no such file"):
            res.process(spark, "ADD FILE /nope/missing.txt")
        p = tmp_path / "a.txt"
        p.write_text("x")
        res.process(spark, f"ADD FILE {p}")
        res.process(spark, f"DELETE FILE {p}")
        assert res.process(spark, "LIST FILES") == []
        assert res.process(spark, "SELECT 1") is None  # not a resource cmd

    def test_source_replays_script_with_variables(self, spark, tmp_path):
        """SOURCE runs each ';'-statement through the caller's
        processor — variables defined in the sourced file are visible
        afterwards (CliDriver processFile semantics)."""
        from hdp2_5_hive_spark.functions.resources import ResourceManager
        from hdp2_5_hive_spark.functions.varsub import VariableContext

        script = tmp_path / "init.sql"
        script.write_text(
            "SET hivevar:cutoff=5;\n-- a comment\nSET hivevar:k=v;\n"
        )
        ctx = VariableContext()
        res = ResourceManager()
        res.process(
            spark, f"SOURCE {script}",
            run_statement=lambda s: ctx.sql(spark, s),
        )
        assert ctx.hivevars == {"cutoff": "5", "k": "v"}


def test_set_prints_empty_string_variable(spark):
    """Regression (round 12): `SET x` on a hivevar legitimately set
    to the EMPTY STRING printed <undefined> — the falsy value fell
    through an `or` into the hiveconf lookup."""
    from hdp2_5_hive_spark.functions.varsub import VariableContext

    ctx = VariableContext()
    ctx.sql(spark, "SET hivevar:empty=")
    row = ctx.sql(spark, "SET hivevar:empty").collect()[0]
    assert row.value == ""
    row2 = ctx.sql(spark, "SET empty").collect()[0]  # bare-name lookup
    assert row2.value == ""


def test_shell_statement_split_is_quote_aware():
    """Regression: the CLI shell's top-level split(';') broke any
    statement containing a semicolon inside a string literal (the
    SOURCE path was fixed in r11; the shared split_statements now
    covers both)."""
    from hdp2_5_hive_spark.functions.resources import split_statements

    got = split_statements(
        "SELECT ';' AS a; -- trailing comment line\n"
        "SELECT \"x;y\" AS b;\n"
        "-- full-line comment\nSELECT 1"
    )
    assert got == ["SELECT ';' AS a", 'SELECT "x;y" AS b', "SELECT 1"]
