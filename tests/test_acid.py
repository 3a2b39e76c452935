"""ACID DML tests: UPDATE / DELETE / MERGE INTO as copy-on-write
partition-pruned rewrites (UpdateDeleteSemanticAnalyzer.java:50,68-94;
SURVEY §2.2 "UPDATE/DELETE → DataFrame rewrite").
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hdp2_5_hive_spark.sources import acid

SF = "/root/testdata/sf0.001"


def _seed_partitioned(spark, path: str):
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    (
        orders.repartition("o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(path)
    )
    return orders


def _files_by_partition(path: str) -> dict[str, set[str]]:
    out: dict[str, set[str]] = {}
    for d in os.listdir(path):
        if d.startswith("o_orderpriority="):
            out[d] = {
                f for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            }
    return out


def test_delete_prunes_untouched_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    orders = _seed_partitioned(spark, path)
    before = _files_by_partition(path)

    acid.delete_from(
        spark,
        path,
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 200000),
        partition_cols=["o_orderpriority"],
    )

    after = _files_by_partition(path)
    # Only the 1-URGENT partition's files changed.
    for part in before:
        if part == "o_orderpriority=1-URGENT":
            assert before[part] != after[part]
        else:
            assert before[part] == after[part], f"{part} was rewritten"

    back = spark.read.parquet(path)
    expected = orders.filter(
        ~((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 200000))
    ).count()
    assert back.count() == expected
    assert (
        back.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 200000)
        ).count()
        == 0
    )


def test_delete_no_match_zero_io(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed_partitioned(spark, path)
    before = _files_by_partition(path)
    acid.delete_from(
        spark, path, F.col("o_totalprice") < -1, partition_cols=["o_orderpriority"]
    )
    assert _files_by_partition(path) == before


def test_update_patches_only_matches(spark, tmp_path):
    path = str(tmp_path / "t")
    orders = _seed_partitioned(spark, path)
    n_before = orders.count()
    hit = F.col("o_totalprice") > 300000

    acid.update_table(
        spark,
        path,
        {"o_totalprice": F.col("o_totalprice") * 0.9},
        hit,
        partition_cols=["o_orderpriority"],
    )

    back = spark.read.parquet(path)
    assert back.count() == n_before  # updates never change cardinality
    expected_gt = orders.filter(
        hit & (F.col("o_totalprice") * 0.9 > 300000)
    ).count()
    assert back.filter(F.col("o_totalprice") > 300000).count() == expected_gt
    assert back.agg(F.max("o_totalprice")).first()[0] == pytest.approx(
        0.9 * orders.agg(F.max("o_totalprice")).first()[0], rel=1e-12
    )
    # Non-matching rows preserved, matches scaled: totals agree.
    expected_total = (
        orders.filter(~hit).agg(F.sum("o_totalprice")).first()[0]
        + 0.9 * orders.filter(hit).agg(F.sum("o_totalprice")).first()[0]
    )
    got_total = back.agg(F.sum("o_totalprice")).first()[0]
    assert got_total == pytest.approx(expected_total, rel=1e-9)


def test_update_partition_column_rejected(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed_partitioned(spark, path)
    with pytest.raises(ValueError, match="partition column"):
        acid.update_table(
            spark,
            path,
            {"o_orderpriority": F.lit("5-LOW")},
            F.lit(True),
            partition_cols=["o_orderpriority"],
        )


def test_unpartitioned_full_rewrite(spark, tmp_path):
    path = str(tmp_path / "t")
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    nation.write.parquet(path)
    acid.delete_from(spark, path, F.col("n_regionkey") == 0)
    back = spark.read.parquet(path)
    assert back.filter(F.col("n_regionkey") == 0).count() == 0
    assert back.count() == nation.filter(F.col("n_regionkey") != 0).count()


def test_merge_update_insert_delete(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, v double",
    ).write.parquet(path)
    source = spark.createDataFrame(
        [(2, "b2", 99.0), (3, "c", -1.0), (4, "d", 40.0)],
        "id long, name string, v double",
    )

    acid.merge_into(
        spark,
        path,
        source,
        on=["id"],
        matched_update={"name": F.col("s.name"), "v": F.col("s.v")},
        matched_delete=F.col("s.v") < 0,
        not_matched_insert=True,
    )

    got = {
        r.id: (r.name, r.v) for r in spark.read.parquet(path).collect()
    }
    assert got == {
        1: ("a", 10.0),   # untouched
        2: ("b2", 99.0),  # matched update
        4: ("d", 40.0),   # not-matched insert
    }  # id=3 deleted by WHEN MATCHED AND s.v < 0 THEN DELETE


def test_merge_partitioned_prunes(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed_partitioned(spark, path)
    before = _files_by_partition(path)

    # Source touches only 2-HIGH rows (update) + inserts a 2-HIGH row.
    tgt = spark.read.parquet(path)
    keys = (
        tgt.filter(F.col("o_orderpriority") == "2-HIGH")
        .select("o_orderkey")
        .limit(5)
    )
    source = keys.select(
        "o_orderkey", F.lit(123.45).alias("new_price")
    ).union(
        spark.createDataFrame([(999999999, 1.0)], "o_orderkey long, new_price double")
    )
    # Give the insert row full target shape via merge insert of source cols
    source = source.withColumn("o_custkey", F.lit(1).cast("long")).withColumn(
        "o_orderpriority", F.lit("2-HIGH")
    )

    acid.merge_into(
        spark,
        path,
        source,
        on=["o_orderkey"],
        matched_update={"o_totalprice": F.col("s.new_price")},
        not_matched_insert=True,
        partition_cols=["o_orderpriority"],
    )

    after = _files_by_partition(path)
    for part in before:
        if part == "o_orderpriority=2-HIGH":
            assert before[part] != after[part]
        else:
            assert before[part] == after[part], f"{part} was rewritten"

    back = spark.read.parquet(path)
    assert back.filter(F.col("o_totalprice") == 123.45).count() == 5
    assert back.filter(F.col("o_orderkey") == 999999999).count() == 1


def test_merge_cardinality_violation(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 1.0)], "id long, v double").write.parquet(path)
    dup_source = spark.createDataFrame(
        [(1, 2.0), (1, 3.0)], "id long, v double"
    )
    with pytest.raises(ValueError, match="cardinality"):
        acid.merge_into(
            spark,
            path,
            dup_source,
            on=["id"],
            matched_update={"v": F.col("s.v")},
        )


def test_acid_delta_reader_precedence(spark, tmp_path):
    """Native layout merge semantics: latest currentTransaction wins
    per row identity; a later delete beats an earlier update; a
    re-insert AFTER a delete resurrects the row."""
    from pyspark.sql import functions as F

    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(6)],
        "originalTransaction long, bucket int, rowId long, k long, val string",
    )
    ac.write_acid_events(base, d, kind="base", write_id=1)
    upd = base.filter("rowId in (1, 2)").withColumn("val", F.lit("updated"))
    ac.write_acid_events(upd, d, kind="delta", write_id=2, operation=ac.OP_UPDATE)
    # delete row 2 AFTER its update, and row 3
    dele = base.filter("rowId in (2, 3)")
    ac.write_acid_events(dele, d, kind="delta", write_id=3, operation=ac.OP_DELETE)
    # re-insert row 3 after its delete
    res = base.filter("rowId = 3").withColumn("val", F.lit("back"))
    ac.write_acid_events(res, d, kind="delta", write_id=4, operation=ac.OP_INSERT)

    got = {r.k: r.val for r in ac.read_acid_table(spark, d).collect()}
    assert got == {0: "v0", 1: "updated", 3: "back", 4: "v4", 5: "v5"}


def test_acid_delta_reader_base_selection(spark, tmp_path):
    """AcidUtils.getAcidState fidelity: only the HIGHEST base is
    read, and deltas at or below its write id are ignored — an old
    base plus a cleaner-removed delete delta must NOT resurrect the
    deleted row."""
    from pyspark.sql import functions as F

    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(4)],
        "originalTransaction long, bucket int, rowId long, k long, val string",
    )
    # old base has rows 0-3; row 3 was deleted at txn 7 and the
    # compactor folded that into base_10 (which the cleaner left as
    # the only truth); delta_7_7 itself was cleaned away.
    ac.write_acid_events(rows, d, kind="base", write_id=5)
    ac.write_acid_events(
        rows.filter("rowId < 3"), d, kind="base", write_id=10
    )
    # a live delta above the new base updates row 0
    upd = rows.filter("rowId = 0").withColumn("val", F.lit("new"))
    ac.write_acid_events(upd, d, kind="delta", write_id=11, operation=ac.OP_UPDATE)
    # a STALE delta at/below the new base must be ignored
    stale = rows.filter("rowId = 1").withColumn("val", F.lit("stale"))
    ac.write_acid_events(stale, d, kind="delta", write_id=9, operation=ac.OP_UPDATE)

    got = {r.k: r.val for r in ac.read_acid_table(spark, d).collect()}
    assert got == {0: "new", 1: "v1", 2: "v2"}  # no row 3, no 'stale'


def test_acid_major_compaction_folds_and_cleans(spark, tmp_path):
    """Worker/Cleaner analogue (ql/txn/compactor): compaction folds
    base+deltas into one base_<maxWid> holding exactly the surviving
    rows; the folded dirs are removed; the reader's answer is
    IDENTICAL before and after; re-ingest above the new base works."""
    import glob as g

    from pyspark.sql import functions as F

    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(6)],
        "originalTransaction long, bucket int, rowId long, k long, val string",
    )
    ac.write_acid_events(base, d, kind="base", write_id=1)
    upd = base.filter("rowId = 1").withColumn("val", F.lit("updated"))
    ac.write_acid_events(upd, d, kind="delta", write_id=2, operation=ac.OP_UPDATE)
    dele = base.filter("rowId = 3")
    ac.write_acid_events(dele, d, kind="delta", write_id=3, operation=ac.OP_DELETE)

    before = {r.k: r.val for r in ac.read_acid_table(spark, d).collect()}
    new_base = ac.compact_acid_table(spark, d)
    after = {r.k: r.val for r in ac.read_acid_table(spark, d).collect()}
    assert before == after == {0: "v0", 1: "updated", 2: "v2", 4: "v4", 5: "v5"}
    # only the new base remains, named by the max folded write id
    dirs = sorted(x.rsplit("/", 1)[-1] for x in g.glob(f"{d}/*") if "_tmp_" not in x)
    assert dirs == ["base_0000003"] and new_base.endswith("base_0000003")

    # life continues: a delta above the compacted base applies
    more = base.filter("rowId = 0").withColumn("val", F.lit("after"))
    ac.write_acid_events(more, d, kind="delta", write_id=4, operation=ac.OP_UPDATE)
    got = {r.k: r.val for r in ac.read_acid_table(spark, d).collect()}
    assert got[0] == "after" and got[1] == "updated"


def test_acid_compaction_without_clean_keeps_readers_correct(spark, tmp_path):
    """clean=False (Worker done, Cleaner not yet run): stale dirs
    remain on disk but the reader — picking the highest base — gives
    the same answer, the invariant that makes compaction safe to run
    concurrently with readers."""
    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(4)],
        "originalTransaction long, bucket int, rowId long, k long, val string",
    )
    ac.write_acid_events(rows, d, kind="base", write_id=1)
    ac.write_acid_events(
        rows.filter("rowId = 2"), d, kind="delta", write_id=2,
        operation=ac.OP_DELETE,
    )
    ac.compact_acid_table(spark, d, clean=False)
    got = {r.k for r in ac.read_acid_table(spark, d).collect()}
    assert got == {0, 1, 3}


def test_acid_minor_compaction_consolidates_preserving_deletes(spark, tmp_path):
    """Minor compaction: three deltas above the base collapse into
    ONE delta_lo_hi; the base is untouched; delete EVENTS survive in
    the merged delta (they must still mask base rows — the semantics
    that distinguish minor from major); the reader's answer is
    byte-identical pre/post."""
    import glob as g

    from pyspark.sql import functions as F

    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(6)],
        "originalTransaction long, bucket int, rowId long, k long, val string",
    )
    ac.write_acid_events(rows, d, kind="base", write_id=1)
    ac.write_acid_events(
        rows.filter("rowId IN (1, 3)").withColumn("val", F.lit("u")),
        d, kind="delta", write_id=2, operation=ac.OP_UPDATE,
    )
    ac.write_acid_events(
        rows.filter("rowId = 4"), d, kind="delta", write_id=3,
        operation=ac.OP_DELETE,
    )
    ac.write_acid_events(
        rows.filter("rowId = 0").withColumn("val", F.lit("w")),
        d, kind="delta", write_id=4, operation=ac.OP_UPDATE,
    )
    before = {(r.k, r.val) for r in ac.read_acid_table(spark, d).collect()}
    new_delta = ac.compact_acid_minor(spark, d)
    dirs = sorted(
        x.rsplit("/", 1)[-1] for x in g.glob(f"{d}/*") if "_tmp_" not in x
    )
    assert dirs == ["base_0000001", "delta_0000002_0000004"], dirs
    assert new_delta.endswith("delta_0000002_0000004")
    after = {(r.k, r.val) for r in ac.read_acid_table(spark, d).collect()}
    assert after == before == {(0, "w"), (1, "u"), (2, "v2"), (3, "u"), (5, "v5")}
    # the delete event itself is still present in the merged delta.
    # NOTE full-schema read (collect, not a pruned count): ORC's
    # checkAcidSchema makes subset-schema scans of acid-layout files
    # crash — see read_acid_table's prune_barrier docstring.
    ev = spark.read.format("orc").load(
        sorted(set(g.glob(f"{new_delta}/part-*") + g.glob(f"{new_delta}/*.orc")))
    )
    assert sum(r.operation == ac.OP_DELETE for r in ev.collect()) == 1
    # idempotent / single-delta case: nothing to merge, same dir back
    assert ac.compact_acid_minor(spark, d) == new_delta


def test_acid_pruned_scan_hazard_and_barrier(spark, tmp_path):
    """ORC (2.x) unconditionally detects the acid event layout in
    file footers and remaps subset reader schemas by the acid
    offset, so a bare count() over the merged table crashes inside
    the ORC reader (ArrayIndexOutOfBounds wrapped as
    FAILED_READ_FILE). prune_barrier=True must make the identical
    action succeed. If a Spark/ORC upgrade fixes the upstream bug,
    the xfail-style first assertion flags it so the barrier can be
    retired."""
    import pytest as _pytest

    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(4)],
        "originalTransaction long, bucket int, rowId long, k long, val string",
    )
    ac.write_acid_events(rows, d, kind="base", write_id=1)
    ac.write_acid_events(
        rows.filter("rowId = 2"), d, kind="delta", write_id=2,
        operation=ac.OP_DELETE,
    )
    with _pytest.raises(Exception, match="FAILED_READ_FILE"):
        ac.read_acid_table(spark, d).count()
    t = ac.read_acid_table(spark, d, prune_barrier=True)
    assert t.count() == 3
    assert t.select("k").count() == 3
    assert {r.k for r in t.collect()} == {0, 1, 3}


def test_time_travel_below_oldest_base_raises(spark, tmp_path):
    """After compaction folds history into base_N, travel below N
    must raise (the cleaner removed those deltas) — never silently
    return a wrong snapshot; travel at/after N still works."""
    import pytest as _pytest

    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(6)],
        "originalTransaction long, bucket int, rowId long, k long, v string",
    )
    ac.write_acid_events(rows, d, kind="base", write_id=3)
    upd = rows.filter("k % 2 = 0").withColumn("v", F.lit("u"))
    ac.write_acid_events(upd, d, kind="delta", write_id=4, operation=ac.OP_UPDATE)
    with _pytest.raises(ValueError, match="below the oldest base"):
        ac.read_acid_table(spark, d, as_of_write_id=2)
    at3 = {(r.k, r.v) for r in ac.read_acid_table(spark, d, as_of_write_id=3).collect()}
    assert at3 == {(i, f"v{i}") for i in range(6)}
    at4 = {(r.k, r.v) for r in ac.read_acid_table(spark, d, as_of_write_id=4).collect()}
    assert at4 == {(i, "u" if i % 2 == 0 else f"v{i}") for i in range(6)}


def test_time_travel_row_filter_on_spanning_minor_delta(spark, tmp_path):
    """A minor-compacted delta_2_4 spans the travel point: events
    with currentTransaction > as_of inside it must be filtered
    ROW-level, not directory-level."""
    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(4)],
        "originalTransaction long, bucket int, rowId long, k long, v string",
    )
    ac.write_acid_events(rows, d, kind="base", write_id=1)
    for wid, kmod in ((2, 0), (3, 1), (4, 2)):
        upd = rows.filter(f"k = {kmod}").withColumn("v", F.lit(f"u{wid}"))
        ac.write_acid_events(upd, d, kind="delta", write_id=wid, operation=ac.OP_UPDATE)
    ac.compact_acid_minor(spark, d)
    import glob

    names = sorted(p.rsplit("/", 1)[-1] for p in glob.glob(f"{d}/delta_*"))
    assert names == ["delta_0000002_0000004"], names
    at3 = {(r.k, r.v) for r in ac.read_acid_table(spark, d, as_of_write_id=3).collect()}
    assert at3 == {(0, "u2"), (1, "u3"), (2, "v2"), (3, "v3")}


def test_initiator_policy_and_auto_compact(spark, tmp_path):
    """Initiator.java analogue: MAJOR when delta rows cross the
    pct-of-base threshold, MINOR when the delta COUNT crosses the
    num threshold, nothing when healthy — and auto_compact actually
    runs the chosen compaction with contents preserved."""
    import glob

    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(100)],
        "originalTransaction long, bucket int, rowId long, k long, v string",
    )
    ac.write_acid_events(rows, d, kind="base", write_id=1)
    healthy = ac.compaction_needed(d)
    assert healthy["type"] is None and healthy["n_deltas"] == 0

    # one small delta: below both thresholds
    upd = rows.filter("k = 0").withColumn("v", F.lit("u"))
    ac.write_acid_events(upd, d, kind="delta", write_id=2, operation=ac.OP_UPDATE)
    assert ac.compaction_needed(d, delta_threshold=10)["type"] is None

    # many small deltas: MINOR by count (keep rows below the pct bar)
    for wid in range(3, 14):
        u2 = rows.filter("k = 1").withColumn("v", F.lit(f"u{wid}"))
        ac.write_acid_events(u2, d, kind="delta", write_id=wid, operation=ac.OP_UPDATE)
    dec = ac.compaction_needed(d, delta_threshold=10, delta_pct_threshold=10.0)
    assert dec["type"] == "MINOR" and dec["n_deltas"] == 12
    ran = ac.auto_compact(
        spark, d, delta_threshold=10, delta_pct_threshold=10.0
    )
    assert ran == "MINOR"
    names = sorted(p.rsplit("/", 1)[-1] for p in glob.glob(f"{d}/delta_*"))
    assert names == ["delta_0000002_0000013"], names

    # pile on rows: MAJOR by pct threshold
    big = rows.withColumn("v", F.lit("B"))
    ac.write_acid_events(big, d, kind="delta", write_id=14, operation=ac.OP_UPDATE)
    dec2 = ac.compaction_needed(d, delta_threshold=100, delta_pct_threshold=0.1)
    assert dec2["type"] == "MAJOR"
    assert ac.auto_compact(spark, d, delta_threshold=100, delta_pct_threshold=0.1) == "MAJOR"
    final = {(r.k, r.v) for r in ac.read_acid_table(spark, d).collect()}
    assert final == {(i, "B") for i in range(100)}


def test_initiator_decision_ignores_file_layout(spark, tmp_path):
    """The same 100 base rows written as 1 file or as 32 files, each
    with the same 1-row delta, get the same decision and the same
    row counts: the pct threshold compares ORC footer row counts,
    not on-disk bytes, which per-file ORC overhead dominates."""
    import glob

    from hdp2_5_hive_spark.sources import acid as ac

    rows = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(100)],
        "originalTransaction long, bucket int, rowId long, k long, v string",
    )
    upd = rows.filter("k = 0").withColumn("v", F.lit("u")).coalesce(1)
    decisions = []
    for n_files in (1, 32):
        d = str(tmp_path / f"tbl{n_files}")
        base = ac.write_acid_events(rows.repartition(n_files), d, kind="base", write_id=1)
        assert len(glob.glob(f"{base}/part-*")) == n_files
        ac.write_acid_events(upd, d, kind="delta", write_id=2, operation=ac.OP_UPDATE)
        decisions.append(ac.compaction_needed(d))
    one, many = decisions
    expected = {"type": None, "n_deltas": 1, "base_rows": 100, "delta_rows": 1}
    assert one == many == expected, decisions


def test_initiator_empty_base(spark, tmp_path):
    """A base with zero rows makes any delta holding rows MAJOR;
    with no delta rows there is nothing to fold."""
    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(1, 0, 0, 0, "v0")],
        "originalTransaction long, bucket int, rowId long, k long, v string",
    )
    ac.write_acid_events(rows.limit(0), d, kind="base", write_id=1)
    empty = ac.compaction_needed(d)
    assert empty["type"] is None and empty["base_rows"] == 0, empty
    ac.write_acid_events(rows, d, kind="delta", write_id=2)
    dec = ac.compaction_needed(d)
    assert dec["type"] == "MAJOR" and dec["delta_rows"] == 1, dec


def test_row_id_virtual_column_exposed(spark, tmp_path):
    """ROW__ID (VirtualColumn.ROWID) on request: stable per logical
    row across updates — the UPDATE/DELETE/CDC handle."""
    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(5)],
        "originalTransaction long, bucket int, rowId long, k long, v string",
    )
    ac.write_acid_events(rows, d, kind="base", write_id=1)
    upd = rows.filter("k = 2").withColumn("v", F.lit("u"))
    ac.write_acid_events(upd, d, kind="delta", write_id=2, operation=ac.OP_UPDATE)
    got = {
        r.k: (r.ROW__ID.writeid, r.ROW__ID.bucketid, r.ROW__ID.rowid, r.v)
        for r in ac.read_acid_table(spark, d, with_row_id=True).collect()
    }
    assert got[2] == (1, 0, 2, "u")  # identity stable, payload updated
    assert got[0] == (1, 0, 0, "v0")
    plain = ac.read_acid_table(spark, d)
    assert "ROW__ID" not in plain.columns


def test_delete_emptying_a_partition_actually_deletes(spark, tmp_path):
    """Regression: dynamic partition overwrite replaces only the
    partitions PRESENT in the output, so a DELETE matching every row
    of a partition left its directory untouched and the rows
    resurrected on the next read. The emptied-partition case now
    falls back to a full partitioned rewrite."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")],
        "k long, pt string",
    )
    df.write.partitionBy("pt").parquet(path)

    acid.delete_from(
        spark, path, F.col("pt") == "a", partition_cols=["pt"]
    )
    back = spark.read.parquet(path)
    assert back.filter("pt = 'a'").count() == 0  # really gone
    assert {(r.k, r.pt) for r in back.collect()} == {
        (3, "b"), (4, "b"), (5, "c")
    }
    # partition layout preserved by the fallback rewrite
    assert spark.read.parquet(path).filter("pt = 'b'").count() == 2


def test_merge_delete_emptying_a_partition(spark, tmp_path):
    """Same hazard through MERGE's matched_delete branch."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "k long, pt string"
    ).write.partitionBy("pt").parquet(path)
    src = spark.createDataFrame([(1,), (2,)], "k long")
    acid.merge_into(
        spark, path, src, on=["k"],
        matched_delete=F.lit(True), partition_cols=["pt"],
    )
    back = {(r.k, r.pt) for r in spark.read.parquet(path).collect()}
    assert back == {(3, "b")}


def test_delete_hits_null_partition_rows(spark, tmp_path):
    """Pin: DELETE must reach rows in the NULL
    (__HIVE_DEFAULT_PARTITION__) partition. The affected-partition
    filter builds EXPLICIT per-column eqNullSafe predicates — the
    previous struct-isin form happened to work too (struct equality
    is per-field null-safe), but that subtlety is now spelled out
    and pinned rather than relied on implicitly."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, None), (2, None), (3, "b")], "k long, pt string"
    ).write.partitionBy("pt").parquet(path)
    acid.delete_from(
        spark, path, F.col("k") == 1, partition_cols=["pt"]
    )
    back = {(r.k, r.pt) for r in spark.read.parquet(path).collect()}
    assert back == {(2, None), (3, "b")}


def test_emptied_partition_delete_under_dynamic_session_conf(spark, tmp_path):
    """Regression (ADVICE r11): the emptied-partition fallback's full
    rewrite inherited the session's partitionOverwriteMode — with the
    session set to 'dynamic' the overwrite replaced only partitions
    PRESENT in the output, so the drained partition's directory
    survived, resurrecting exactly the bug the fallback fixes. The
    writer now pins static semantics per-write."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b")], "k long, pt string"
    ).write.partitionBy("pt").parquet(path)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        acid.delete_from(
            spark, path, F.col("pt") == "a", partition_cols=["pt"]
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(path)
    assert back.filter("pt = 'a'").count() == 0  # really gone
    assert {(r.k, r.pt) for r in back.collect()} == {(3, "b"), (4, "b")}


def test_compactor_ignores_stale_dirs_no_resurrection(spark, tmp_path):
    """Defect hunt r13: the major compactor folded EVERY base_/delta_
    dir — including stale bases below the highest — not the reader's
    view (highest base + deltas above it). When a folded-away delta
    is missing while an old base survives (partial clean: rmtree
    ignore_errors, crash leftovers), the compactor resurrected rows
    whose delete events lived only in the missing delta. It now folds
    exactly what the reader reads."""
    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(3)],
        "originalTransaction long, bucket int, rowId long, k long, val string",
    )
    ac.write_acid_events(base, d, kind="base", write_id=1)
    dele = base.filter("rowId = 0")
    ac.write_acid_events(dele, d, kind="delta", write_id=2, operation=ac.OP_DELETE)
    ac.compact_acid_table(spark, d, clean=False)
    # partial clean: the folded delta vanishes, the stale base survives
    import shutil

    shutil.rmtree(os.path.join(d, "delta_0000002_0000002"))
    assert os.path.isdir(os.path.join(d, "base_0000001"))
    # reader is already correct (highest base only)
    assert {r.k for r in ac.read_acid_table(spark, d).collect()} == {1, 2}
    # re-compacting this state must NOT resurrect row 0 from base_1
    ac.compact_acid_table(spark, d, clean=True)
    assert {r.k for r in ac.read_acid_table(spark, d).collect()} == {1, 2}
    # and the stale base is gone
    assert not os.path.isdir(os.path.join(d, "base_0000001"))


def test_recompaction_with_nothing_to_fold_is_a_noop(spark, tmp_path):
    """Defect hunt r13: re-compacting a table whose highest dir is
    already the base rewrote the base in place via rmtree + rename —
    a crash between the two left the table with NO base (the deltas
    folded into it were already cleaned: data loss). There is nothing
    to fold in that state, so it is now a no-op returning the
    existing base."""
    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(3)],
        "originalTransaction long, bucket int, rowId long, k long, val string",
    )
    ac.write_acid_events(base, d, kind="base", write_id=1)
    dele = base.filter("rowId = 0")
    ac.write_acid_events(dele, d, kind="delta", write_id=2, operation=ac.OP_DELETE)
    first = ac.compact_acid_table(spark, d, clean=True)
    files_before = sorted(os.listdir(first))
    mtimes = {f: os.path.getmtime(os.path.join(first, f)) for f in files_before}
    second = ac.compact_acid_table(spark, d, clean=True)
    assert second == first
    assert sorted(os.listdir(first)) == files_before
    assert all(
        os.path.getmtime(os.path.join(first, f)) == mtimes[f]
        for f in files_before
    ), "no-op recompaction must not rewrite the base files"
    assert not [
        n for n in os.listdir(d) if n.startswith("_compactor_tmp_")
    ]
    assert {r.k for r in ac.read_acid_table(spark, d).collect()} == {1, 2}


def test_concurrent_major_compactors_do_not_corrupt(spark, tmp_path):
    """Defect hunt r13: two compactors racing on one table shared the
    same _compactor_tmp_ path — interleaved writes corrupted the fold.
    Tmp names are now unique per attempt and a loser whose publish
    target already exists discards its tmp (the folds are identical
    by construction)."""
    import threading

    from hdp2_5_hive_spark.sources import acid as ac

    d = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 0, i, i, f"v{i}") for i in range(20)],
        "originalTransaction long, bucket int, rowId long, k long, val string",
    )
    ac.write_acid_events(base, d, kind="base", write_id=1)
    dele = base.filter("rowId < 5")
    ac.write_acid_events(dele, d, kind="delta", write_id=2, operation=ac.OP_DELETE)

    errs: list[BaseException] = []

    def run():
        try:
            ac.compact_acid_table(spark, d, clean=False)
        except BaseException as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=run) for _ in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs, errs
    assert {r.k for r in ac.read_acid_table(spark, d).collect()} == set(
        range(5, 20)
    )
    assert not [
        n for n in os.listdir(d) if n.startswith("_compactor_tmp_")
    ]
