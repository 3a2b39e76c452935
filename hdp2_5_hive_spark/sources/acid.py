"""ACID DML surface: UPDATE / DELETE / MERGE INTO as copy-on-write
rewrites over parquet table directories.

Reference: ``ql/parse/UpdateDeleteSemanticAnalyzer.java:50,68-94`` —
Hive rewrites UPDATE/DELETE into an INSERT of the affected buckets
(delta files + compactor: ``ql/io/AcidUtils.java``,
``orc/OrcRecordUpdater.java``, ``ql/txn/compactor/Worker.java``).
Spark-first mapping (SURVEY §2.2/§4 "UPDATE/DELETE → DataFrame
rewrite"): the same rewrite expressed declaratively — read → patch /
filter → dynamic-partition INSERT OVERWRITE of ONLY the partitions
that contain matched rows. Hive's delta+compact is merge-on-read;
this is copy-on-write — same end state, one step, no reader-side
merge cost.

Scale notes (100 TB):
- Affected-partition discovery pushes ``condition`` down to the
  parquet scan and reads ONLY the partition columns (column-pruned,
  partition values come from directory metadata) — the discovery
  pass touches no data columns.
- The rewrite reads back just the affected partitions (an IN filter
  on partition values → partition pruning at the scan) and replaces
  them via ``partitionOverwriteMode=dynamic``; untouched partitions
  are never read or written. A 100 TB table with a 10 GB hot
  partition pays 10 GB, not 100 TB.
- An unpartitioned table degrades to a full rewrite — exactly Hive's
  cost for a non-partitioned table compaction; callers get a loud
  warning in the docstring, not silent quadratic behavior.
- Updating a partition column is rejected, as in Hive
  (``UpdateDeleteSemanticAnalyzer`` "Updating values of partition
  columns is not supported").
- MERGE cardinality: multiple source matches for one target row is
  an error (Hive/SQL-standard semantics) — detected with one extra
  count over the join keys, gated behind ``check_cardinality``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .writers import insert_overwrite_dynamic_partitions


def _read(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _affected_partition_filter(
    df: DataFrame, condition: Column, partition_cols: Sequence[str]
) -> tuple[Column | None, list]:
    """Build a filter over the partition values that contain rows
    matching ``condition``, plus the collected value rows. The
    discovery scan is pruned to the partition columns only; the
    returned filter prunes the rewrite scan to those partitions.
    Comparisons are EXPLICITLY null-safe per column (eqNullSafe),
    so reaching the __HIVE_DEFAULT_PARTITION__ (null-valued)
    partition never depends on the reader remembering that struct
    equality happens to be per-field null-safe. Returns (None, [])
    when nothing matches."""
    vals = (
        df.filter(condition)
        .select(*partition_cols)
        .distinct()
        .collect()  # bounded by the partition count, never by rows
    )
    if not vals:
        return None, []
    filt = None
    for r in vals:
        pred = None
        for c in partition_cols:
            eq = F.col(c).eqNullSafe(F.lit(r[c]))
            pred = eq if pred is None else pred & eq
        filt = pred if filt is None else filt | pred
    return filt, vals


def delete_from(
    spark: SparkSession,
    path: str,
    condition: Column,
    partition_cols: Sequence[str] = (),
) -> None:
    """``DELETE FROM t WHERE cond``
    (``UpdateDeleteSemanticAnalyzer.java:68`` delete branch: Hive
    rewrites to ``INSERT OVERWRITE ... SELECT ROW__ID ... WHERE``
    over affected buckets). Copy-on-write: rewrite the affected
    partitions keeping only non-matching rows."""
    df = _read(spark, path)
    if not partition_cols:
        kept = df.filter(~F.coalesce(condition, F.lit(False)))
        _full_rewrite(spark, path, kept)
        return
    part_filter, vals = _affected_partition_filter(
        df, condition, partition_cols
    )
    if part_filter is None:
        return  # nothing matched; zero I/O
    kept = df.filter(part_filter).filter(~F.coalesce(condition, F.lit(False)))
    # Dynamic partition overwrite replaces only partitions PRESENT in
    # the output: a partition whose every row matched the condition
    # is absent from `kept`, its directory would survive untouched,
    # and the "deleted" rows would still be read back. Detect the
    # emptied partitions and fall back to a full partitioned rewrite
    # (correctness over the pruned fast path; emptying a whole
    # partition by DELETE is the rare case — metastore.drop_partition
    # is the cheap way to do it deliberately).
    kept_parts = {
        tuple(r) for r in
        kept.select(*partition_cols).distinct().collect()
    }
    if {tuple(r) for r in vals} - kept_parts:
        _full_rewrite(
            spark, path,
            df.filter(~F.coalesce(condition, F.lit(False))),
            partition_cols,
        )
        return
    insert_overwrite_dynamic_partitions(kept, path, partition_cols)


def update_table(
    spark: SparkSession,
    path: str,
    assignments: Mapping[str, Column],
    condition: Column,
    partition_cols: Sequence[str] = (),
) -> None:
    """``UPDATE t SET c = expr, ... WHERE cond``
    (``UpdateDeleteSemanticAnalyzer.java:50`` update branch). Rows
    matching ``condition`` get each assignment applied; all other
    rows — including non-matching rows in affected partitions — are
    preserved byte-for-byte."""
    for c in assignments:
        if c in partition_cols:
            raise ValueError(
                f"Updating partition column {c!r} is not supported "
                "(Hive UpdateDeleteSemanticAnalyzer parity)"
            )
    df = _read(spark, path)
    cond = F.coalesce(condition, F.lit(False))

    def patch(d: DataFrame) -> DataFrame:
        return d.select(
            *[
                F.when(cond, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in d.columns
            ]
        )

    if not partition_cols:
        _full_rewrite(spark, path, patch(df))
        return
    part_filter, _vals = _affected_partition_filter(
        df, condition, partition_cols
    )
    if part_filter is None:
        return
    insert_overwrite_dynamic_partitions(
        patch(df.filter(part_filter)), path, partition_cols
    )


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: Sequence[str],
    *,
    matched_update: Mapping[str, Column] | None = None,
    matched_delete: Column | None = None,
    not_matched_insert: bool = False,
    partition_cols: Sequence[str] = (),
    check_cardinality: bool = True,
) -> None:
    """``MERGE INTO target USING source ON keys WHEN MATCHED [AND
    cond] THEN UPDATE/DELETE WHEN NOT MATCHED THEN INSERT`` — the
    upsert surface Hive added on top of the same ACID rewrite
    machinery (``parse/MergeSemanticAnalyzer``; HDP 2.5's Hive 1.2
    predates MERGE, users emulated it with this exact
    update+delete+insert decomposition).

    Plan: ONE full-outer join between the affected slice of the
    target and the source routes every row to exactly one of
    {keep, update, delete, insert}. The join shuffles on the merge
    keys; with a dimension-sized source Catalyst/AQE broadcasts it
    and the target never shuffles. ``matched_delete`` wins over
    ``matched_update`` when both are given and the delete condition
    holds (WHEN MATCHED AND cond THEN DELETE first, as in Hive's
    clause order).

    ``matched_update`` values and ``matched_delete`` are Column
    expressions over the joined frame; reference the two sides as
    ``F.col("t.<col>")`` / ``F.col("s.<col>")`` (the Delta-style
    alias convention).
    """
    for c in (matched_update or {}):
        if c in partition_cols:
            raise ValueError(
                f"Updating partition column {c!r} is not supported"
            )
    tgt = _read(spark, path)
    tgt_cols = tgt.columns

    if check_cardinality:
        dup = (
            source.groupBy(*on)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "MERGE cardinality violation: multiple source rows "
                f"share a key on {list(on)} (SQL-standard/Hive error)"
            )

    if partition_cols:
        # Partitions needing a rewrite: those holding a matched target
        # row, plus those receiving an insert (their resident rows
        # must be carried into the dynamic overwrite).
        matched_parts = (
            tgt.join(source.select(*on), on=list(on), how="left_semi")
            .select(*partition_cols)
            .distinct()
        )
        if not_matched_insert:
            insert_parts = (
                source.join(tgt.select(*on), on=list(on), how="left_anti")
                .select(*partition_cols)
                .distinct()
            )
            matched_parts = matched_parts.union(insert_parts).distinct()
        vals = matched_parts.collect()
        if not vals:
            return
        # explicit per-column eqNullSafe combos (reaches the
        # __HIVE_DEFAULT_PARTITION__ rows without leaning on struct
        # equality's implicit null-safety)
        part_filter = None
        for r in vals:
            pred = None
            for c in partition_cols:
                eq = F.col(c).eqNullSafe(F.lit(r[c]))
                pred = eq if pred is None else pred & eq
            part_filter = pred if part_filter is None else part_filter | pred
        full_tgt = tgt
        tgt = tgt.filter(part_filter)

    t = tgt.withColumn("_t", F.lit(True)).alias("t")
    s = source.withColumn("_s", F.lit(True)).alias("s")
    cond = None
    for k in on:
        eq = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = eq if cond is None else (cond & eq)
    joined = t.join(
        s, on=cond, how="full_outer" if not_matched_insert else "left_outer"
    )
    is_matched = F.col("t._t").isNotNull() & F.col("s._s").isNotNull()
    is_insert = F.col("t._t").isNull()

    if matched_delete is not None:
        joined = joined.filter(
            ~(is_matched & F.coalesce(matched_delete, F.lit(False)))
        )

    def out(c: str) -> Column:
        col = F.col(f"t.{c}")
        if matched_update and c in matched_update:
            col = F.when(is_matched, matched_update[c]).otherwise(col)
        if not_matched_insert and c in source.columns:
            col = F.when(is_insert, F.col(f"s.{c}")).otherwise(col)
        return col.alias(c)

    result = joined.select(*[out(c) for c in tgt_cols])

    if partition_cols:
        # Same emptied-partition hazard as delete_from: a
        # matched_delete that drains a whole partition leaves it
        # absent from `result`, and dynamic overwrite would keep its
        # directory (the deleted rows resurrect). Fall back to a full
        # partitioned rewrite carrying the untouched partitions.
        if matched_delete is not None:
            result_parts = {
                tuple(r) for r in
                result.select(*partition_cols).distinct().collect()
            }
            if {tuple(r) for r in vals} - result_parts:
                untouched = full_tgt.filter(~F.coalesce(
                    part_filter, F.lit(False)
                ))
                _full_rewrite(
                    spark, path,
                    untouched.unionByName(result), partition_cols,
                )
                return
        insert_overwrite_dynamic_partitions(result, path, partition_cols)
    else:
        _full_rewrite(spark, path, result)


def _full_rewrite(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition_cols: Sequence[str] = (),
) -> None:
    """Full-table copy-on-write: stage to a sibling dir, then
    overwrite the table path from the staged copy (can't stream a
    self-read into an overwrite of the same path). With
    ``partition_cols`` the rewrite preserves the partition layout.

    The staged copy is removed ONLY after the final overwrite
    succeeds: the overwrite may have already truncated the table
    dir when it fails (disk full, interrupted job), at which point
    the staged dir holds the only intact copy — an unconditional
    finally-rmtree would destroy it (writers.compact_files keeps its
    tmp until the final write lands for exactly this reason)."""
    import shutil
    import tempfile

    staged = tempfile.mkdtemp(prefix="acid_stage_")
    try:
        df.write.mode("overwrite").parquet(staged)
    except BaseException:
        # staging failed — the table itself is untouched, so the
        # partial staging dir carries nothing worth keeping
        shutil.rmtree(staged, ignore_errors=True)
        raise
    back = spark.read.parquet(staged)
    w = back.write.mode("overwrite")
    if partition_cols:
        # ADVICE r11: a caller who set the session-wide
        # spark.sql.sources.partitionOverwriteMode=dynamic would make
        # this overwrite replace only partitions PRESENT in the
        # output — a drained partition's directory would survive,
        # resurrecting exactly the emptied-partition bug this full
        # rewrite exists to fix. Pin static semantics on the writer
        # (the per-write option overrides the session conf).
        w = w.option("partitionOverwriteMode", "static")
        w = w.partitionBy(*partition_cols)
    try:
        w.parquet(path)
    except BaseException as exc:
        raise RuntimeError(
            f"acid rewrite of {path!r} failed mid-overwrite; the "
            f"staged full copy is preserved at {staged!r} — restore "
            "it manually before retrying"
        ) from exc
    shutil.rmtree(staged, ignore_errors=True)


# ---------------------------------------------------------------------------
# Native Hive ACID base/delta LAYOUT reader (merge-on-read)
# ---------------------------------------------------------------------------
# The DML surface above is copy-on-write. A legacy HDP 2.5 warehouse,
# however, presents transactional tables in Hive's NATIVE layout
# (``ql/io/AcidUtils.java`` getAcidState; ``orc/OrcRecordUpdater.java``
# record schema): ``base_<writeId>/`` plus ``delta_<min>_<max>/``
# directories of ORC files whose rows are the 6-field ACID struct
#   (operation int, originalTransaction long, bucket int,
#    rowId long, currentTransaction long, row struct<...>)
# with operation 0=insert, 1=update, 2=delete. The reader below
# resolves that layout so such tables can be read (and migrated to
# parquet) without Hive: for each identity key
# (originalTransaction, bucket, rowId), the event with the highest
# currentTransaction wins; a winning delete drops the row.
#
# Scale shape: one ORC scan of base+deltas (Spark's reader, file-
# parallel), ONE shuffle on the row identity key for the window
# argmax (WindowGroupLimit pushes rank below the shuffle), map-side
# nothing else. Deltas are usually tiny next to base — AQE broadcasts
# nothing here but the shuffle moves only (identity, txn, row) tuples.

OP_INSERT, OP_UPDATE, OP_DELETE = 0, 1, 2

_ACID_COLS = [
    "operation",
    "originalTransaction",
    "bucket",
    "rowId",
    "currentTransaction",
]


def write_acid_events(
    df: DataFrame,
    table_dir: str,
    *,
    kind: str,
    write_id: int,
    operation: int = OP_INSERT,
    min_write_id: int | None = None,
) -> str:
    """Write one base_/delta_ directory in the native layout from a
    DataFrame of ROW payloads plus identity columns
    (originalTransaction, bucket, rowId). Test/migration fixture
    writer — real warehouses already have these files."""
    from pyspark.sql import functions as F

    if kind == "base":
        sub = f"base_{write_id:07d}"
    elif kind == "delta":
        lo = write_id if min_write_id is None else min_write_id
        sub = f"delta_{lo:07d}_{write_id:07d}"
    else:
        raise ValueError(f"kind must be base|delta, got {kind!r}")
    payload = [c for c in df.columns if c not in _ACID_COLS and c != "row"]
    out = df.select(
        F.lit(operation).cast("int").alias("operation"),
        F.col("originalTransaction").cast("long"),
        F.col("bucket").cast("int"),
        F.col("rowId").cast("long"),
        F.lit(write_id).cast("long").alias("currentTransaction"),
        F.struct(*[F.col(c) for c in payload]).alias("row"),
    )
    path = f"{table_dir}/{sub}"
    out.write.mode("overwrite").orc(path)
    return path


def _event_files(dirs) -> list[str]:
    """The ORC event files under the base_/delta_ directories
    ``dirs``: every ``*.orc`` or ``part-*`` file, sorted, each once
    (Spark's ``part-*.orc`` names match both patterns)."""
    import glob as _glob

    return sorted(
        {f for d in dirs for f in _glob.glob(f"{d}/*.orc") + _glob.glob(f"{d}/part-*")}
    )


def read_acid_table(
    spark: SparkSession,
    table_dir: str,
    *,
    prune_barrier: bool = False,
    as_of_write_id: int | None = None,
    with_row_id: bool = False,
) -> DataFrame:
    """Merge-on-read over the native base/delta layout: latest
    ``currentTransaction`` per (originalTransaction, bucket, rowId)
    wins; winning deletes drop. Returns the payload columns only —
    the logical table Hive's reader (OrcInputFormat + AcidUtils
    merger) would present.

    ``prune_barrier``: the ORC library UNCONDITIONALLY detects the
    acid event layout in file footers (``orc/impl/SchemaEvolution.
    checkAcidSchema`` — field list operation..row) and remaps reader
    columns by an acid offset; any Spark scan whose required schema
    is a strict SUBSET of the six event columns then crashes with
    ArrayIndexOutOfBounds (verified on ORC 2.2/Spark 4.1: plain and
    non-vectorized readers alike). Full-schema scans are safe, and
    every plan that keeps any payload column is full-schema — but a
    bare ``.count()`` / metadata-only action prunes everything and
    dies inside the ORC reader. ``prune_barrier=True`` inserts a
    lazy ``localCheckpoint`` between the merge and the consumer, so
    downstream pruning can never reach the file scan. Costs one
    materialization of the merged table (MEMORY_AND_DISK) — the
    right trade for migration-shaped reads (read once, write out),
    wrong for a single wide scan that already keeps payload columns,
    hence opt-in.

    Base selection follows ``AcidUtils.getAcidState``: only the
    HIGHEST base_<writeId> is read (a compacted base already folded
    the older events — and the cleaner may have removed the delta
    files those events came from, so unioning an old base would
    resurrect deleted rows), plus deltas whose write-id range lies
    ABOVE that base. Assumes all present write ids are committed
    (the compactor/cleaner's job in a live warehouse; for a
    decommissioned-warehouse migration read, everything on disk is
    the final state).

    ``as_of_write_id``: TIME TRAVEL — present the table as of that
    write id: only bases ≤ the id are eligible, only deltas whose
    range STARTS ≤ the id are read, and (for minor-compacted
    delta_lo_hi spanning the id) events with
    ``currentTransaction > id`` are filtered row-level. Travel below
    the oldest surviving base is impossible by construction — the
    cleaner already removed the deltas folded into it — and raises
    instead of silently returning the wrong snapshot (same contract
    as Hive/Iceberg snapshot expiry)."""
    import glob as _glob

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    bases, deltas = [], []
    for d in sorted(_glob.glob(f"{table_dir}/*")):
        name = d.rsplit("/", 1)[-1]
        if name.startswith("base_"):
            bases.append((int(name.split("_")[1]), d))
        elif name.startswith("delta_"):
            parts = name.split("_")
            deltas.append((int(parts[1]), int(parts[2]), d))
    if not bases and not deltas:
        raise FileNotFoundError(f"no base_/delta_ dirs under {table_dir}")
    if as_of_write_id is not None:
        eligible = [b for b in bases if b[0] <= as_of_write_id]
        if bases and not eligible:
            raise ValueError(
                f"time travel to write id {as_of_write_id} is below the "
                f"oldest base (base_{min(b[0] for b in bases)}): the "
                "cleaner already folded and removed that history"
            )
        bases = eligible
        deltas = [d for d in deltas if d[0] <= as_of_write_id]
    base_id = max(b[0] for b in bases) if bases else -1
    dirs = [d for wid, d in bases if wid == base_id] + [
        d for lo, hi, d in sorted(deltas) if lo > base_id
    ]
    # Spark's datasource path resolution special-cases base_/delta_
    # directory NAMES (native Hive-ACID detection) and refuses them;
    # enumerating the ORC part files sidesteps that while reading
    # the identical bytes.
    events = spark.read.format("orc").load(_event_files(dirs))
    if as_of_write_id is not None:
        events = events.filter(
            F.col("currentTransaction") <= as_of_write_id
        )
    w = W.partitionBy("originalTransaction", "bucket", "rowId").orderBy(
        F.desc("currentTransaction"), F.desc("operation")
    )
    latest = (
        events.select("*", F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") == 1)
        .filter(F.col("operation") != OP_DELETE)
    )
    if with_row_id:
        # Hive's ROW__ID virtual column (VirtualColumn.ROWID —
        # struct<writeid, bucketid, rowid>): the handle UPDATE/
        # DELETE statements and CDC readers key on.
        out = latest.select(
            F.struct(
                F.col("originalTransaction").alias("writeid"),
                F.col("bucket").alias("bucketid"),
                F.col("rowId").alias("rowid"),
            ).alias("ROW__ID"),
            "row.*",
        )
    else:
        out = latest.select("row.*")
    return out.localCheckpoint(eager=False) if prune_barrier else out


def compact_acid_table(
    spark: SparkSession, table_dir: str, *, clean: bool = True
) -> str:
    """MAJOR compaction (reference ``ql/txn/compactor/Worker.java``
    runs CompactorMR; ``Cleaner.java`` removes the folded files):
    fold the current base_/delta_ state into ONE new
    ``base_<maxWriteId>`` whose events are the SURVIVING rows only
    (latest-txn-wins applied, deletes dropped — exactly what
    CompactorMR's merge emits), then optionally remove the folded
    base/delta directories. Readers are correct at every point:
    before the clean, read_acid_table picks the highest base and
    ignores the stale dirs; after it, only the new base remains.

    Returns the new base directory path. Scale: one merge-on-read
    pass (a single identity-keyed window shuffle) + one ORC write —
    the same cost Hive's compactor job pays.

    Defect-hunt r13 invariants:
    - folds exactly the READER's view — the highest base plus deltas
      above it. Folding every dir on disk (the old behavior) could
      RESURRECT deleted rows when a folded-away delta was missing
      while a stale lower base survived (partial clean/crash
      leftovers): the delete event lived only in the missing delta.
    - when nothing sits above the highest base, compaction is a
      NO-OP returning it: the in-place rewrite (rmtree + rename) had
      a crash window that left the table with no base at all, and the
      history folded into it was already cleaned — permanent loss.
    - the tmp name is unique per attempt and a racing compactor whose
      publish target appeared concurrently discards its own tmp (the
      folds are identical by construction), so two compactors can
      never interleave writes into one tmp directory."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    bases, deltas = [], []
    for d in sorted(_glob.glob(f"{table_dir}/*")):
        name = d.rsplit("/", 1)[-1]
        if name.startswith("base_"):
            bases.append((int(name.split("_")[1]), d))
        elif name.startswith("delta_"):
            parts = name.split("_")
            deltas.append((int(parts[1]), int(parts[2]), d))
    if not bases and not deltas:
        raise FileNotFoundError(f"no base_/delta_ dirs under {table_dir}")
    base_id = max(b[0] for b in bases) if bases else -1
    live = [d for wid, d in bases if wid == base_id] + [
        d for lo, hi, d in sorted(deltas) if lo > base_id
    ]
    stale = [d for _, d in bases if d not in live] + [
        d for _, _, d in deltas if d not in live
    ]
    max_wid = max(
        [base_id] + [hi for lo, hi, _ in deltas if lo > base_id]
    )
    if max_wid == base_id and bases:
        # nothing above the base: no fold to do — just sweep stale
        # dirs the reader ignores anyway
        current = next(d for wid, d in bases if wid == base_id)
        if clean:
            for d in stale:
                _shutil.rmtree(d, ignore_errors=True)
        return current

    events = spark.read.format("orc").load(_event_files(live))
    w = W.partitionBy("originalTransaction", "bucket", "rowId").orderBy(
        F.desc("currentTransaction"), F.desc("operation")
    )
    survivors = (
        events.select("*", F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") == 1)
        .filter(F.col("operation") != OP_DELETE)
        .drop("_rn")
        # compacted events are re-stamped as the folded write id, the
        # row identity (originalTransaction, bucket, rowId) unchanged
        .withColumn("operation", F.lit(OP_INSERT).cast("int"))
        .withColumn("currentTransaction", F.lit(max_wid).cast("long"))
    )
    new_base = f"{table_dir}/base_{max_wid:07d}"
    tmp = (
        f"{table_dir}/_compactor_tmp_base_{max_wid:07d}"
        f"_{_uuid.uuid4().hex[:12]}"
    )
    survivors.write.mode("overwrite").orc(tmp)
    try:
        _os.rename(tmp, new_base)
    except OSError:
        if not _os.path.isdir(new_base):
            raise
        # a racing compactor published the identical fold first —
        # ours is redundant, not conflicting
        _shutil.rmtree(tmp, ignore_errors=True)
    if clean:
        for d in stale + [d for d in live if d != new_base]:
            _shutil.rmtree(d, ignore_errors=True)
    return new_base


def compact_acid_minor(
    spark: SparkSession, table_dir: str, *, clean: bool = True
) -> str:
    """MINOR compaction (reference ``ql/txn/compactor/CompactorMR.
    java`` minor mode): consolidate the delta_* directories ABOVE
    the current base into ONE ``delta_<lo>_<hi>`` directory, WITHOUT
    touching the base and WITHOUT dropping delete events — unlike
    major compaction, the merged delta must still mask base rows, so
    every event survives verbatim (Hive's minor compactor merges the
    sorted event streams; it never applies them). This is the cheap
    frequent compaction that keeps small-delta file counts bounded
    between major runs.

    Returns the new delta directory path (or the single existing
    one if there is nothing to merge). Scale: one union-read of the
    delta events + one ORC write — no shuffle at all (events pass
    through partition-wise; latest-wins stays the READER's job)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    base_id = -1
    deltas = []
    for d in sorted(_glob.glob(f"{table_dir}/*")):
        name = d.rsplit("/", 1)[-1]
        if name.startswith("base_"):
            base_id = max(base_id, int(name.split("_")[1]))
        elif name.startswith("delta_"):
            parts = name.split("_")
            deltas.append((int(parts[1]), int(parts[2]), d))
    live = sorted((lo, hi, d) for lo, hi, d in deltas if lo > base_id)
    if not live:
        raise FileNotFoundError(
            f"no deltas above base_{base_id} under {table_dir}"
        )
    if len(live) == 1:
        return live[0][2]
    lo = min(l for l, _, _ in live)
    hi = max(h for _, h, _ in live)
    events = spark.read.format("orc").load(_event_files(d for _, _, d in live))
    new_delta = f"{table_dir}/delta_{lo:07d}_{hi:07d}"
    if any(d == new_delta for _, _, d in live):
        # only possible with OVERLAPPING delta ranges (one live delta
        # already spans [lo, hi] yet others exist inside it) — a
        # corrupt layout; merging in place would destroy events
        raise ValueError(
            f"overlapping delta ranges under {table_dir}: "
            f"{new_delta} already exists alongside other live deltas"
        )
    import uuid as _uuid

    # unique per attempt: two racing minor compactors sharing one tmp
    # path would interleave writes (same fix as the major compactor)
    tmp = (
        f"{table_dir}/_compactor_tmp_delta_{lo:07d}_{hi:07d}"
        f"_{_uuid.uuid4().hex[:12]}"
    )
    events.write.mode("overwrite").orc(tmp)
    # PUBLISH FIRST, clean after (the major compactor's order): a
    # crash between an early cleanup and the rename would leave the
    # merged events only under the _compactor_tmp_ prefix the reader
    # ignores — the table silently reverts to base-only state. A
    # crash after the rename leaves the old deltas as duplicates,
    # which the reader's per-identity row_number dedups harmlessly.
    try:
        _os.rename(tmp, new_delta)
    except OSError:
        if not _os.path.isdir(new_delta):
            raise
        # a racing minor compactor published the identical merge
        _shutil.rmtree(tmp, ignore_errors=True)
    for _, _, d in live:
        if clean:
            _shutil.rmtree(d, ignore_errors=True)
    return new_delta


def compaction_needed(
    table_dir: str,
    *,
    delta_threshold: int = 10,
    delta_pct_threshold: float = 0.1,
) -> dict:
    """The Initiator's decision (reference
    ``ql/txn/compactor/Initiator.java`` — checkForCompaction):
    MAJOR when delta size reaches ``delta_pct_threshold`` of base
    size (hive.compactor.delta.pct.threshold, default 0.1), MINOR
    when the delta-directory COUNT reaches ``delta_threshold``
    (hive.compactor.delta.num.threshold, default 10). Returns
    {"type": "MAJOR"|"MINOR"|None, "n_deltas", "base_rows",
    "delta_rows"}.

    Size is counted in ROWS, read from the ORC file footers
    (``pyarrow.orc.ORCFile.nrows``) — only footers are opened, no
    data is read. On-disk bytes would not do: at small sizes they
    are mostly per-file ORC overhead (footer, metadata, stripe
    index), so the same rows written as 1 file or as 32 files (the
    writer's partition count, which follows the core count) would
    get different decisions. Each event is one full row, so the row
    ratio is the share of the table's events held in deltas — what
    Hive's byte ratio approximates once files are large.

    A base with zero rows makes any delta that holds rows MAJOR;
    deltas with no rows are never MAJOR."""
    import glob as _glob

    from pyarrow import orc as _orc

    def _rows(dirs):
        return sum(_orc.ORCFile(f).nrows for f in _event_files(dirs))

    bases, deltas = [], []
    for d in sorted(_glob.glob(f"{table_dir}/*")):
        name = d.rsplit("/", 1)[-1]
        if name.startswith("base_"):
            bases.append(d)
        elif name.startswith("delta_"):
            deltas.append(d)
    base_rows = _rows(bases)
    delta_rows = _rows(deltas)
    n_deltas = len(deltas)
    ctype = None
    if bases and delta_rows > 0 and delta_rows >= delta_pct_threshold * base_rows:
        ctype = "MAJOR"
    elif n_deltas >= delta_threshold:
        ctype = "MINOR"
    return {
        "type": ctype,
        "n_deltas": n_deltas,
        "base_rows": base_rows,
        "delta_rows": delta_rows,
    }


def auto_compact(spark: SparkSession, table_dir: str, **thresholds) -> str | None:
    """Initiator → Worker in one call: inspect, then run the chosen
    compaction (or nothing). Returns the compaction type run."""
    decision = compaction_needed(table_dir, **thresholds)
    if decision["type"] == "MAJOR":
        compact_acid_table(spark, table_dir)
    elif decision["type"] == "MINOR":
        compact_acid_minor(spark, table_dir)
    return decision["type"]
