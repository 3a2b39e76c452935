"""The ``warehouse_dml`` workload: a seeded DML script over an orders slice.

Two tables hold the same logical rows (``o_orderkey`` is the key):

- ``orders_p``: a metastore table partitioned by ``o_year``. Each batch
  creates a staging table (CTAS), overwrites one partition, appends
  and repairs (one op: the repair alone is sub-millisecond), runs UPDATE / DELETE / MERGE INTO through the copy-on-write
  ``sources.acid`` functions, analyzes and reads the table back.
- ``orders_acid``: the native base/delta layout. The base comes from
  ``write_acid_events``; each batch writes the same changes as insert,
  update and delete delta directories, reads the table back with
  ``read_acid_table``, and every second batch calls ``auto_compact``,
  which chooses MINOR, MAJOR or no compaction as a user would get.

A run is ``N_BATCHES`` batches (times the work units of ``--seconds``),
never "until the clock runs out": a faster engine runs the same script
faster, not a longer one.

``Model`` replays the same script in pandas; the benchmark checks every
read-back and the final state of both tables against it.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pandas as pd

COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_year"]
SLICE_MOD = 10  # orders whose key is a multiple of this form the base
N_UPDATE, N_DELETE, N_MERGE_MATCHED, N_MERGE_NEW = 200, 100, 150, 150
N_OVERWRITE, N_APPEND = 100, 100
NEW_KEY_BASE = 1_000_000_000
COMPACT_EVERY = 2
N_BATCHES = 4  # two auto_compact calls, three warm samples of each batch op


def _identity(n: int, write_id: int, first_row: int) -> dict:
    return {
        "originalTransaction": np.full(n, write_id, np.int64),
        "bucket": np.zeros(n, np.int32),
        "rowId": np.arange(first_row, first_row + n, dtype=np.int64),
    }


class Model:
    """The pandas replay: current rows, indexed by ``o_orderkey``, plus
    the ACID row identity of each row."""

    def __init__(self, base: pd.DataFrame) -> None:
        base = base.reset_index(drop=True)
        ident = pd.DataFrame(_identity(len(base), 1, 0))
        self.rows = pd.concat([base[COLS], ident], axis=1).set_index(
            "o_orderkey", drop=False).rename_axis("key")
        self.next_key = NEW_KEY_BASE
        self.next_row = len(base)

    def new_rows(self, rng: np.random.Generator, n: int, write_id: int,
                 years: np.ndarray | None = None, status: str = "N") -> pd.DataFrame:
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        df = pd.DataFrame({
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
            "o_orderstatus": status,
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
            "o_year": (years if years is not None else rng.integers(1995, 2002, n)).astype(np.int32),
        })
        ident = pd.DataFrame(_identity(n, write_id, self.next_row))
        self.next_row += n
        return pd.concat([df, ident], axis=1)

    def add(self, df: pd.DataFrame) -> None:
        self.rows = pd.concat([self.rows, df.set_index("o_orderkey", drop=False).rename_axis("key")])

    def drop(self, keys) -> pd.DataFrame:
        gone = self.rows.loc[keys]
        self.rows = self.rows.drop(index=keys)
        return gone

    def aggregate(self) -> tuple[int, int, int]:
        r = self.rows
        cents = np.round(r["o_totalprice"].to_numpy() * 100).astype(np.int64)
        return len(r), int(r["o_orderkey"].sum()), int(cents.sum())

    def final_rows(self) -> list[tuple]:
        r = self.rows.sort_values("o_orderkey")
        return [
            (int(k), int(c), s, float(p), int(y))
            for k, c, s, p, y in zip(r.o_orderkey, r.o_custkey, r.o_orderstatus,
                                     r.o_totalprice, r.o_year)
        ]


def plan_batch(model: Model, rng: np.random.Generator, b: int, w: int) -> dict:
    """Apply batch ``b`` of the script to the model and return what the
    engine must be asked to do. Write ids ``w``, ``w+1``, ``w+2`` are the
    batch's insert, update and delete deltas; every row identity a
    batch touches is touched once, so delta order inside it is free."""
    year = 2100 + b % 2
    replaced = model.drop(model.rows.index[model.rows.o_year == year])
    over = model.new_rows(rng, N_OVERWRITE, w, np.full(N_OVERWRITE, year))
    model.add(over)
    app = model.new_rows(rng, N_APPEND, w)
    model.add(app)

    live = model.rows.index.to_numpy()
    pick = rng.choice(len(live), N_UPDATE + N_DELETE + N_MERGE_MATCHED, replace=False)
    upd_keys = live[pick[:N_UPDATE]]
    del_keys = live[pick[N_UPDATE:N_UPDATE + N_DELETE]]
    mm_keys = live[pick[N_UPDATE + N_DELETE:]]

    model.rows.loc[upd_keys, "o_totalprice"] = model.rows.loc[upd_keys, "o_totalprice"] + 1.0
    updated = model.rows.loc[upd_keys].copy()
    deleted = model.drop(del_keys)
    stage_new = model.new_rows(rng, N_MERGE_NEW, w)
    stage_old = model.rows.loc[mm_keys, COLS].reset_index(drop=True)
    stage_old["o_totalprice"] = np.round(rng.uniform(1000.0, 500_000.0, len(mm_keys)), 2)
    stage_old["o_orderstatus"] = "M"
    model.rows.loc[mm_keys, "o_totalprice"] = stage_old["o_totalprice"].to_numpy()
    model.rows.loc[mm_keys, "o_orderstatus"] = "M"
    merged = model.rows.loc[mm_keys].copy()
    model.add(stage_new)
    stage = pd.concat([stage_old, stage_new[COLS]], ignore_index=True)
    return {
        "batch": b,
        "write_id": w,
        "overwrite": over[COLS],
        "append": app[COLS],
        "update_keys": [int(k) for k in upd_keys],
        "delete_keys": [int(k) for k in del_keys],
        "stage": stage,
        "acid_insert": pd.concat([over, app, stage_new], ignore_index=True),
        "acid_update": pd.concat([updated, merged], ignore_index=True),
        "acid_delete": pd.concat([replaced, deleted], ignore_index=True),
        "aggregate": model.aggregate(),
        "rows": len(model.rows),
    }


class DmlRun:
    """One run of ``warehouse_dml`` on an already set-up session."""

    def __init__(self, ctx, metastore) -> None:
        from hdp2_5_hive_spark.sources import acid

        self.ctx = ctx
        self.ms = metastore
        self.acid = acid
        self.table_dir = os.path.join(metastore.warehouse_dir, "orders_p")
        self.acid_dir = os.path.join(metastore.warehouse_dir, "orders_acid")
        self.batches = 0
        self.checks: list[tuple[str, object, object]] = []  # (op, got, want)
        self.compactions: list[str | None] = []
        self.delta_dirs_at_read: list[int] = []
        self.files_written = 0
        self.bytes_written = 0
        self.input_bytes = 0

    # -- plumbing -----------------------------------------------------------
    def _sdf(self, pdf: pd.DataFrame, with_identity: bool = False):
        from pyspark.sql import types as T

        fields = [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_year", T.IntegerType()),
        ]
        cols = list(COLS)
        if with_identity:
            fields += [
                T.StructField("originalTransaction", T.LongType()),
                T.StructField("bucket", T.IntegerType()),
                T.StructField("rowId", T.LongType()),
            ]
            cols += ["originalTransaction", "bucket", "rowId"]
        return self.ctx.spark.createDataFrame(pdf[cols].reset_index(drop=True), T.StructType(fields))

    def _op(self, name: str, fn, input_rows: pd.DataFrame | None = None):
        """Run one op, time it, count a raise as a failure. In a traced
        run, also count the files and bytes it wrote."""
        ctx = self.ctx
        ctx.tracer.op_id = f"{name}#{ctx.ledger.attempted + 1}"
        ctx.spark.sparkContext.setJobGroup(f"op{ctx.ledger.attempted + 1}", name)
        wall = time.time()
        t0 = time.perf_counter()
        out, err = None, None
        with ctx.tracer.span("op"):
            try:
                out = fn()
            except Exception as e:
                err = f"{type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t0
        ctx.ledger.record(name, None if err else dt, err)
        if ctx.tracer.enabled and input_rows is not None:
            t = time.perf_counter()
            n, size = _files_since(self.ms.warehouse_dir, wall)
            self.files_written += n
            self.bytes_written += size
            self.input_bytes += int(input_rows[COLS].memory_usage(index=False, deep=True).sum())
            ctx.tracer.overhead_s += time.perf_counter() - t
        return out

    @staticmethod
    def _agg(df) -> tuple[int, int, int]:
        from pyspark.sql import functions as F

        r = df.agg(
            F.count(F.lit(1)),
            F.sum("o_orderkey"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
        ).collect()[0]
        return int(r[0]), int(r[1] or 0), int(r[2] or 0)

    # -- the script ---------------------------------------------------------
    def setup_tables(self, model_base: pd.DataFrame, base_df) -> None:
        acid = self.acid
        self._op("metastore.create_partitioned", lambda: self.ms.create_table(
            base_df, "orders_p", partition_by=["o_year"]), model_base)
        ident = self._sdf(
            pd.concat([model_base[COLS], pd.DataFrame(_identity(len(model_base), 1, 0))], axis=1),
            with_identity=True,
        )
        self._op("acid.write_base", lambda: acid.write_acid_events(
            ident, self.acid_dir, kind="base", write_id=1), model_base)

    def batch(self, plan: dict) -> None:
        from pyspark.sql import functions as F

        acid, ms, spark = self.acid, self.ms, self.ctx.spark
        w, parts = plan["write_id"], ["o_year"]
        stage, over, app = self._sdf(plan["stage"]), self._sdf(plan["overwrite"]), self._sdf(plan["append"])
        self._op("metastore.create_table", lambda: ms.create_table(stage, "stage"), plan["stage"])
        self._op("metastore.insert_overwrite_partitions",
                 lambda: ms.insert_overwrite_partitions(over, "orders_p"), plan["overwrite"])
        self._op("metastore.append_repair", lambda: (ms.create_table(
            app, "orders_p", partition_by=parts, mode="append"), ms.msck_repair("orders_p")),
            plan["append"])
        upd = F.col("o_orderkey").isin(plan["update_keys"])
        self._op("acid.update_table", lambda: acid.update_table(
            spark, self.table_dir, {"o_totalprice": F.col("o_totalprice") + F.lit(1.0)}, upd, parts),
            plan["acid_update"].iloc[:N_UPDATE])
        dele = F.col("o_orderkey").isin(plan["delete_keys"])
        self._op("acid.delete_from", lambda: acid.delete_from(
            spark, self.table_dir, dele, parts), plan["acid_delete"].iloc[-N_DELETE:])
        self._op("acid.merge_into", lambda: acid.merge_into(
            spark, self.table_dir, ms.get_table(spark, "stage"), ["o_orderkey"],
            matched_update={"o_totalprice": F.col("s.o_totalprice"),
                            "o_orderstatus": F.col("s.o_orderstatus")},
            not_matched_insert=True, partition_cols=parts), plan["stage"])
        stats = self._op("metastore.analyze_table", lambda: ms.analyze_table(
            spark, "orders_p", columns=["o_orderkey", "o_totalprice"]))
        # an op that raised is already counted; only a returned value is checked
        if stats is not None:
            self.checks.append(("metastore.analyze_table", stats["numRows"], plan["rows"]))
        got = self._op("metastore.get_table", lambda: self._agg(ms.get_table(spark, "orders_p")))
        if got is not None:
            self.checks.append(("metastore.get_table", got, plan["aggregate"]))

        for name, key, wid, opcode in (
            ("acid.write_insert_delta", "acid_insert", w, acid.OP_INSERT),
            ("acid.write_update_delta", "acid_update", w + 1, acid.OP_UPDATE),
            ("acid.write_delete_delta", "acid_delete", w + 2, acid.OP_DELETE),
        ):
            events = self._sdf(plan[key], with_identity=True)
            self._op(name, lambda e=events, i=wid, o=opcode: acid.write_acid_events(
                e, self.acid_dir, kind="delta", write_id=i, operation=o), plan[key])
        self.delta_dirs_at_read.append(len(glob.glob(os.path.join(self.acid_dir, "delta_*"))))
        got = self._op("acid.read_acid_table",
                       lambda: self._agg(acid.read_acid_table(spark, self.acid_dir)))
        if got is not None:
            self.checks.append(("acid.read_acid_table", got, plan["aggregate"]))
        if plan["batch"] % COMPACT_EVERY == COMPACT_EVERY - 1:
            kind = self._op("acid.auto_compact", lambda: acid.auto_compact(spark, self.acid_dir),
                            plan["acid_update"].iloc[:0])
            self.compactions.append(kind)
        self.batches += 1

    def run(self, base: pd.DataFrame, base_df, n_batches: int, seed: int) -> Model:
        """Create both tables, then ``n_batches`` batches."""
        rng = np.random.default_rng(seed)
        model = Model(base)
        self.setup_tables(model.rows.reset_index(drop=True), base_df)
        for b in range(n_batches):
            self.batch(plan_batch(model, rng, b, 2 + 3 * b))
        return model

    def final_check(self, model: Model) -> None:
        """Compare both tables, and every read-back made during the
        run, with the replay."""
        spark = self.ctx.spark
        want = model.final_rows()
        self.ctx.ledger.attempted += 2  # the two untimed final reads
        for op, read in (
            ("metastore.get_table", lambda: self.ms.get_table(spark, "orders_p")),
            ("acid.read_acid_table", lambda: self.acid.read_acid_table(spark, self.acid_dir)),
        ):
            try:
                got = sorted(
                    (int(r.o_orderkey), int(r.o_custkey), r.o_orderstatus,
                     float(r.o_totalprice), int(r.o_year))
                    for r in read().select(*COLS).collect()
                )
            except Exception as e:
                self.ctx.ledger.fail(op, f"final read raised {type(e).__name__}: {str(e)[:200]}")
                continue
            if got != want:
                diff = sum(a != b for a, b in zip(got, want)) + abs(len(got) - len(want))
                self.ctx.ledger.fail(op, f"final state differs from replay in {diff} rows")
        for op, got, exp in self.checks:
            if got != exp:
                self.ctx.ledger.fail(op, f"read-back {got} != replay {exp}")


def _files_since(root: str, since: float) -> tuple[int, int]:
    """Data files under ``root`` modified at or after ``since``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            if st.st_mtime >= since:
                n += 1
                size += st.st_size
    return n, size


def load_base(data_dir: str) -> pd.DataFrame:
    """The orders slice, read independently of the engine."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pandas()
    t = t[t.o_orderkey % SLICE_MOD == 0]
    return pd.DataFrame({
        "o_orderkey": t.o_orderkey.astype(np.int64).to_numpy(),
        "o_custkey": t.o_custkey.astype(np.int64).to_numpy(),
        "o_orderstatus": t.o_orderstatus.to_numpy(),
        "o_totalprice": t.o_totalprice.to_numpy(),
        "o_year": t.o_orderdate.dt.year.astype(np.int32).to_numpy(),
    })


def base_frame(spark, data_dir: str):
    """The same slice read by the engine, as a user would load it."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(os.path.join(data_dir, "orders.parquet"))
        .filter(F.col("o_orderkey") % SLICE_MOD == 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                F.year("o_orderdate").cast("int").alias("o_year"))
    )
