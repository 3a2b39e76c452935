"""The read workloads: ``olap_sql`` and ``pipeline_ops``.

Each op is one registered query: ``fn(spark, sf_dir)`` builds the plan
and ``toArrow()`` runs it and brings the rows to the caller as Arrow
batches, which is what a caller of the engine pays per query. The
first pass calls every op once (the cold call, whose rows are checked
against the DuckDB oracle); warm-up passes and warm passes follow, a
fixed number of each, in seeded orders.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

# bench.py HEADLINE entries that are not OLAP queries.
HEADLINE_EXTENSIONS = ("dedup_exact", "text_profile", "ann_cosine_topk", "dedup_near_minhash")
PIPELINE_OPS = [
    "dedup_embedding_cosine",
    "retrieval_bm25_eval",
    "graph_pagerank_hosts",
]
# Warm-up passes per run, whose latencies are not kept, and warm passes
# per work unit, whose medians are. Called over and over in one session,
# retrieval_bm25_eval keeps getting faster for about ten calls (2.1 s on
# the second, 1.1 s on the eighth); the median of four warm calls leaves
# out the slowest. The warm count is even, so the warm passes balance
# which op precedes which (see ``pass_orders``).
PASSES = {"pipeline_ops": (1, 4), "olap_sql": (1, 1)}


def pass_orders(names: list[str], n: int, rng) -> list[list[str]]:
    """The op order of ``n`` passes. An op's time depends on the op
    before it (``retrieval_bm25_eval`` took 1.4 s after itself and
    1.6-2.3 s after ``graph_pagerank_hosts``), so with a prime number
    p of ops the passes step through a seeded relabelling of them by
    1, 2, ..., p - 1 in turn (three ops: abc, acb, abc, acb, ...).
    Over every p - 1 passes, counting the step from one pass into the
    next, each op follows every other op exactly once and never
    itself, whatever the seed. Otherwise each pass is a seeded
    shuffle."""
    ops = list(names)
    rng.shuffle(ops)
    p = len(ops)
    if p > 2 and all(p % d for d in range(2, p)):
        steps = [1 + j % (p - 1) for j in range(n)]
        return [[ops[i * k % p] for i in range(p)] for k in steps]
    out = []
    for _ in range(n):
        rng.shuffle(ops)
        out.append(list(ops))
    return out


def olap_sql_ops(queries: dict) -> list[str]:
    """The OLAP chain of ``bench.py`` ``HEADLINE`` (its pipeline
    extensions left out), then every registered ``hiveql`` query."""
    import bench

    return ([n for n in bench.HEADLINE if n not in HEADLINE_EXTENSIONS]
            + [n for n, q in queries.items() if q.category == "hiveql"])


class ReadRun:
    """One run of a read workload on an already set-up session."""

    def __init__(self, ctx, names: list[str]) -> None:
        self.ctx = ctx
        self.names = names
        self.results: dict[str, tuple] = {}  # name -> (schema, arrow table) of the cold call
        self.calls = 0
        # per-op layer figures for the traced run
        self.build: dict[str, list[float]] = {}
        self.exec: dict[str, list[float]] = {}
        self.counters: list[dict] = []
        self.build_jobs: list[int] = []
        self.cache: list[tuple[int, float]] = []
        self.persisted_after_op: list[tuple[str, int]] = []

    def call(self, name: str, warmup: bool = False) -> None:
        ctx = self.ctx
        sc = ctx.spark.sparkContext
        q = ctx.queries[name]
        self.calls += 1
        group = f"op{self.calls}"
        ctx.tracer.op_id = f"{name}#{self.calls}"
        err = None
        latency = None
        with ctx.tracer.span("op"):
            try:
                sc.setJobGroup(group + "-build", name)
                t0 = time.perf_counter()
                with ctx.tracer.span("queries.build"):
                    df = q.fn(ctx.spark, ctx.data_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(group + "-exec", name)
                with ctx.tracer.span("exec"):
                    rows = df.toArrow()
                t2 = time.perf_counter()
                latency = t2 - t0
                if name not in self.results:
                    self.results[name] = (df.schema, rows)
                if not warmup:
                    self.build.setdefault(name, []).append(t1 - t0)
                    self.exec.setdefault(name, []).append(t2 - t1)
            except Exception as e:  # a failed op is counted, never dropped
                err = f"{type(e).__name__}: {str(e)[:300]}"
        ctx.ledger.record(name, latency, err, warmup)
        # Leaks stay visible: count what the op left persisted before
        # the benchmark clears the cache for the next op.
        self.persisted_after_op.append((name, ctx.jsc.getPersistentRDDs().size()))
        if ctx.tracer.enabled:
            t = time.perf_counter()
            build = ctx.counters.group(group + "-build")
            self.build_jobs.append(build["jobs"])
            self.counters.append(ctx.counters.group(group + "-exec"))
            self.cache.append(ctx.counters.cache_state())
            ctx.tracer.overhead_s += time.perf_counter() - t
        ctx.spark.catalog.clearCache()

    def run(self, warmup_passes: int, warm_passes: int) -> None:
        """The first pass in list order, so the session's one-time
        spin-up always lands on the same op; then ``warmup_passes`` and
        ``warm_passes`` whole passes (``pass_orders``)."""
        for name in self.names:
            self.call(name)
        orders = pass_orders(self.names, warmup_passes + warm_passes, self.ctx.rng)
        for p, order in enumerate(orders):
            for name in order:
                self.call(name, warmup=p < warmup_passes)


# ---- correctness against the DuckDB oracle ---------------------------------


def _oracle_path(cache_dir: str, name: str, sql: str, data_tag: str) -> str:
    key = hashlib.sha1((sql + "\0" + data_tag).encode()).hexdigest()[:16]
    return os.path.join(cache_dir, f"{name}-{key}.json")


def expected_result(name: str, sql: str, data_dir: str, cache_dir: str,
                    data_tag: str, con_box: list) -> dict:
    """The oracle's canonical answer for one query, computed by DuckDB
    once per (query SQL, dataset) and kept under ``cache_dir``."""
    path = _oracle_path(cache_dir, name, sql, data_tag)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from hdp2_5_hive_spark.oracle import connect_oracle, rows_canon

    if not con_box:
        con_box.append(connect_oracle(data_dir))
    con = con_box[0]
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    exp = {"cols": cols, "types": types, "rows": rows_canon(cols, rel.fetchall())}
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(exp, f)
    os.replace(tmp, path)
    return exp


def check_result(schema, table, exp: dict) -> str | None:
    """Compare one Spark result with the oracle's, as
    ``scripts/check_oracle.py`` does: no complex or raw-decimal output
    columns, no numeric-class drift, same columns, same canonical rows
    (order-insensitive). Returns None when they match, else why not."""
    from pyspark.sql import types as T

    from hdp2_5_hive_spark import oracle as O

    bad = [f.name for f in schema.fields
           if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType, T.DecimalType))]
    if bad:
        return f"complex or decimal output columns {bad}"
    spark_types = {f.name: f.dataType for f in schema.fields}
    for col, dtype in exp["types"].items():
        if dtype.upper() in ("HUGEINT", "UHUGEINT"):
            return f"type drift: {col} oracle {dtype}"
        if col in spark_types and O._duck_num_class(dtype) != O._spark_num_class(spark_types[col]):
            return f"type drift: {col} oracle {dtype} vs spark {spark_types[col]}"
    cols = [f.name for f in schema.fields]
    if sorted(cols) != sorted(exp["cols"]):
        return f"columns spark={sorted(cols)} oracle={sorted(exp['cols'])}"
    got = O.rows_canon(cols, list(zip(*(c.to_pylist() for c in table.columns))))
    want = [tuple(r) for r in exp["rows"]]
    if len(got) != len(want):
        return f"rowcount spark={len(got)} oracle={len(want)}"
    if got != want:
        diffs = sum(a != b for a, b in zip(got, want))
        return f"{diffs}/{len(got)} rows differ"
    return None
