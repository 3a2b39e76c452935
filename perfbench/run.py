"""spark-graft benchmark: one command, three workloads, checked results.

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it holds the details (environment,
tail percentile and its sample count, failures by op name, per-op
first and warm times). See ``perfbench/README.md`` for what each metric means.

Everything the benchmark writes goes under ``.bench_build/perfbench/``:
the generated dataset and the DuckDB oracle answers (kept between
runs), and a per-run directory for the warehouse and Spark's local
dirs (removed at the end of the run).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import OpLedger, ProcSampler, median  # noqa: E402
from tracing import MB, SparkCounters, Tracer  # noqa: E402

WORKLOADS = ("olap_sql", "pipeline_ops", "warehouse_dml")
SF = 0.1
DATA_SEED = 42
REF_SECONDS = 10  # the --seconds of one unit of work


def work_units(seconds: float) -> int:
    """How much work a run does: a fixed function of ``--seconds``, not
    of the wall clock, so a faster engine runs the same ops faster
    instead of more of them. One unit is the warm passes of a read
    workload (``reads.PASSES``), or ``dml.N_BATCHES`` batches of
    ``warehouse_dml``."""
    return max(1, round(seconds / REF_SECONDS))


def pin_environment(run_dir: str) -> dict:
    """Fix what the engine reads from the environment, sized to this
    host, and return it for the result record."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, mem_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    env["host_mem_mb"] = str(mem_mb)
    env["OMP_NUM_THREADS"] = os.environ.get("OMP_NUM_THREADS", "")
    return env


def ensure_data(work: str) -> tuple[str, str]:
    """The benchmark dataset (generated once per checkout) and a tag
    naming its contents, for the oracle cache key."""
    data_dir = os.path.join(work, f"data-sf{SF}-seed{DATA_SEED}")
    marker = os.path.join(data_dir, "_COMPLETE")
    if not os.path.exists(marker):
        import datagen

        t = time.perf_counter()
        datagen.ensure_dataset(data_dir, SF, DATA_SEED)
        print(f"# generated sf{SF} dataset in {time.perf_counter() - t:.1f}s", file=sys.stderr)
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        tag = hashlib.sha1(f.read()).hexdigest()[:12] + f"-sf{SF}-seed{DATA_SEED}"
    return data_dir, tag


class Ctx:
    """What a workload needs from the run: session, registry, ledger,
    tracer, seeded RNG."""

    def __init__(self, **kw) -> None:
        self.__dict__.update(kw)


def setup(tracer: Tracer, data_dir: str, workload: str, warehouse: str) -> tuple[dict, dict]:
    """Fresh process until the first op can run. Returns the timings of
    each step and the objects the workload needs."""
    t0 = time.perf_counter()
    from hdp2_5_hive_spark import session

    tracer.wrap(session, "get_session", "session.get_session")
    spark = session.get_session(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # Whole heap committed from the start: G1 grows the heap by its
        # pause-time share, which follows the host's speed, and left to
        # it peak RSS split runs into 1.5 and 2.2 GB groups. So
        # peak_rss_mb does not follow heap use; the traced run's
        # proc.jvm_old_gen_peak_mb does.
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    })
    t1 = time.perf_counter()
    from hdp2_5_hive_spark.queries import registry

    tracer.wrap(registry, "register_views", "catalog.register_views")
    tracer.wrap(registry, "tables_for", "queries.tables_for")
    with tracer.span("queries.all_queries"):
        queries = registry.all_queries()
    t2 = time.perf_counter()
    registry.tables_for(spark, data_dir)
    t3 = time.perf_counter()
    ms = None
    if workload == "warehouse_dml":
        from hdp2_5_hive_spark.metastore import Metastore

        ms = Metastore(os.path.join(warehouse, "metastore"))
    t4 = time.perf_counter()
    times = {
        "session.start_s": t1 - t0,
        "queries.registry_load_s": t2 - t1,
        "catalog.register_views_s": t3 - t2,
        "setup_s": t4 - t0,
    }
    return times, {"spark": spark, "queries": queries, "metastore": ms}


def wrap_write_layers(tracer: Tracer) -> None:
    """Spans around the public functions of ``sources`` and ``metastore``."""
    from hdp2_5_hive_spark import metastore
    from hdp2_5_hive_spark.sources import acid, writers

    for fn in ("update_table", "delete_from", "merge_into", "write_acid_events",
               "read_acid_table", "compact_acid_table", "compact_acid_minor",
               "auto_compact"):
        tracer.wrap(acid, fn, f"sources.{fn}")
    tracer.wrap(writers, "insert_overwrite_dynamic_partitions",
                "sources.insert_overwrite_dynamic_partitions")
    # acid.py imported the writer by name; wrap that reference too
    tracer.wrap(acid, "insert_overwrite_dynamic_partitions",
                "sources.insert_overwrite_dynamic_partitions")
    for m in ("create_table", "insert_overwrite_partitions", "get_table",
              "msck_repair", "analyze_table"):
        tracer.wrap(metastore.Metastore, m, f"metastore.{m}")


def stop_spark(spark, pids: list[int]) -> None:
    """Stop the session, end the JVM and wait for every process the run
    started (the JVM and Spark's Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.time() + 30
    me = os.getpid()
    for p in pids:
        while p != me and os.path.exists(f"/proc/{p}") and time.time() < deadline:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; its parent will reap it
            except OSError:
                break
            time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hdp2_5_hive_spark", "__init__.py")):
        print("perfbench: run from the repository root (no hdp2_5_hive_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    work = os.path.join(root, ".bench_build", "perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        return _run(args, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, work: str, run_dir: str) -> int:
    env = pin_environment(run_dir)
    data_dir, data_tag = ensure_data(work)
    tracer = Tracer(bool(args.trace))
    ledger = OpLedger()

    times, objs = setup(tracer, data_dir, args.workload, os.environ["SPARK_GRAFT_WAREHOUSE"])
    spark = objs["spark"]
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    sampler = ProcSampler(os.getpid(), jvm_pid)
    try:
        result = _measure(args, work, env, data_dir, data_tag, tracer, ledger, times, objs,
                          sampler)
    finally:
        stop_spark(spark, sampler.known_pids())
        tracer.restore()
    for name, errs in ledger.failures.items():
        print(f"# FAILED {name}: {errs[0]}", file=sys.stderr)
    print(json.dumps(result[0], default=str))
    print(json.dumps(result[1]))
    return 0


def sample(ctx, sampler: ProcSampler, reset: bool = False) -> dict:
    """Process counters, plus the JVM's old-generation peak in a traced
    run (reset at the start of the timed phase)."""
    out = sampler.sample()
    if ctx.counters is not None:
        out["old_gen_peak_mb"] = ctx.counters.old_gen_peak_mb(reset)
    return out


def _measure(args, work, env, data_dir, data_tag, tracer, ledger, times, objs, sampler):
    """Run the timed phase and check the results; return the detail
    record and the result line."""
    spark = objs["spark"]
    ctx = Ctx(
        spark=spark, jsc=spark.sparkContext._jsc, queries=objs["queries"],
        data_dir=data_dir, tracer=tracer, ledger=ledger,
        rng=random.Random(args.seed),
        counters=SparkCounters(spark) if args.trace else None,
    )
    detail: dict = {"workload": args.workload, "seed": args.seed, "sf": SF, "env": env}

    if args.workload == "warehouse_dml":
        import dml

        wrap_write_layers(tracer)
        base = dml.load_base(data_dir)
        base_df = dml.base_frame(spark, data_dir)
        p0 = sample(ctx, sampler, reset=True)
        t0 = time.perf_counter()
        run = dml.DmlRun(ctx, objs["metastore"])
        model = run.run(base, base_df, dml.N_BATCHES * work_units(args.seconds), args.seed)
        timed = time.perf_counter() - t0
        p1 = sample(ctx, sampler)
        ops = ledger.attempted
        run.final_check(model)
        detail.update({"batches": run.batches, "compactions": run.compactions,
                       "delta_dirs_at_read": run.delta_dirs_at_read})
    else:
        import reads

        names = (reads.olap_sql_ops(ctx.queries) if args.workload == "olap_sql"
                 else reads.PIPELINE_OPS)
        p0 = sample(ctx, sampler, reset=True)
        t0 = time.perf_counter()
        run = reads.ReadRun(ctx, names)
        warmup, warm = reads.PASSES[args.workload]
        run.run(warmup, warm * work_units(args.seconds))
        timed = time.perf_counter() - t0
        p1 = sample(ctx, sampler)
        ops = ledger.attempted
        check_reads(ctx, run, work, data_tag)
        left: dict[str, int] = {}
        for name, n in run.persisted_after_op:
            left[name] = max(n, left.get(name, 0))
        detail["persisted_rdds_after_op"] = left

    s = ledger.summary()
    e2e = {
        "setup_s": times["setup_s"],
        "first_latency_gmean_s": s["first_latency_gmean_s"],
        "latency_gmean_s": s["latency_gmean_s"],
        "latency_p50_s": s["latency_p50_s"],
        "latency_tail_s": s["latency_tail"]["value"],
        "ops_per_min": ops / (timed / 60.0),
        "cpu_s_per_op": (p1["cpu_s"] - p0["cpu_s"]) / ops,
        "peak_rss_mb": p1["jvm_hwm_mb"] + p1["py_hwm_mb"],
        "disk_write_mb": (p1["write_bytes"] - p0["write_bytes"]) / MB,
        "ops_ok_frac": 1.0 - ledger.failed_frac(),
    }
    detail.update({
        "timed_s": timed,
        "latency_tail": s["latency_tail"],
        "ops_failed_frac": ledger.failed_frac(),
        "failures": ledger.failures,
        "first_s": ledger.first,
        "warm_median_s": {k: median(v) for k, v in ledger.warm.items()},
        "warm_s": ledger.warm,
        "setup": times,
    })

    if args.trace:
        metrics = layer_metrics(args.workload, ctx, run, times, p0, p1, timed)
        path = os.path.join(work, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(path, {"detail": detail, "metrics": metrics})
        print_self_times(tracer, timed)
        print(f"# trace written to {os.path.relpath(path)}", file=sys.stderr)
        units = {k: u for k, (v, u) in metrics.items()}
        metrics = {k: v for k, (v, u) in metrics.items()}
    else:
        metrics, units = e2e, E2E_UNITS

    return detail, {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


E2E_UNITS = {
    "setup_s": "s",
    "first_latency_gmean_s": "s",
    "latency_gmean_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ops_per_min": "1/min",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "disk_write_mb": "MB",
    "ops_ok_frac": "ratio",
}


def check_reads(ctx, run, work: str, data_tag: str) -> None:
    """Untimed: every op's cold-call result against the DuckDB oracle,
    whose answers are computed on the first run in a checkout and kept."""
    import reads

    cache_dir = os.path.join(work, "oracle")
    con_box: list = []
    for name in run.names:
        q = ctx.queries[name]
        if name not in run.results:
            continue  # the cold call raised; already counted
        if q.oracle is None:
            ctx.ledger.fail(name, "no oracle registered")
            continue
        try:
            exp = reads.expected_result(name, q.oracle, ctx.data_dir, cache_dir, data_tag, con_box)
            why = reads.check_result(*run.results[name], exp)
        except Exception as e:
            why = f"oracle check raised {type(e).__name__}: {str(e)[:200]}"
        if why:
            ctx.ledger.fail(name, why)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(workload, ctx, run, times, p0, p1, timed) -> dict[str, tuple[float, str]]:
    """Every per-layer metric as (value, unit). A layer the workload
    does not exercise reads 0."""
    import reads

    tr, led = ctx.tracer, ctx.ledger
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (times["session.start_s"], "s"),
        "catalog.register_views_s": (times["catalog.register_views_s"], "s"),
        "queries.registry_load_s": (times["queries.registry_load_s"], "s"),
    }
    is_read = isinstance(run, reads.ReadRun)
    build = run.build if is_read else {}
    execs = run.exec if is_read else {}
    ctr = run.counters if is_read else []
    m.update({
        "queries.build_s": (_mean(v[0] for v in build.values()), "s"),
        "queries.build_warm_s": (_mean(median(v[1:]) for v in build.values() if len(v) > 1), "s"),
        "queries.build_jobs": (_mean(run.build_jobs) if is_read else 0.0, "count"),
        "exec.cold_s": (_mean(v[0] for v in execs.values()), "s"),
        "exec.warm_s": (_mean(median(v[1:]) for v in execs.values() if len(v) > 1), "s"),
        "exec.jobs_per_op": (_mean(c["jobs"] for c in ctr), "count"),
        "exec.stages_per_op": (_mean(c["stages"] for c in ctr), "count"),
        "exec.tasks_per_op": (_mean(c["tasks"] for c in ctr), "count"),
        "exec.input_mb_per_op": (_mean(c["input_bytes"] / MB for c in ctr), "MB"),
        "exec.shuffle_write_mb_per_op": (_mean(c["shuffle_write_bytes"] / MB for c in ctr), "MB"),
        "exec.spill_mb_per_op": (_mean(c["spill_bytes"] / MB for c in ctr), "MB"),
        "exec.gc_s_per_op": (_mean(c["gc_ms"] / 1000.0 for c in ctr), "s"),
        "exec.persisted_rdds_after_op": (_mean(n for _, n in run.persisted_after_op)
                                         if is_read else 0.0, "count"),
        "exec.cached_mb_after_op": (_mean(mb for _, mb in run.cache) if is_read else 0.0, "MB"),
    })
    for name in reads.PIPELINE_OPS:
        warm = led.warm.get(name) if workload == "pipeline_ops" else None
        first = led.first.get(name, 0.0) if workload == "pipeline_ops" else 0.0
        m[f"op.{name}.cold_s"] = (first, "s")
        m[f"op.{name}.warm_s"] = (median(warm) if warm else 0.0, "s")

    def spans(*names):
        return _mean(d for n in names for d in tr.durations(n))

    dml_run = None if is_read else run
    comp = dml_run.compactions if dml_run else []
    m.update({
        "sources.insert_overwrite_s": (spans("sources.insert_overwrite_dynamic_partitions"), "s"),
        "sources.acid_update_s": (spans("sources.update_table"), "s"),
        "sources.acid_delete_s": (spans("sources.delete_from"), "s"),
        "sources.acid_merge_s": (spans("sources.merge_into"), "s"),
        "sources.acid_read_s": (_mean(led.warm.get("acid.read_acid_table", [])
                                      + ([led.first["acid.read_acid_table"]]
                                         if "acid.read_acid_table" in led.first else [])), "s"),
        "sources.acid_delta_dirs_at_read": (_mean(dml_run.delta_dirs_at_read) if dml_run else 0.0,
                                            "count"),
        "sources.compact_s": (spans("sources.compact_acid_table", "sources.compact_acid_minor"), "s"),
        "sources.compactions_major": (float(comp.count("MAJOR")), "count"),
        "sources.compactions_minor": (float(comp.count("MINOR")), "count"),
        "sources.files_written": (float(dml_run.files_written) if dml_run else 0.0, "count"),
        "sources.write_amp": ((dml_run.bytes_written / dml_run.input_bytes)
                              if dml_run and dml_run.input_bytes else 0.0, "ratio"),
        "metastore.create_table_s": (spans("metastore.create_table"), "s"),
        "metastore.insert_overwrite_partitions_s": (spans("metastore.insert_overwrite_partitions"), "s"),
        "metastore.get_table_s": (_mean(led.warm.get("metastore.get_table", [])
                                        + ([led.first["metastore.get_table"]]
                                           if "metastore.get_table" in led.first else [])), "s"),
        "metastore.msck_repair_s": (spans("metastore.msck_repair"), "s"),
        "metastore.analyze_table_s": (spans("metastore.analyze_table"), "s"),
        "proc.jvm_cpu_s": (p1["jvm_cpu_s"] - p0["jvm_cpu_s"], "s"),
        "proc.py_cpu_s": (p1["py_cpu_s"] - p0["py_cpu_s"], "s"),
        "proc.jvm_hwm_mb": (p1["jvm_hwm_mb"], "MB"),
        "proc.jvm_old_gen_peak_mb": (p1["old_gen_peak_mb"], "MB"),
        "trace.overhead_frac": (tr.overhead_s / timed, "ratio"),
    })
    return m


def print_self_times(tracer: Tracer, timed: float) -> None:
    by_layer: dict[str, float] = {}
    for name, t in tracer.self_times().items():
        layer = name.split(".")[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + t
    print(f"# self time per layer, set-up and timed phase (timed phase {timed:.2f}s; "
          f"tracer {tracer.overhead_s:.3f}s = {tracer.overhead_s / timed:.4f} of it):",
          file=sys.stderr)
    for layer, t in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        print(f"#   {layer:12s} {t:9.3f}s", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
