"""Per-operator profiling harness (optimization rounds, guide §1).

For each named query: fresh timing in THIS session — one untimed
warmup execution into the noop sink, then best-of-2 timed runs — plus
the Spark job/stage/task counts of one execution (statusTracker
deltas), which is the footprint that job-count-bound iterative
operators (trainers, CC rounds) optimize for. ``serial_stages`` counts
the stages that ran exactly one task while the cluster offers more
(defaultParallelism > 1): an under-split input running on one core.

Usage: python scripts/op_profile.py [sf_dir] name [name ...]
Prints one line per query:
  name  build= warm= best=  jobs=N stages=N tasks=N serial_stages=N
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hdp2_5_hive_spark.queries import all_queries  # noqa: E402
from hdp2_5_hive_spark.session import get_session  # noqa: E402


def profile(spark, fn, sf_dir, runs: int = 2):
    sc = spark.sparkContext
    t0 = time.time()
    df = fn(spark, sf_dir)
    build_s = time.time() - t0
    # warmup + footprint in one pass
    st = sc.statusTracker()
    before = set(st.getJobIdsForGroup() or [])
    tracker0 = sc._jsc.sc().statusTracker()
    jobs0 = list(tracker0.getJobIdsForGroup(None))
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    warm_s = time.time() - t0
    jobs1 = list(tracker0.getJobIdsForGroup(None))
    new_jobs = [j for j in jobs1 if j not in jobs0]
    n_stages = 0
    n_tasks = 0
    n_serial = 0
    wide = sc.defaultParallelism > 1
    for j in new_jobs:
        info = tracker0.getJobInfo(j)
        if info.nonEmpty():
            sids = info.get().stageIds()
            n_stages += len(sids)
            for s in sids:
                si = tracker0.getStageInfo(s)
                if si.nonEmpty():
                    stage_tasks = si.get().numTasks()
                    n_tasks += stage_tasks
                    if wide and stage_tasks == 1:
                        n_serial += 1
    best = float("inf")
    for _ in range(runs):
        # rebuild the frame so driver-side trainer work is re-timed
        # (for plain declarative queries the rebuild is just plan
        # construction and costs ~nothing)
        df = fn(spark, sf_dir)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return build_s, warm_s, best, len(new_jobs), n_stages, n_tasks, n_serial


def main():
    args = sys.argv[1:]
    sf_dir = (
        args.pop(0)
        if args and args[0].startswith("/")
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    spark = get_session(app_name="op-profile")
    # session warmup
    spark.range(1_000_000).selectExpr("sum(id) s").write.format("noop").mode(
        "overwrite"
    ).save()
    qs = all_queries()
    for name in args:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        try:
            b, w, best, nj, ns, nt, n1 = profile(spark, qs[name].fn, sf_dir)
            print(
                f"{name:40s} build={b:6.2f}s warm={w:6.2f}s best={best:6.2f}s"
                f"  jobs={nj} stages={ns} tasks={nt} serial_stages={n1}",
                flush=True,
            )
        except Exception as e:
            print(f"{name:40s} ERROR {type(e).__name__}: {e}", flush=True)
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
