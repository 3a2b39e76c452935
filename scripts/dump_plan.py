"""Dump .explain("formatted") for queries into
.bench_build/plans/<name>_<tag>.txt (git-ignored).

Usage: python scripts/dump_plan.py <tag> name [name ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hdp2_5_hive_spark.queries import all_queries  # noqa: E402
from hdp2_5_hive_spark.session import get_session  # noqa: E402

SF = "/root/testdata/sf0.1"


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    out_dir = Path(__file__).resolve().parent.parent / ".bench_build" / "plans"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_session(app_name="dump-plan")
    qs = all_queries()
    for name in names:
        df = qs[name].fn(spark, SF)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        (out_dir / f"{name}_{tag}.txt").write_text(txt)
        print(f"wrote {name}_{tag}.txt ({len(txt.splitlines())} lines)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
