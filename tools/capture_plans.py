"""Dump .explain("formatted") for a set of queries to plans/<tag>/.

Usage: python tools/capture_plans.py <tag> <suffix> [name ...]
  tag     e.g. r14 -> writes plans/r14/<query>_<suffix>.txt
  suffix  "before" or "after"
  names   query names; default = bench.py HEADLINE list

The dumps are for local before/after diffs of a change (capture the
plan before and after every substantive change); plans/ is not
committed. tools/plan_audit.py is the per-query plan-shape summary.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r14"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))

    from realestate_engine.registry import QUERIES, load_all
    from realestate_engine.session import create_session

    load_all()
    if len(sys.argv) > 3:
        names = sys.argv[3:]
    else:
        import bench

        names = bench.HEADLINE

    spark = create_session(
        "capture_plans", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
