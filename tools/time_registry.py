"""Time EVERY registered query at $SPARK_GRAFT_SF_DIR via the noop sink.

Usage: python tools/time_registry.py [out.json] [name ...]

One warm JVM/session, each query run twice (cold+warm, both recorded;
the warm number is the plan's steady-state cost, guide §1). Used by the
optimization rounds to rank the full 498-query registry by cost, not
just the 26 bench headline queries. Streaming queries and sink
round-trips execute their own actions internally; they are timed
end-to-end the same way (the noop save of an already-materialized
result adds only the scheduling floor).
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/registry_times.json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))

    from realestate_engine.registry import QUERIES, load_all, reset
    from realestate_engine.session import create_session

    load_all()
    names = sys.argv[2:] if len(sys.argv) > 2 else list(QUERIES)

    spark = create_session(
        "time_registry", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    for i, name in enumerate(names):
        spark.sparkContext.setJobDescription(name)
        rec: dict = {}
        for run in ("cold", "warm"):
            t0 = time.time()
            try:
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                rec[run] = round(time.time() - t0, 3)
            except Exception as e:  # record, keep sweeping
                rec[run] = None
                rec["err"] = f"{type(e).__name__}: {e}"
                traceback.print_exc(limit=1)
                break
        results[name] = rec
        print(f"[{i + 1}/{len(names)}] {name}: {rec}", flush=True)
        # checkpoint every 25 queries so a crash keeps partial data,
        # and free what the session holds: a 498-query session otherwise
        # accumulates every family's cached relations and checkpoints
        # (measured ~10% total drift plus 3-10x late-sweep outliers on
        # UNTOUCHED queries from the GC pressure); each query's warm
        # number is unaffected because its own cold run rebuilds them
        if (i + 1) % 25 == 0 or i + 1 == len(names):
            reset(spark)
            with open(out_path, "w") as f:
                json.dump(results, f, indent=1)
    spark.sparkContext.setJobDescription(None)

    warm = {k: v["warm"] for k, v in results.items() if v.get("warm") is not None}
    print(f"total warm: {sum(warm.values()):.1f}s over {len(warm)} queries")
    for k, v in sorted(warm.items(), key=lambda kv: -kv[1])[:40]:
        print(f"  {v:8.3f}  {k}")


if __name__ == "__main__":
    main()
