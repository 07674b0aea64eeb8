"""A/B runtime-conf experiment for the anti-scaling headline queries.

Usage: python tools/ab_conf.py [name ...]

For each query and each conf variant: reset, one warm-up run, then
best-of-3 noop-sink timings. Prints a table. Experiment tool only (not
part of the bench contract).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VARIANTS = {
    "base32": {},
    "sp8": {"spark.sql.shuffle.partitions": "8"},
    "sp4": {"spark.sql.shuffle.partitions": "4"},
    "bytes8m": {
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    },
    "bytes64m": {
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    },
}

DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))

    from realestate_engine.registry import QUERIES, load_all, reset
    from realestate_engine.session import create_session

    load_all()
    names = sys.argv[1:] or [
        "text_sparse_dot_pairs",
        "corpus_clean_pipeline",
        "x11_point_in_time_features",
        "text_contamination_ngrams",
        "j6_spatial_grid_join",
        "a23_equidepth_histogram",
        "graph_pagerank_trade",
        "custom_running_total_pandas",
    ]

    spark = create_session(
        "ab_conf", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    # one global JVM/python warmup
    QUERIES[names[0]](spark, sf_dir).write.format("noop").mode("overwrite").save()

    results: dict[str, dict[str, float]] = {}
    for name in names:
        results[name] = {}
        for vname, conf in VARIANTS.items():
            for k, v in {**DEFAULTS, **conf}.items():
                spark.conf.set(k, v)
            reset(spark)
            spark.sparkContext.setJobDescription(f"{name}:{vname}")
            # warm-up (build caches under this conf, JIT)
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = float("inf")
            for _ in range(3):
                t0 = time.time()
                QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            results[name][vname] = round(best, 3)
            print(f"{name:36s} {vname:9s} {best:7.3f}", flush=True)
    for k, v in DEFAULTS.items():
        spark.conf.set(k, v)

    print("\n== summary ==")
    hdr = "query".ljust(36) + "".join(v.rjust(10) for v in VARIANTS)
    print(hdr)
    for name in names:
        print(
            name.ljust(36)
            + "".join(f"{results[name][v]:10.3f}" for v in VARIANTS)
        )


if __name__ == "__main__":
    main()
