"""Record the expected result of every analytics query in the benchmark.

    python3 perfbench/record_fingerprints.py

Generates the benchmark's tables (``workloads.SF``, ``workloads.DATA_SEED``),
runs each query's DuckDB oracle from ``realestate_engine.registry.ORACLES``
on them, and writes ``perfbench/fingerprints.json``. The benchmark
compares every Spark result against these fingerprints on every run;
they are recorded once because some oracles (the unrolled pagerank
closure) are far slower on DuckDB than the query is on Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.fingerprint import fingerprint  # noqa: E402
from perfbench.workloads import DATA_SEED, FINGERPRINTS, HEADLINE, SF  # noqa: E402


def main() -> int:
    import duckdb

    from realestate_engine.registry import ORACLES, load_all

    load_all()
    data = os.path.join(ROOT, ".perfbench", "fingerprint-data")
    datagen.write_tables(data, SF, DATA_SEED)
    try:
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        queries = {}
        for name in HEADLINE:
            queries[name] = fingerprint(con.execute(ORACLES[name]).fetchdf())
            print(f"{name}: {queries[name]['rows']} rows", file=sys.stderr)
    finally:
        shutil.rmtree(data, ignore_errors=True)
    with open(FINGERPRINTS, "w") as f:
        json.dump({
            "sf": SF,
            "data_seed": DATA_SEED,
            "source": "DuckDB oracles (realestate_engine.registry.ORACLES)",
            "command": "python3 perfbench/record_fingerprints.py",
            "queries": queries,
        }, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
