"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload headline_warm --seed 1 --seconds 6 --trace 0

Run from the repository root. Spark runs as ``local[<cores>]`` with one
shuffle partition per core. Every file the run writes stays under
``.perfbench/``; the work directory is removed at exit and a result
record (plus, with ``--trace 1``, the spans and per-operation detail) is
kept in ``.perfbench/out/``. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics of ``BENCHMARK.json`` untraced, its per-layer
metrics traced.
"""

from __future__ import annotations

import argparse
import importlib.metadata
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.procfs import host_cpu, tree_cpu_s, vm_hwm_mb  # noqa: E402
from perfbench.stats import median, tail  # noqa: E402
from perfbench.trace import SparkRest, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx, start_session  # noqa: E402


def _version(dist: str) -> str:
    try:
        return importlib.metadata.version(dist)
    except importlib.metadata.PackageNotFoundError:
        return "absent"


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    run_workload, unexercised = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for d in (out_dir, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")  # shuffle and block files

    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": nproc, "master": f"local[{nproc}]", "loadavg_start": os.getloadavg(),
        "python": platform.python_version(), "spark": _version("pyspark"), "duckdb": _version("duckdb"),
    }
    steal0, all0 = host_cpu()
    tracer = Tracer(bool(args.trace))
    setup: dict[str, float] = {}
    spark = None
    cpu0 = tree_cpu_s()
    try:
        with tracer.span("workload", args.workload, seed=args.seed) as root:
            with tracer.span("setup", "import", root) as sp:
                from realestate_engine.registry import load_all

                import realestate_engine.serving  # noqa: F401

                load_all()
            setup["import_s"] = sp.duration_s
            with tracer.span("setup", "session", root) as sp:
                spark = start_session(work, nproc)
            setup["session_s"] = sp.duration_s
            rest = SparkRest(spark.sparkContext) if args.trace else None
            ctx = Ctx(spark, nproc, work, tracer, bool(args.trace), rest)
            outcome = run_workload(ctx, args.seconds, args.seed, setup, root)
        rss = {"jvm": vm_hwm_mb(spark.sparkContext._gateway.proc.pid), "python": vm_hwm_mb()}
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_end"] = os.getloadavg()
    steal1, all1 = host_cpu()
    env["host_cpu_steal_share"] = (steal1 - steal0) / max(1, all1 - all0)

    lat_tail, tail_pct, n_ops = tail(outcome.latencies)
    values = {
        # set-up in CPU seconds of the process tree, like pass_cpu_s: its
        # wall time moves with the CPU the host takes away
        "setup_s": outcome.setup_cpu_end - cpu0,
        "setup.wall_s": sum(setup.values()),
        "pass_s": median(outcome.passes),
        "pass_cpu_s": median(outcome.pass_cpu),
        "op_p50_s": median(outcome.latencies),
        "peak_rss_mb": sum(rss.values()),
        **{f"setup.{k}": v for k, v in setup.items()},
        "error_rate": outcome.failed / outcome.attempted,
        **outcome.layers,
    }
    metrics = {}
    for m in wanted:
        if m["name"] not in values and not m["name"].startswith(unexercised):
            raise RuntimeError(f"{args.workload} produced no value for {m['name']}")
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}

    record = {
        "env": env, "metrics": values,
        "op_tail": {"value_s": lat_tail, "percentile": tail_pct, "samples": n_ops},
        "passes": outcome.passes, "pass_cpu": outcome.pass_cpu, "peak_rss_mb": rss, "attempted": outcome.attempted, "failed": outcome.failed,
        "errors": outcome.errors,
    }
    if args.trace:
        record["ops"] = outcome.ops
        record["spans"] = tracer.records()
        record["slowest_op"] = _slowest(outcome.ops)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=float)

    print(json.dumps({"env": env, "op_tail": record["op_tail"], "errors": outcome.errors[:5]}), file=sys.stderr)
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


def _slowest(ops: list[dict]) -> dict | None:
    """The slowest traced operation and the layer that dominated it."""
    traced = [o for o in ops if "plan_s" in o]
    if not traced:
        return None
    op = max(traced, key=lambda o: o["latency_s"])
    layers = {k: op[f"{k}_s"] for k in ("build", "plan", "exec")}
    return {"op": op["op"], "latency_s": op["latency_s"], "layers": layers, "dominant": max(layers, key=layers.get)}


if __name__ == "__main__":
    sys.exit(main())
