"""Alternating benchmark pairs from two checkouts, and the gain rule.

    python tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload serving_open_loop --pairs 10 --seed 701

Pair i runs ``perfbench/run.py --workload W --seed S+i --seconds R
--trace 0`` once in each checkout (its working directory), where R is
``run_seconds`` of ``BENCHMARK.json`` (both checkouts must agree), the
parent first in even pairs and the change first in odd ones, so neither
side always runs second on a host the other warmed up. One seed per
pair: both sides of a pair see the same inputs.

For each end-to-end metric of the change's ``BENCHMARK.json`` it prints
each side's median and quartiles, every pair, "change lower in k of N"
and whether the gain rule holds: the change is better in at least 9 of
10 pairs, its median is better than the parent's by more than the
parent's quartile spread, and it fails no more operations than the
parent over all pairs. It writes no file; each run keeps its result
record in its own checkout's ``.perfbench/out/`` (ignored by git).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

WIN_SHARE = 0.9  # 9 of 10 pairs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run; its last stdout line as a dict."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"{checkout}: {' '.join(cmd)} exited {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def compare(parent: list[float], change: list[float], better: str, failed: tuple[int, int] = (0, 0)) -> dict:
    """Medians, quartiles, wins and the gain rule for one metric over
    paired runs (``parent[i]`` and ``change[i]`` share a seed);
    ``failed`` is each side's failed operations summed over the runs."""
    sign = 1.0 if better == "lower" else -1.0
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    gap = sign * (pm - cm)
    need = math.ceil(WIN_SHARE * len(parent))
    more_failed = failed[1] > failed[0]
    return {
        "parent": (pm, p1, p3), "change": (cm, c1, c3), "wins": wins, "n": len(parent),
        "gap": gap, "spread": p3 - p1, "need": need, "more_failed": more_failed,
        "holds": wins >= need and gap > p3 - p1 and not more_failed,
    }


def report(metrics: list[dict], pairs: list[tuple[dict, dict]]) -> list[str]:
    """Report lines for ``pairs`` of (parent, change) run results, one
    block per metric spec of ``BENCHMARK.json``'s end-to-end list."""
    lines = []
    failed = (sum(p["failed"] for p, _ in pairs), sum(c["failed"] for _, c in pairs))
    for spec in metrics:
        name, better = spec["name"], spec["better"]
        parent = [p["metrics"][name]["value"] for p, _ in pairs]
        change = [c["metrics"][name]["value"] for _, c in pairs]
        r = compare(parent, change, better, failed)
        (pm, p1, p3), (cm, c1, c3) = r["parent"], r["change"]
        rel = (cm - pm) / pm if pm else float("nan")
        lines += [
            f"{name} ({spec['unit']}, {better} is better)",
            f"  parent  median {pm:.2f}  quartiles [{p1:.2f}, {p3:.2f}]",
            f"  change  median {cm:.2f}  quartiles [{c1:.2f}, {c3:.2f}]  ({rel:+.1%})",
            "  pairs   " + " ".join(f"{p:.2f}/{c:.2f}" for p, c in zip(parent, change)),
            f"  change {better} in {r['wins']} of {r['n']}; gain rule "
            + ("holds" if r["holds"] else "does not hold")
            + (" (more failed operations than the parent)" if r["more_failed"] else "")
            + f" (needs {r['need']} of {r['n']} and a median gap {r['gap']:.2f}"
            f" > parent quartile spread {r['spread']:.2f})",
        ]
    bad = [(i, side) for i, pair in enumerate(pairs) for side, res in zip(("parent", "change"), pair)
           if not res["correct"] or res["failed"]]
    lines.append("every run correct, 0 failed operations" if not bad
                 else "runs with failures (pair, side): " + ", ".join(f"({i}, {s})" for i, s in bad))
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair; pair i uses seed + i")
    args = ap.parse_args()

    benches = []
    for d in (args.parent_dir, args.change_dir):
        with open(os.path.join(d, "BENCHMARK.json")) as f:
            benches.append(json.load(f))
    seconds = benches[1]["run_seconds"]
    if benches[0]["run_seconds"] != seconds:
        raise SystemExit(f"run_seconds differs: parent {benches[0]['run_seconds']}, change {seconds}")
    metrics = benches[1]["end_to_end"]
    pairs = []
    for i in range(args.pairs):
        seed = args.seed + i
        sides = {}
        for side in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
            d = args.parent_dir if side == "parent" else args.change_dir
            sides[side] = run_once(d, args.workload, seed, seconds)
        pairs.append((sides["parent"], sides["change"]))
        vals = " ".join(
            f"{m['name']} {sides['parent']['metrics'][m['name']]['value']:.2f}/"
            f"{sides['change']['metrics'][m['name']]['value']:.2f}"
            for m in metrics
        )
        print(f"pair {i + 1} seed {seed} (parent/change): {vals}", flush=True)
    print(f"{args.workload}: {args.pairs} pairs, seeds {args.seed}-{args.seed + args.pairs - 1}, "
          f"--seconds {seconds:g}")
    print("\n".join(report(metrics, pairs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
