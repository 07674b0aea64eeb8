"""Harness tests that need no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import time

import numpy as np
import pandas as pd
import pytest

from perfbench import datagen
from perfbench.fingerprint import canon_value, fingerprint
from perfbench.loadgen import closed_loop, open_loop
from perfbench.stats import TAIL_BEYOND, median, tail
from perfbench.trace import SPAN_FIELDS, Tracer, plan_counts
from perfbench.workloads import BATCH_EVERY, WORKLOADS, _mix

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- tail percentile -----------------------------------------------------------


@pytest.mark.parametrize("n", [21, 26, 50, 100, 1000])
def test_tail_leaves_exactly_ten_samples_beyond(n):
    xs = [float(i) for i in range(n)]
    value, pct, count = tail(xs[::-1])  # input order must not matter
    assert count == n
    assert sum(x > value for x in xs) == TAIL_BEYOND
    assert pct == pytest.approx(100.0 * (n - TAIL_BEYOND) / n)


def test_tail_of_100_is_p90():
    value, pct, _ = tail(list(range(1, 101)))
    assert (value, pct) == (90.0, 90.0)


@pytest.mark.parametrize("n", [1, 5, 11, 20])
def test_tail_falls_back_to_median_when_sample_is_small(n):
    xs = [float(i) for i in range(n)]
    assert tail(xs) == (median(xs), 50.0, n)


def test_tail_rejects_empty_sample():
    with pytest.raises(ValueError):
        tail([])


# -- load generator -------------------------------------------------------------


def test_open_loop_charges_queueing_when_generator_runs_late():
    service = 0.1

    def slow(_i):
        time.sleep(service)
        return True

    # 5 requests due every 20 ms, one sender: each waits for the previous
    res = open_loop(slow, 5, rate=50.0, senders=1)
    lat = [s.latency for s in res.sent]
    late = [s.late for s in res.sent]
    assert all(s.ok for s in res.sent)
    assert late[0] < service / 2
    assert late[-1] > 3 * service  # the last one started ~4 services late
    for s in res.sent:
        # latency runs from the due time: queueing wait plus service
        assert s.latency == pytest.approx(s.late + (s.done - s.start))
        assert s.latency >= service
    assert lat[-1] > lat[0] + 3 * service
    assert res.in_flight_max >= 4


def test_open_loop_on_schedule_is_not_late():
    res = open_loop(lambda _i: True, 4, rate=40.0, senders=2)
    assert max(s.late for s in res.sent) < 0.02
    assert [round(s.due - res.sent[0].due, 3) for s in res.sent] == [0.0, 0.025, 0.05, 0.075]


def test_failures_are_recorded_not_raised():
    def flaky(i):
        if i == 1:
            raise OSError("refused")
        return i != 2

    res = open_loop(flaky, 3, rate=100.0, senders=2)
    assert [s.ok for s in res.sent] == [True, False, False]
    assert "refused" in res.sent[1].error


def test_closed_loop_runs_every_request_once():
    seen = []
    wall, sent = closed_loop(lambda i: seen.append(i) or True, 9, clients=3)
    assert sorted(seen) == list(range(9))
    assert [s.index for s in sent] == list(range(9))
    assert wall >= 0


# -- fingerprints -----------------------------------------------------------------


def test_fingerprint_ignores_column_and_row_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    b = pd.DataFrame({"v": ["z", "x", "y"], "k": [3, 1, 2]})
    assert fingerprint(a) == fingerprint(b)


def test_fingerprint_rounds_floats_and_unifies_numeric_kinds():
    a = pd.DataFrame({"x": [1.0000000001, 2.5, -0.0]})
    b = pd.DataFrame({"x": np.array([1, 2.5, 0.0], dtype="float32")})
    c = pd.DataFrame({"x": pd.array([1, 2, 0], dtype="Int64")})
    assert fingerprint(a) == fingerprint(b)
    assert fingerprint(a) != fingerprint(c)  # 2.5 vs 2 still differs
    assert canon_value(np.int64(3)) == canon_value(3.0) == canon_value(3)


def test_fingerprint_treats_nan_and_null_alike():
    a = pd.DataFrame({"x": [1.0, float("nan")], "s": ["a", None]})
    b = pd.DataFrame({"x": [1.0, None], "s": ["a", np.nan]})
    assert fingerprint(a) == fingerprint(b)
    assert canon_value(pd.NaT) == canon_value(None) == canon_value(pd.NA) == canon_value(math.nan)


def test_fingerprint_normalizes_dates_timestamps_and_arrays():
    a = pd.DataFrame({"d": [dt.date(2024, 1, 2)], "arr": [np.array([1.0, 2.0])]})
    b = pd.DataFrame({"d": [pd.Timestamp("2024-01-02 00:00:00")], "arr": [[1, 2]]})
    assert fingerprint(a) == fingerprint(b)
    utc = pd.Timestamp("2024-01-02 03:00:00", tz="UTC")
    assert canon_value(utc) == canon_value(dt.datetime(2024, 1, 2, 3))


def test_fingerprint_separates_booleans_and_values():
    assert canon_value(True) != canon_value(1)
    a = pd.DataFrame({"x": [1.0, 2.0]})
    assert fingerprint(a) != fingerprint(pd.DataFrame({"x": [1.0, 2.01]}))
    assert fingerprint(a) != fingerprint(pd.DataFrame({"y": [1.0, 2.0]}))
    assert fingerprint(a)["rows"] == 2


# -- tracing -------------------------------------------------------------------------


def test_trace_record_carries_every_field():
    tr = Tracer(enabled=True)
    with tr.span("workload", "w", seed=3) as root:
        with tr.span("op", "q", root, tag="p1.00.q") as op:
            with tr.span("layer", "build", op):
                pass
    recs = tr.records()
    assert [r["kind"] for r in recs] == ["layer", "op", "workload"]
    for r in recs:
        assert set(r) == set(SPAN_FIELDS)
        assert r["end"] >= r["start"] and r["duration_s"] >= 0
    by_id = {r["id"]: r for r in recs}
    assert len(by_id) == 3
    layer, opr, wl = recs
    assert layer["parent"] == opr["id"] and opr["parent"] == wl["id"] and wl["parent"] is None
    assert opr["attrs"] == {"tag": "p1.00.q"} and wl["attrs"] == {"seed": 3}
    json.dumps(recs)  # serializable as written to the trace file


def test_disabled_tracer_times_but_keeps_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op", "q") as sp:
        time.sleep(0.01)
    assert sp.duration_s >= 0.01
    assert tr.records() == []


def test_plan_counts():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- TakeOrderedAndProject(limit=10, orderBy=[revenue#25 DESC])
   +- HashAggregate(keys=[l_orderkey#12L], functions=[sum(x)])
      +- Exchange hashpartitioning(l_orderkey#12L, 4), ENSURE_REQUIREMENTS, [plan_id=66]
         +- *(2) SortMergeJoin [a#1], [b#2], Inner
            :- BroadcastHashJoin [o_orderkey#6L], [l_orderkey#12L], Inner, BuildRight, false
            :  :- ArrowEvalPython [f(x#1)], [pythonUDF0#9], 200
            :  :  +- InMemoryTableScan [x#1]
            :  +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)
            +- ReusedExchange [c#3], Exchange hashpartitioning(c#3, 4)
"""
    assert plan_counts(plan) == {
        "exchanges": 1,
        "sort_merge_joins": 1,
        "broadcast_joins": 1,
        "python_nodes": 1,
        "inmem_scans": 1,
    }


# -- inputs and the benchmark definition ---------------------------------------------


def test_generated_tables_depend_only_on_seed():
    a, b, c = datagen._tables(0.001, 7), datagen._tables(0.001, 7), datagen._tables(0.001, 8)
    assert list(a) == list(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert datagen.listings(10, 3, 5) == datagen.listings(10, 3, 5)


@pytest.mark.parametrize("n", range(2, BATCH_EVERY + 1))
def test_short_traffic_mix_has_exactly_one_batch(n):
    for seed in range(20):
        kinds = [r.kind for r in _mix(seed, n, 0, ["id_annonce"])]
        assert len(kinds) == n
        assert kinds.count("batch") == 1


def test_benchmark_json_matches_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == sorted(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
