"""bench.py's quiet-host record: one entry per core count."""

from __future__ import annotations

import json
import os

import bench


def test_quiet_record_is_kept_per_core_count(tmp_path):
    path = str(tmp_path / "BENCH_QUIET.json")
    assert bench.read_quiet_best(path, 4) is None
    bench.record_quiet(path, 32, {"quiet_best": 13.6})
    bench.record_quiet(path, 4, {"quiet_best": 21.5})
    assert bench.read_quiet_best(path, 32) == 13.6
    assert bench.read_quiet_best(path, 4) == 21.5
    assert bench.read_quiet_best(path, 8) is None
    bench.record_quiet(path, 4, {"quiet_best": 20.0})
    assert json.load(open(path)) == {"32": {"quiet_best": 13.6}, "4": {"quiet_best": 20.0}}


def test_committed_quiet_record_is_keyed_by_core_count():
    path = os.path.join(os.path.dirname(os.path.abspath(bench.__file__)), "BENCH_QUIET.json")
    assert bench.read_quiet_best(path, 32) is not None
