"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The interval tests are instant; the smoke tests run every workload at
``--scale tiny`` in both modes (about a minute each) and check that the
last line names every metric with its unit and that the outputs passed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from spans import (  # noqa: E402
    HostSpeed,
    JobStats,
    Span,
    Tracer,
    covered_within,
    union_length,
    uncovered_within,
)
from workloads import WORKLOADS, event_time_cuts  # noqa: E402


def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert union_length([(5, 6), (0, 10)]) == 10


def test_driver_only_time_is_span_minus_job_cover():
    jobs = [(1, 3), (2, 4), (6, 7), (-5, 0.5), (9, 12)]
    # inside [0, 10]: covered 0..0.5, 1..4, 6..7, 9..10
    assert covered_within(0, 10, jobs) == pytest.approx(5.5)
    assert uncovered_within(0, 10, jobs) == pytest.approx(4.5)
    assert uncovered_within(0, 10, []) == 10


def _span(tracer, sid, name, start, end, parent=None, intervals=()):
    sp = Span(name, start, end, parent=parent, id=sid)
    sp.stats = JobStats(jobs=len(intervals), intervals=list(intervals))
    tracer.spans.append(sp)
    return sp


def test_self_time_and_subtree_driver_only():
    tr = Tracer(spark=None, run_id="t", enabled=False, jvm_pid=None)
    root = _span(tr, 1, "pass", 0, 10)
    _span(tr, 2, "append", 1, 4, parent=1, intervals=[(1.5, 2.5)])
    _span(tr, 3, "refresh", 3, 8, parent=1, intervals=[(5, 7)])
    assert tr.self_s(root) == pytest.approx(3)  # 0..1 and 8..10
    assert tr.subtree_stats(root).jobs == 2
    assert tr.driver_only_s(root) == pytest.approx(7)


def test_host_speed_mean_is_taken_over_the_window_only():
    hs = HostSpeed()
    hs.samples = [(0.5, 9.0), (1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (3.5, 9.0)]
    assert hs.unit_cpu_s(1.0, 3.0) == pytest.approx(2.0)


def test_event_time_cuts_keep_equal_timestamps_together():
    import numpy as np

    ts = np.array([1, 2, 2, 2, 3, 4, 5, 5, 6, 7])
    cuts = event_time_cuts(ts, (0.25, 0.6, 0.8))
    part = np.searchsorted(np.asarray(cuts), ts, side="right")
    assert list(part) == sorted(part)
    for t in set(ts):
        assert len(set(part[ts == t])) == 1
    assert len(set(part)) == 4


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_emits_every_metric_with_unit(workload, trace):
    root = os.path.dirname(HERE)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = run.PER_LAYER if trace else run.END_TO_END
    assert set(result["metrics"]) == set(names)
    for name, m in result["metrics"].items():
        assert m["unit"] == names[name]
        assert isinstance(m["value"], float)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    key = "per_layer" if trace else "end_to_end"
    assert {m["name"]: m["unit"] for m in spec[key]} == names
