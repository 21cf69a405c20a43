"""Fast self-tests of the benchmark's own arithmetic; no Spark job runs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import metrics, trace
from perfbench.common import TooFewSamples, driver_gap, percentile, union_length
from perfbench.wl_samza_stream import attribute_latency

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def test_p90_needs_ten_samples_beyond_it():
    xs = list(range(1, 101))  # 100 samples: p90 is 90, ten lie above it
    assert percentile(xs, 0.9, min_beyond=10) == 90
    with pytest.raises(TooFewSamples):
        percentile(xs[:99], 0.9, min_beyond=10)
    assert percentile(xs[:99], 0.9) == 90
    assert percentile([3.0, 1.0, 2.0], 0.5) == 2.0


def test_interval_union_and_driver_gap():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4), (3.5, 3.6)]) == pytest.approx(3.0)
    assert union_length([(2, 1)]) == 0  # empty interval
    # call 0..10; jobs cover 1..3 and 2..4 (overlap) and 9..12 (clipped to 9..10)
    assert driver_gap((0, 10), [(1, 3), (2, 4), (9, 12)]) == pytest.approx(6.0)
    assert driver_gap((0, 10), [(11, 12)]) == pytest.approx(10.0)


def test_event_log_ledger_on_recorded_log():
    log = trace.parse_event_log(os.path.join(ROOT, "perfbench", "fixtures",
                                             "eventlog_small.jsonl"))
    groups = {j["group"] for j in log["jobs"].values()}
    assert groups == {"s3", "s8"}
    jobs = [j for j in log["jobs"].values() if j["group"] == "s8"]
    lo, hi = min(j["start"] for j in jobs), max(j["end"] for j in jobs)
    row = trace.group_ledger(log, "s8", (lo - 0.1, hi + 0.05), cores=4)
    assert row["n_jobs"] == 4 and row["n_stages"] == 4
    assert row["materializations"] == 1  # wikipedia_stats' localCheckpoint
    assert row["task_s"] == pytest.approx(0.329)
    assert row["driver_gap_s"] == pytest.approx(
        (hi - lo + 0.15) - union_length([(j["start"], j["end"]) for j in jobs]))
    assert row["core_util"] == pytest.approx(row["task_s"] / (row["wall_s"] * 4))
    assert trace.group_ledger(log, "s3", (lo, hi), 4)["shuffle_write_mb"] > 0


def test_self_time_subtracts_children():
    spans = [{"id": "a", "parent": None, "start": 0.0, "end": 10.0},
             {"id": "b", "parent": "a", "start": 1.0, "end": 4.0},
             {"id": "c", "parent": "a", "start": 3.0, "end": 5.0},
             {"id": "d", "parent": "b", "start": 1.0, "end": 2.0}]
    st = trace.self_times(spans)
    assert st == {"a": pytest.approx(6.0), "b": pytest.approx(2.0),
                  "c": pytest.approx(2.0), "d": pytest.approx(1.0)}


def test_stream_latency_attribution_on_synthetic_trace():
    # three files of 20 events, due at t=0, 1, 2; commits carry the
    # cumulative edits the stats stage has emitted so far
    due = [0.0, 1.0, 2.0]
    expected = [20, 40, 60]
    commits = [(0.5, 0), (1.5, 20), (2.5, 45), (4.0, 60)]
    assert attribute_latency(due, expected, commits) == [1.5, 1.5, 2.0]
    # a file whose count is never reached has no latency
    assert attribute_latency(due, expected, commits[:3]) == [1.5, 1.5, None]
    # commits may be recorded out of order by concurrent callbacks
    assert attribute_latency(due, expected, commits[::-1]) == [1.5, 1.5, 2.0]


def test_benchmark_json_mirrors_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == \
        metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: (u, metrics.LAYER_BETTER[k]) for k, u in metrics.PER_LAYER.items()}
    from perfbench.run import WORKLOADS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
