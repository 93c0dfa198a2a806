"""Tests of the benchmark's helpers; no Spark needed.

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import read_log, span_table  # noqa: E402
from spans import Span, Tracer, attribute_stages  # noqa: E402
from stats import (hi_percentile, quartile_spread, self_time,  # noqa: E402
                   state_hash, union_length, unstolen)


def test_hi_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 41))  # 40 samples
    pct, v = hi_percentile(xs)
    assert (pct, v) == (75.0, 30)
    assert sum(1 for x in xs if x > v) == 10


def test_hi_percentile_order_and_duplicates():
    xs = [5.0] * 30 + [1.0] * 10
    assert hi_percentile(list(reversed(xs))) == (75.0, 5.0)


def test_hi_percentile_small_sample_reports_max():
    assert hi_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)
    # 19 samples: rank 9 would sit below the median
    assert hi_percentile(list(range(19))) == (100.0, 18.0)
    # 20 samples: rank 10 is the median and still has 10 beyond it
    assert hi_percentile(list(range(20))) == (50.0, 9.0)
    with pytest.raises(ValueError):
        hi_percentile([])


def test_quartile_spread():
    assert quartile_spread([10.0] * 10) == 0.0
    assert quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(5.5 / 5.5)


def test_unstolen_removes_the_stolen_share():
    # a quarter of the wanted CPU stolen: 4 s of wall would have been 3 s
    assert unstolen(4.0, 300, 100) == pytest.approx(3.0)
    assert unstolen(4.0, 300, 0) == 4.0
    # too short an interval to have ticked: left as measured
    assert unstolen(0.004, 0, 0) == 0.004


def test_freshness_takes_stolen_cpu_from_the_micro_batch_only():
    from workloads import LedgerWatch, _freshness

    watch = LedgerWatch("unused")
    watch.seen = {1: 2.9, 2: 2.9, 3: 9.0}
    # (time, jiffies in use, stolen); a quarter stolen during the batch
    watch.cpu = [(0.0, 0, 0), (1.0, 10, 0), (2.9, 310, 100), (9.0, 900, 100)]
    batch = {"_start": 1.0, "_end": 3.0}
    raw, fresh = _freshness([1, 2, 3, 4], {1: 0.0, 2: 0.5, 3: 8.0, 4: 8.5},
                            watch, [batch], 0.0)
    assert raw == pytest.approx([2.9, 2.4, 1.0])
    # 1.0 s (resp. 0.5 s) wait for the trigger, then 1.9 s of batch less
    # its stolen quarter; epoch 3 has no batch on record, so its whole
    # interval is taken less the share stolen in it (none); epoch 4
    # never committed
    assert fresh == pytest.approx([1.0 + 1.425, 0.5 + 1.425, 1.0])


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(-5, 1), (9, 20)], 0, 10) == 2
    assert union_length([], 0, 10) == 0
    assert union_length([(3, 3), (4, 2)], 0, 10) == 0


def test_self_time_subtracts_covered_part_once():
    # two overlapping children from a thread pool cover [1, 4] of [0, 10]
    assert self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == pytest.approx(7.0)
    # a child that outlives its parent only counts inside the parent
    assert self_time(0.0, 10.0, [(8.0, 12.0)]) == pytest.approx(8.0)
    assert self_time(0.0, 10.0, []) == 10.0


def test_tracer_nesting_self_time_and_pool_parent():
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner"):
            pass
        got = {}

        def pool_worker():
            with tr.span("pooled", callers=("outer",)) as sp:
                got["sp"] = sp

        t = threading.Thread(target=pool_worker)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    inner = tr.closed("inner")[0]
    assert inner.parent == outer.sid and inner.depth == 1
    assert got["sp"].parent == outer.sid
    assert tr.self_time(outer) <= outer.duration


def test_wrap_calls_through_and_restores():
    class Box:
        def add(self, a, b=0):
            return a + b

        def boom(self):
            raise KeyError("x")

    tr = Tracer()
    orig = Box.add
    tr.wrap(Box, "add", "Box.add",
            note=lambda sp, a, kw, out: sp.attrs.update(out=out))
    tr.wrap(Box, "boom", "Box.boom")
    assert Box().add(2, b=3) == 5
    with pytest.raises(KeyError):
        Box().boom()
    assert tr.closed("Box.add")[0].attrs["out"] == 5
    assert tr.closed("Box.boom")[0].attrs["error"] == "KeyError"
    tr.uninstall()
    assert Box.add is orig


def _span(sid, name, start, end, parent=None, depth=0):
    return Span(sid=sid, name=name, start=start, parent=parent, depth=depth, end=end)


def test_stage_goes_to_innermost_open_span():
    spans = [_span(1, "run", 0, 10),
             _span(2, "prepare", 1, 6, parent=1, depth=1),
             _span(3, "write", 3, 6, parent=2, depth=2),
             _span(4, "commit", 6.5, 7, parent=1, depth=1)]
    stages = [{"id": 0, "submit": 0.5}, {"id": 1, "submit": 2.0},
              {"id": 2, "submit": 4.0}, {"id": 3, "submit": 8.0},
              {"id": 4, "submit": 11.0}]
    owner = attribute_stages(stages, spans)
    assert {k: (v.name if v else None) for k, v in owner.items()} == {
        0: "run", 1: "prepare", 2: "write", 3: "run", 4: None}


def test_stage_tie_goes_to_latest_started_span():
    spans = [_span(1, "a", 0, 10, depth=1), _span(2, "b", 5, 10, depth=1)]
    owner = attribute_stages([{"id": 7, "submit": 6.0}], spans)
    assert owner[7].name == "b"


def test_state_hash_is_order_insensitive_and_multiset_sensitive():
    rows = [11, 2**63 + 5, 2**64 - 1, 7]
    assert state_hash(rows) == state_hash(list(reversed(rows)))
    assert state_hash(rows)[0] == 4
    assert state_hash(rows) != state_hash(rows[:-1])
    assert state_hash(rows) != state_hash(rows[:-1] + [8])
    assert 0 <= state_hash(rows)[1] < 2**64


def test_event_log_reader_and_span_table(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Metrics": {"Executor Run Time": 400}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Metrics": {"Executor Run Time": 100}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Stage Name": "save", "Number of Tasks": 2,
            "Submission Time": 2000, "Completion Time": 2500,
            "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 500},
                {"Name": "internal.metrics.executorCpuTime", "Value": 2e8},
                {"Name": "internal.metrics.output.bytesWritten", "Value": 64},
                {"Name": "time to run Python workers", "Value": "300"}]}},
    ]
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    stages, jobs = read_log(str(tmp_path), "local-1")
    assert jobs == [1.0]
    st = stages[0]
    assert (st["submit"], st["run_s"], st["cpu_s"], st["py_run_s"]) == (2.0, 0.5, 0.2, 0.3)
    assert st["task_run_s"] == [0.4, 0.1]
    table = span_table(stages, {3: _span(1, "write", 1.5, 3.0)})
    assert table["write"]["stages"] == 1
    assert table["write"]["wall_s"] == pytest.approx(0.5)


def test_benchmark_json_lists_every_layer_metric():
    from layers import LAYER_METRICS

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == \
        [(n, u) for n, u, _ in LAYER_METRICS]
