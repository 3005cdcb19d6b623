"""Span self-time arithmetic, the wrappers, and the event-log parser.

Run with ``python3 -m pytest perfbench/tests -q`` from the repo root.
"""

from __future__ import annotations

import os
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import spans  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


def _span(sid, parent, t0_ms, t1_ms, name="x"):
    return spans.Span(sid, parent, name, 1, t0_ms / 1000, t1_ms / 1000)


def test_self_time_subtracts_direct_children_only():
    tree = [
        _span(0, None, 0, 100, "root"),
        _span(1, 0, 10, 40, "a"),
        _span(2, 1, 20, 30, "a.child"),
        _span(3, 0, 50, 60, "b"),
    ]
    selfs = spans.self_times(tree)
    assert round(selfs[0], 6) == 60  # 100 - 30 - 10
    assert round(selfs[1], 6) == 20  # 30 - 10
    assert round(selfs[2], 6) == 10
    assert round(selfs[3], 6) == 10
    summary = spans.summarize(tree)
    assert summary["root"]["count"] == 1 and round(summary["a"]["self_ms"], 6) == 20


def test_wrap_links_parents_records_failures_and_restores():
    mod = types.ModuleType("m")

    def inner(x):
        if x < 0:
            raise ValueError("negative")
        return [x] * x

    def outer(x):
        return mod.inner(x)

    mod.inner, mod.outer = inner, outer
    tracer = spans.Tracer()
    tracer.wrap(mod, "inner", "m.inner", size=len)
    tracer.wrap(mod, "outer", "m.outer")
    assert mod.outer(3) == [3, 3, 3]
    try:
        mod.outer(-1)
    except ValueError:
        pass
    first_outer, first_inner = tracer.spans[0], tracer.spans[1]
    assert first_inner.parent == first_outer.sid and first_inner.n == 3
    assert [s.failed for s in tracer.spans[2:]] == [True, True]
    tracer.restore()
    assert mod.inner is inner and mod.outer is outer


def test_wrap_on_a_class_method():
    class Store:
        def read(self, t):
            return t

    tracer = spans.Tracer()
    original = Store.__dict__["read"]
    tracer.wrap(Store, "read", "store.read")
    assert Store().read("x") == "x" and tracer.spans[0].name == "store.read"
    tracer.restore()
    assert Store.__dict__["read"] is original


def test_covered_ms_unions_overlaps_and_clips():
    windows = [(0, 10), (5, 20), (30, 40), (100, 200)]
    assert spans.covered_ms(windows, 0, 50) == 30  # [0,20] + [30,40]
    assert spans.covered_ms(windows, 15, 35) == 10  # [15,20] + [30,35]
    assert spans.covered_ms([], 0, 10) == 0


def test_event_log_parser_on_fixture():
    with open(FIXTURE) as fh:
        log = spans.read_event_log(fh)
    assert log.jobs == [1000.0, 5000.0]
    assert log.stages == [(1010.0, 1400.0), (1500.0, 1900.0), (5010.0, 5200.0)]
    assert len(log.tasks) == 4

    # op window 1: [1000, 2000] ms holds job 0, stages 0-1 and tasks 0-2
    m = spans.engine_metrics(log, [(1000.0, 2000.0)])
    assert m["jobs"] == 1 and m["stages"] == 2 and m["tasks"] == 3
    assert m["failed_tasks"] == 1
    assert m["executor_run_ms"] == 300 + 200 + 50
    assert m["executor_cpu_ms"] == 250 + 150 + 40  # from nanoseconds
    assert m["gc_ms"] == 12
    assert m["input_bytes"] == 4096 and m["input_records"] == 100
    assert m["shuffle_write_bytes"] == 2048
    assert m["shuffle_fetch_wait_ms"] == 7
    assert m["spill_bytes"] == 512 + 256
    # stages cover [1010,1400] and [1500,1900]: 790 of the 1000 ms window
    assert m["driver_gap_ms"] == 1000 - 790

    both = spans.engine_metrics(log, [(1000.0, 2000.0), (5000.0, 5300.0)])
    assert both["jobs"] == 2 and both["tasks"] == 4
    assert both["driver_gap_ms"] == (1000 - 790) + (300 - 190)
