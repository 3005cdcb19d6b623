"""Spans placed from outside the program, and the Spark event-log parser.

A traced run wraps public functions of the engine's modules in spans.
Nothing in the engine is edited: ``Tracer.wrap`` swaps a module or
class attribute for a timing wrapper and ``Tracer.restore`` puts the
original back. Spans stay in memory, each with a parent link (the
span open on the same thread when it started), and are written once
at the end, so the cost while measuring is two clock reads and a
list append per call.

Self time of a span is its duration minus the durations of its
direct children. The event-log half reads the JSON lines that
``spark.eventLog.enabled`` writes, so each op's window can be split
into task metrics and the driver gap no running stage covers.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import threading
import time


@dataclasses.dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    thread: int
    t0: float  # time.time() seconds, comparable with event-log millis
    t1: float = 0.0
    failed: bool = False
    n: float = 0.0  # optional size recorded from the return value

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def start(self, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            span = Span(len(self.spans), stack[-1].sid if stack else None, name,
                        threading.get_ident(), time.time())
            self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: Span, failed: bool = False) -> None:
        span.t1 = time.time()
        span.failed = failed
        self._stack().pop()

    def wrap(self, owner, attr: str, name: str, size=None) -> None:
        """Replace ``owner.attr`` (a module function or a method defined
        on the class ``owner``) with a span-recording wrapper.
        ``size(result)`` may return a number kept on the span."""
        original = owner.__dict__[attr]

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            span = self.start(name)
            try:
                out = original(*args, **kwargs)
            except BaseException:
                self.end(span, failed=True)
                raise
            self.end(span)
            if size is not None:
                span.n = size(out)
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dataclasses.asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time in ms (duration minus direct children)."""
    child_ms: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
    return {s.sid: s.ms - child_ms.get(s.sid, 0.0) for s in spans}


def summarize(spans: list[Span]) -> dict[str, dict[str, float]]:
    """name -> {count, ms (inclusive), self_ms, failures, n}."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        agg = out.setdefault(s.name, {"count": 0, "ms": 0.0, "self_ms": 0.0, "failures": 0, "n": 0.0})
        agg["count"] += 1
        agg["ms"] += s.ms
        agg["self_ms"] += selfs[s.sid]
        agg["failures"] += s.failed
        agg["n"] += s.n
    return out


# --- Spark event log ---------------------------------------------------------

# task metric -> (event-log field path, scale to the reported unit)
_TASK_METRICS = {
    "executor_run_ms": (("Executor Run Time",), 1.0),
    "executor_cpu_ms": (("Executor CPU Time",), 1e-6),  # nanoseconds
    "gc_ms": (("JVM GC Time",), 1.0),
    "input_bytes": (("Input Metrics", "Bytes Read"), 1.0),
    "input_records": (("Input Metrics", "Records Read"), 1.0),
    "shuffle_write_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1.0),
    "shuffle_fetch_wait_ms": (("Shuffle Read Metrics", "Fetch Wait Time"), 1.0),
    "spill_bytes": (("Memory Bytes Spilled",), 1.0),
    "disk_spill_bytes": (("Disk Bytes Spilled",), 1.0),
}


@dataclasses.dataclass
class EventLog:
    jobs: list[float]  # submission times, epoch ms
    stages: list[tuple[float, float]]  # (submitted, completed), epoch ms
    tasks: list[tuple[float, bool, dict[str, float]]]  # (finish ms, failed, metrics)


def event_log_lines(log_dir: str):
    """Lines of the one application log under ``log_dir``: a plain
    file, or Spark 4's ``eventlog_v2_*`` directory of ``events_<n>_*``
    parts."""
    import os
    import re

    paths = []
    for root, _, files in os.walk(log_dir):
        for f in files:
            m = re.match(r"events_(\d+)_", f)
            if m or not f.startswith(("appstatus_", ".")):
                paths.append((int(m.group(1)) if m else 0, os.path.join(root, f)))
    for _, path in sorted(paths):
        with open(path) as fh:
            yield from fh


def read_event_log(lines) -> EventLog:
    log = EventLog([], [], [])
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.jobs.append(float(ev["Submission Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info.get("Submission Time") is not None and info.get("Completion Time") is not None:
                log.stages.append((float(info["Submission Time"]), float(info["Completion Time"])))
        elif kind == "SparkListenerTaskEnd":
            metrics = {}
            raw = ev.get("Task Metrics") or {}
            for key, (path, scale) in _TASK_METRICS.items():
                v = raw
                for p in path:
                    v = v.get(p, {}) if isinstance(v, dict) else {}
                metrics[key] = float(v or 0) * scale
            failed = ev.get("Task End Reason", {}).get("Reason") != "Success"
            log.tasks.append((float(ev["Task Info"]["Finish Time"]), failed, metrics))
    return log


def covered_ms(windows: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``windows`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in windows if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, 0.0, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def engine_metrics(log: EventLog, ops: list[tuple[float, float]]) -> dict[str, float]:
    """Engine totals over the op windows (epoch ms): jobs submitted,
    stages and tasks finished inside a window, task-metric sums, and
    the driver gap (op wall time no running stage covers)."""
    def inside(t: float) -> bool:
        return any(lo <= t <= hi for lo, hi in ops)

    out = {"jobs": float(sum(inside(t) for t in log.jobs)),
           "stages": float(sum(inside(done) for _, done in log.stages)),
           "tasks": 0.0, "failed_tasks": 0.0}
    for key in _TASK_METRICS:
        out[key] = 0.0
    for finish, failed, metrics in log.tasks:
        if inside(finish):
            out["tasks"] += 1
            out["failed_tasks"] += failed
            for key, v in metrics.items():
                out[key] += v
    out["spill_bytes"] += out.pop("disk_spill_bytes")
    out["driver_gap_ms"] = sum((hi - lo) - covered_ms(log.stages, lo, hi) for lo, hi in ops)
    return out
