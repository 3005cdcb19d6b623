"""One benchmark run of one workload, in its own process.

``run.py`` starts this script with the session settings pinned in the
environment and reads the JSON it writes to ``$PERFBENCH_RESULT``.
The run: start the session, build the inputs, set up and warm up the
workload, run ops in a closed loop, in the workload's fixed-size
passes, until their summed wall time reaches ``--seconds``, then check
every answer outside the timed window.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import workloads  # noqa: E402

# reported for a percentile that lands on a failed op ("over every latency")
FAILED_MS = 1e9


@dataclasses.dataclass
class Op:
    kind: str
    t0: float  # monotonic
    t1: float
    e0: float  # epoch seconds, for matching spans and event-log times
    e1: float
    ok: bool | None

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; a failed op (inf) is over every
    latency, so a quantile touching one reports FAILED_MS."""
    if not values:
        return float("nan")
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    x = v[lo] + (v[hi] - v[lo]) * (pos - lo) if v[hi] != math.inf else math.inf
    return FAILED_MS if math.isinf(x) else x


def tail_q(n: int) -> float:
    """The highest percentile up to p90 with at least ten samples
    beyond it; below 20 samples that is the median."""
    return max(0.5, min(0.9, (n - 10) / n)) if n else 0.5


def latencies(ops: list[Op]) -> list[float]:
    return [o.ms if o.ok else math.inf for o in ops]


def end_to_end(ops: list[Op], setup_s: float, window_s: float) -> tuple[dict, dict]:
    """The end-to-end metrics, and the sample counts behind them."""
    reads = [o for o in ops if o.kind in workloads.READ_KINDS]
    updates = [o for o in ops if o.kind == "update"]
    # workloads without a separate read or ETL op class report their
    # single op class under those names
    reads, updates = reads or ops, updates or ops
    q = tail_q(len(ops))
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": sum(1 for o in ops if o.ok) / window_s,
        "op_p50_ms": quantile(latencies(ops), 0.5),
        "op_p90_ms": quantile(latencies(ops), q),
        "read_p50_ms": quantile(latencies(reads), 0.5),
        "etl_pass_p50_ms": quantile(latencies(updates), 0.5),
    }
    samples = {
        "ops": len(ops), "op_p90_ms_percentile": round(q * 100, 1),
        "read_ops": len(reads), "etl_pass_ops": len(updates),
        "error_rate": sum(1 for o in ops if not o.ok) / max(len(ops), 1),
    }
    return metrics, samples


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_spawn = float(os.environ["PERFBENCH_T0"])
    work = os.environ["PERFBENCH_WORK"]

    layers = None
    if args.trace:
        import layers as layers_mod

        layers = layers_mod.Layers()
        layers.install()

    from noaa_data_pipeline_spark import session

    confs = {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's scratch and perf-counter files out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if args.trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    t = time.time()
    span = layers.tracer.start("session.get_spark") if layers else None
    spark = session.get_spark(f"perfbench-{args.workload}", extra_configs=confs)
    if span:
        layers.tracer.end(span)
    get_spark_ms = (time.time() - t) * 1000.0

    w = workloads.WORKLOADS[args.workload](spark, args.seed, work)
    w.traced = bool(args.trace)
    b0 = time.monotonic()
    w.build_inputs()
    s0 = time.monotonic()
    w.setup()
    s1 = time.monotonic()
    warm_ok = w.warmup()
    t_first = time.monotonic()
    setup_s = t_first - t_spawn
    print(f"perfbench setup: session {get_spark_ms / 1000:.1f} s, inputs {s0 - b0:.2f} s, "
          f"setup {s1 - s0:.1f} s, warm-up {t_first - s1:.1f} s", file=sys.stderr)

    ops: list[Op] = []
    timed = 0.0
    whole = w.passes_complete  # the window ends on a whole pass
    while timed < args.seconds or not whole(len(ops)):
        kind, pre, fn, post = w.op(len(ops))
        if pre:
            pre()
        e0, t0 = time.time(), time.monotonic()
        try:
            result, ok = fn(), True
        except Exception:  # noqa: BLE001 - a failed op is data, not the end of the run
            print(f"perfbench op {len(ops)} ({kind}) failed:", file=sys.stderr)
            traceback.print_exc()
            result, ok = None, False
        t1, e1 = time.monotonic(), time.time()
        timed += t1 - t0
        if ok and post is not None:
            ok = post(result) is not False
        ops.append(Op(kind, t0, t1, e0, e1, ok))

    c0 = time.monotonic()
    for op, ok in zip(ops, w.finish(len(ops))):
        op.ok = op.ok and ok
    print(f"perfbench checks: {time.monotonic() - c0:.1f} s", file=sys.stderr)
    print("perfbench ops: " + ", ".join(f"{o.kind} {o.ms:.0f}{'' if o.ok else ' FAILED'}" for o in ops),
          file=sys.stderr)
    w.close()
    metrics, samples = end_to_end(ops, setup_s, timed)
    failed = sum(1 for o in ops if not o.ok)
    out = {
        "correct": bool(warm_ok) and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "samples": samples,
        "end_to_end": metrics,
    }
    if layers is not None:
        out["per_layer"] = traced_metrics(layers, w, ops, spark, work, metrics, samples, get_spark_ms)
    with open(os.environ["PERFBENCH_RESULT"], "w") as fh:
        json.dump(out, fh)
    print(f"perfbench result written at {time.monotonic() - t_spawn:.1f} s", file=sys.stderr)
    return 0


def traced_metrics(layers, w, ops, spark, work, e2e, samples, get_spark_ms) -> dict:
    import layers as layers_mod
    import spans

    layers.restore()
    layers.tracer.dump(os.path.join(work, "spans.jsonl"))
    spark.stop()  # closes the event log
    log = spans.read_event_log(spans.event_log_lines(os.path.join(work, "eventlog")))
    extra = {
        "transport_calls": getattr(w, "transport_calls", 0),
        "rows_written": getattr(w, "rows_written", 0),
        "files_in_lake": layers_mod.lake_files(w.lake) if hasattr(w, "lake") else 0,
        "non_2xx": getattr(w, "status_counts", {}).get("non_2xx", 0),
        "http_kinds": set(workloads.READ_KINDS) | {"update"},
        "read_rows_out": sum(n for _, n in getattr(w, "read_rows", [])),
    }
    m = layers.metrics(ops, threading.get_ident(), log, extra)
    m["session.get_spark_ms"] = get_spark_ms
    if hasattr(w, "layer_metrics"):
        m.update(w.layer_metrics())
    m["error_rate"] = samples["error_rate"]
    m["traced.setup_s"] = e2e["setup_s"]
    m["traced.op_p50_ms"] = e2e["op_p50_ms"]
    return m


if __name__ == "__main__":
    rc = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # The result is written; run.py kills the Spark JVM next, so skip
    # the interpreter's teardown (joining py4j and server threads).
    os._exit(rc)
