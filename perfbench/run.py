"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Pins every setting the session
factory reads, starts ``harness.py`` for the workload in a process
group of its own, waits for it to end, kills what it leaves (the
Spark JVM) and reaps every descendant, and prints two JSON lines: the
pinned settings with the sample counts, then the result
``{"correct", "attempted", "failed", "metrics"}`` (the end-to-end
metrics, or with ``--trace 1`` the per-layer metrics). All scratch
files live under ``.perfbench_work/`` in the checkout and are removed
at the end, except a traced run's spans, kept as
``.perfbench_work/traces/<workload>-<seed>.spans.jsonl``. Exits
non-zero without a result when the engine package is not in the
checkout or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_hourly", "oracle_serve", "analytics_headline")
RUN_TIMEOUT_S = 160
REAP_GRACE_S = 10.0

# Settings the session factory reads that must not come from the
# caller's shell: an inherited SPARK_LOCAL_DIRS overrides spark.local.dir,
# and SPARK_GRAFT_SF_DIR sets the derived shuffle width of any session.
UNSET = ("SPARK_LOCAL_DIRS", "SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SF_DIR")


def pinned_env(workload: str, work: str) -> tuple[dict, dict]:
    cpus = str(len(os.sched_getaffinity(0)))
    settings = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": "4g",  # the factory's 24g default exceeds a 15 GiB box
        "SPARK_EXECUTOR_MEMORY": "6g",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_AQE": "0",
        "SPARK_CODEGEN_CACHE_ENTRIES": "5000",
        "SPARK_GRAFT_SHUFFLE_TARGET_MB": "1",
        "SPARK_GRAFT_TMPFS_MIN_FREE_GB": "32",
        # the bucketed and warehouse profiles keep layout copies under
        # /tmp, outside the checkout; every workload runs without them
        "SPARK_GRAFT_BUCKETED": "0",
        "SPARK_GRAFT_WAREHOUSE": "0",
        "SPARK_GRAFT_PQ_INDEX": "0",
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
    }
    if workload == "analytics_headline":
        settings["SPARK_GRAFT_SF_DIR"] = os.path.join(work, "sf")
    env = {k: v for k, v in os.environ.items() if k not in UNSET}
    env.update(settings)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    shown = dict(settings)
    for k in UNSET:
        shown.setdefault(k, "(unset)")
    return env, shown


def become_subreaper() -> None:
    """Make orphaned descendants of this process its children (Linux
    PR_SET_CHILD_SUBREAPER). The Spark JVM outlives the harness, and
    PySpark's worker daemon leaves the run's process group; as our
    children both can be waited for and reaped at once, where init
    reaps them only after a second or so."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = fh.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            out.append(int(pid))
    return out


def stop_all(pgid: int) -> None:
    """Kill what is left of the run's process group (the Spark JVM,
    once the harness has ended; the result is written by then) and
    wait until every descendant has ended. Processes outside the group
    get REAP_GRACE_S to end on their own (the worker daemon exits when
    the JVM closes its stdin), then are killed."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                os.kill(child, signal.SIGKILL)
        time.sleep(0.02)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "noaa_data_pipeline_spark")):
        print("perfbench: engine package noaa_data_pipeline_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env, shown = pinned_env(args.workload, work)
    result_path = os.path.join(work, "result.json")
    env["PERFBENCH_WORK"] = work
    env["PERFBENCH_RESULT"] = result_path
    env["PERFBENCH_T0"] = repr(time.monotonic())
    cmd = [sys.executable, os.path.join(HERE, "harness.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    become_subreaper()
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        rc = -1
        proc.kill()
        proc.wait()
    finally:
        stop_all(proc.pid)
    try:
        with open(result_path) as fh:
            out = json.load(fh)
    except (OSError, ValueError):
        out = None
    spans_file = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans_file):  # a traced run's raw spans outlive its scratch
        traces = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        os.replace(spans_file, os.path.join(traces, f"{args.workload}-{args.seed}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass
    if rc != 0 or out is None:
        print(f"perfbench: workload process failed (exit {rc})", file=sys.stderr)
        return 1

    section = out["per_layer"] if args.trace else out["end_to_end"]
    metrics = _select(section, "per_layer" if args.trace else "end_to_end")
    print(json.dumps({"settings": shown, "samples": out["samples"]}))
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


def _select(section: dict, kind: str) -> dict:
    """Exactly the metrics BENCHMARK.json declares, with its units. A
    per-layer metric of a layer the workload bypasses reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    default = 0.0 if kind == "per_layer" else None
    out = {m["name"]: {"value": section.get(m["name"], default), "unit": m["unit"]} for m in spec[kind]}
    missing = [k for k, v in out.items() if v["value"] is None]
    if missing:
        raise KeyError(f"workload computed no {missing}")
    return out


if __name__ == "__main__":
    raise SystemExit(main())
