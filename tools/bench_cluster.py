#!/usr/bin/env python
"""Multi-executor scale-out evidence (r6 VERDICT task 8).

Every 100 TB claim in the plan docstrings rests on local[32] plan
shapes, where an "exchange" is an in-process array handoff. This
harness re-times the heavy registry entries under

- ``local[32]``             — the per-round bench profile (baseline),
- ``local-cluster[2,16,8g]``— two separate executor JVMs, so every
  exchange serializes, ships over loopback, and deserializes: the
  cheapest honest approximation of a real cluster boundary, and
- a ``spark.sql.shuffle.partitions`` sweep (16/32/64/128) on
  local[32] — whether the plans are robust to the reducer-width
  knob a cluster operator actually turns.

If a plan only looked good because its shuffles were free, the
local-cluster column exposes it (ratio >> 1 vs baseline beyond the
fixed serialization tax). Writes BENCH_CLUSTER.json and prints one
JSON line. See GATE_LOG.md for the per-round analysis.

Usage: python tools/bench_cluster.py [--queries ...] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

QUERIES = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_ann_lsh_hyperplane",
    "decontam_ngram_overlap",
    "q9_product_type_profit",
    "q21_waiting_suppliers",
]

CONFIGS = [
    # (label, master, shuffle_partitions)
    ("local32_s16", "local[32]", 16),
    ("local32_s32", "local[32]", 32),
    ("local32_s64", "local[32]", 64),
    ("local32_s128", "local[32]", 128),
    ("cluster2x16_s32", "local-cluster[2,16,8192]", 32),
    # dense-tier two-JVM profile (x100mut+ graphs): pair with
    # --executor-memory 20g --driver-memory 48g (the r12/r14
    # raised-heap protocol; the master capacity field is auto-synced
    # to the requested executor heap by the flag). Not part of the
    # default sweep: select it explicitly via --configs.
    ("cluster2x16_mem20_s32", "local-cluster[2,16,20480]", 32),
]
DEFAULT_SWEEP = [label for label, _, _ in CONFIGS if label != "cluster2x16_mem20_s32"]


def run_config(
    label: str,
    master: str,
    shuffle: int,
    names: list[str],
    sf_dir: str,
    reps: int = 3,
    fresh_frames: bool = False,
) -> dict:
    os.environ.setdefault("SPARK_HOME", __import__("pyspark").__path__[0])
    from noaa_data_pipeline_spark.session import get_spark

    spark = get_spark(f"bench_cluster_{label}", master=master, shuffle_partitions=shuffle)
    try:
        from noaa_data_pipeline_spark.plans import resolve

        try:  # any tier is benchable by name
            fns = {n: resolve(n).fn for n in names}
        except KeyError as exc:
            raise SystemExit(exc.args[0]) from None
        # Prepared-statement protocol by default (construct once, run
        # many — plan assembly is Py4J bookkeeping, not engine work).
        # --fresh-frames inverts this for EAGER entries, whose fn()
        # computes at construction (connected_components runs its
        # checkpointed propagation rounds inside the call): there the
        # prepared frame replays checkpoints, under-measuring the
        # entry and pinning checkpoint blocks across runs.
        frames = {} if fresh_frames else {n: fns[n](spark, sf_dir) for n in names}

        def run(n: str) -> None:
            df = fns[n](spark, sf_dir) if fresh_frames else frames[n]
            df.write.format("noop").mode("overwrite").save()

        for n in names:  # codegen + JIT warm pass
            run(n)
        timings: dict[str, float] = {}
        for _ in range(reps):
            for n in names:
                t0 = time.perf_counter()
                run(n)
                e = round(time.perf_counter() - t0, 3)
                timings[n] = min(timings.get(n, e), e)
        return timings
    finally:
        spark.stop()
        # one engine per process: plan/bucket caches key on
        # applicationId, so a stopped session's entries are dropped
        # by the next session's first load


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--configs",
        nargs="*",
        default=None,
        help="subset of config labels to run (default: all); use for "
        "multi-minute entries where the full 5-config sweep is "
        "prohibitive — e.g. --configs local32_s32 cluster2x16_s32",
    )
    ap.add_argument(
        "--reps",
        type=int,
        default=3,
        help="timed passes per config after the warm pass (best-of); "
        "1 is enough signal for 100s-scale walls",
    )
    ap.add_argument(
        "--fresh-frames",
        action="store_true",
        help="construct the DataFrame inside every run instead of "
        "once up front — required for eager entries (CC-based "
        "composites) whose fn() computes at construction",
    )
    ap.add_argument(
        "--driver-memory",
        default=None,
        help="SPARK_DRIVER_MEMORY for the runs (e.g. 48g). The "
        "dense-graph tiers (x100mut+) REQUIRE the raised-heap "
        "profile — 48g local[32], warehouse/bucketed off — or the "
        "walls measure allocator thrash, not the plan (GATE_LOG r14: "
        "two runs at the 24g default produced GCLocker retry "
        "warnings and +10-20%% walls that vanished at 48g). This "
        "flag puts that protocol in the tool instead of a side "
        "script.",
    )
    ap.add_argument(
        "--executor-memory",
        default=None,
        help="SPARK_EXECUTOR_MEMORY for local-cluster configs "
        "(e.g. 20g; pairs with --driver-memory for the matched-"
        "total-memory dense-tier protocol)",
    )
    ap.add_argument(
        "--cc-cap-width",
        type=int,
        default=None,
        help="A/B harness hook (r14 VERDICT task 4): cap the CC "
        "propagation-round shuffle width at N by wrapping "
        "plans.iterative._cc_shuffle_width with min(width, N) — the "
        "pre-lift behavior — and suffix result rows with _cap<N>. "
        "Measurement-only: the registered plans are untouched; this "
        "exists so the width lift's free-on-cluster claim gets its "
        "measured point without editing the entry closures mid-round",
    )
    ap.add_argument(
        "--no-warehouse",
        action="store_true",
        help="run with SPARK_GRAFT_WAREHOUSE=0 and "
        "SPARK_GRAFT_BUCKETED=0 (the dense-tier protocol: the "
        "bucketed-layout build is irrelevant to CC composites and "
        "its one-time write perturbs the warm pass)",
    )
    args = ap.parse_args()
    # Heavy tiers spill real GBs: pin the shuffle scratch to DISK so
    # it never lands on the session default's RAM tmpfs (/dev/shm),
    # where a big spill ENOSPCs and competes with the raised heap
    # (r15 VERDICT item 1). An explicit env still wins.
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/tmp/noaa_spark_scale_local")
    if args.driver_memory:
        os.environ["SPARK_DRIVER_MEMORY"] = args.driver_memory
    if args.executor_memory:
        os.environ["SPARK_EXECUTOR_MEMORY"] = args.executor_memory
    if args.no_warehouse:
        os.environ["SPARK_GRAFT_WAREHOUSE"] = "0"
        os.environ["SPARK_GRAFT_BUCKETED"] = "0"
    cap_suffix = ""
    if args.cc_cap_width is not None:
        from noaa_data_pipeline_spark.plans import iterative as _iter

        _orig_width = _iter._cc_shuffle_width
        cap = args.cc_cap_width

        def _capped(n_edges: int, narrow: int) -> int:
            return min(_orig_width(n_edges, narrow), cap)

        _iter._cc_shuffle_width = _capped
        cap_suffix = f"_cap{cap}"
    names = args.queries or QUERIES
    configs = [c for c in CONFIGS if c[0] in DEFAULT_SWEEP]
    if args.configs:
        unknown_cfg = set(args.configs) - {label for label, _, _ in CONFIGS}
        if unknown_cfg:
            raise SystemExit(f"unknown config labels {sorted(unknown_cfg)}")
        configs = [c for c in CONFIGS if c[0] in args.configs]

    # warehouse profile, same as bench.py
    os.environ.setdefault("SPARK_GRAFT_BUCKETED", "1")
    os.environ.setdefault("SPARK_GRAFT_WAREHOUSE", "1")

    if args.executor_memory:
        # a local-cluster master pins MiB/worker in its third field;
        # keep it consistent with the requested executor heap or the
        # context refuses to launch ("Asked to launch cluster with
        # 8192 MiB/worker but requested N MiB/executor")
        mem = args.executor_memory.lower().rstrip("gm")
        mib = int(float(mem) * (1024 if args.executor_memory.lower().endswith("g") else 1))
        configs = [
            (
                label,
                re.sub(r"(local-cluster\[\d+,\d+,)\d+(\])", rf"\g<1>{mib}\g<2>", master),
                shuffle,
            )
            for label, master, shuffle in configs
        ]

    results: dict[str, dict] = {}
    for label, master, shuffle in configs:
        timings = run_config(
            label,
            master,
            shuffle,
            names,
            args.sf_dir,
            reps=args.reps,
            fresh_frames=args.fresh_frames,
        )
        if cap_suffix:
            timings = {f"{n}{cap_suffix}": v for n, v in timings.items()}
        results[label] = timings

    base = results.get("local32_s32", {})
    ratios = {
        label: {
            n: (round(t / base[n], 2) if base.get(n) else None)
            for n, t in timings.items()
        }
        for label, timings in results.items()
        if label != "local32_s32"
    }
    run_configs = {
        label: {
            "master": m,
            "shuffle_partitions": s,
            **(
                {"executor_memory": args.executor_memory}
                if args.executor_memory and "local-cluster" in m
                else {}
            ),
        }
        for label, m, s in configs
    }
    out = {
        "metric": "cluster_and_shuffle_sweep_vs_local32",
        "sf_dir": args.sf_dir,
        "configs": run_configs,
        "timings_sec": results,
        "ratio_vs_local32_s32": ratios,
    }
    # one record per lake: a scale-point run must not clobber the
    # sf0.1 record (or vice versa)
    path = os.path.join(REPO, "BENCH_CLUSTER.json")
    merged: dict = {"metric": out["metric"], "lakes": {}}
    if os.path.exists(path):
        with open(path) as fh:
            prior = json.load(fh)
        if "lakes" in prior:
            merged = prior
        elif "sf_dir" in prior:  # migrate single-run format
            merged["lakes"][os.path.basename(prior["sf_dir"].rstrip("/"))] = prior
    key = os.path.basename(args.sf_dir.rstrip("/"))
    prior_lake = merged["lakes"].get(key)
    if prior_lake:
        # extend the lake record per-config/per-query instead of
        # clobbering it (a --queries or --configs subset run must not
        # erase the other rows' evidence); the per-label config dict
        # is refreshed so a label always describes its latest rows
        prior_lake["configs"] = {**prior_lake.get("configs", {}), **run_configs}
        for label, t in out["timings_sec"].items():
            prior_lake["timings_sec"].setdefault(label, {}).update(t)
        for label, rr in out["ratio_vs_local32_s32"].items():
            prior_lake.setdefault("ratio_vs_local32_s32", {}).setdefault(
                label, {}
            ).update(rr)
    else:
        merged["lakes"][key] = out
    with open(path, "w") as fh:
        json.dump(merged, fh, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
