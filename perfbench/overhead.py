"""Tracing overhead: an untraced and a traced run of the same workload
and seed, and the difference of their end-to-end figures.

    python3 perfbench/overhead.py --workload oracle_serve --seed 1

The traced run reports its own ``setup_s`` and ``op_p50_ms`` as
``traced.setup_s`` and ``traced.op_p50_ms``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _run(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3)
    args = ap.parse_args()
    plain, traced = _run(args, 0), _run(args, 1)
    report = {}
    for name in ("setup_s", "op_p50_ms"):
        a, b = plain[name]["value"], traced[f"traced.{name}"]["value"]
        report[name] = {"untraced": a, "traced": b, "overhead": (b - a) / a}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "tracing_overhead": report}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
