#!/usr/bin/env python3
"""Write a traced-run record: for each workload, one untraced run and one
traced run with the same seed, side by side.

    python3 perfbench/record.py --seed 1 --out perfbench/records/baseline.json

Each run measures BENCHMARK.json's `run_seconds` unless --seconds is given.

The record holds, per workload: the end-to-end metrics and named figures of
the untraced run, the per-layer metrics of the traced run, whether each
traced operation's self times sum to its root span, and the tracing
overhead as traced minus untraced median latency per operation kind.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from run import WORKLOAD_NAMES  # noqa: E402


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(HERE), timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} failed:\n{p.stderr[-3000:]}")
    detail, result = (json.loads(line) for line in p.stdout.strip().splitlines()[-2:])
    return detail, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    record = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    for w in WORKLOAD_NAMES:
        plain_detail, plain = _run(w, args.seed, args.seconds, 0)
        traced_detail, traced = _run(w, args.seed, args.seconds, 1)
        overhead = {}
        for kind, xs in plain_detail["latency_s"].items():
            ys = traced_detail["latency_s"].get(kind)
            if xs and ys:
                overhead[kind] = {"untraced_s": stats.median(xs), "traced_s": stats.median(ys),
                                  "overhead_s": stats.median(ys) - stats.median(xs)}
        roots = traced_detail["attribution"]["roots"]
        record["workloads"][w] = {
            "end_to_end": {k: v["value"] for k, v in plain["metrics"].items()},
            "named": plain_detail["named"],
            "correct": plain["correct"] and traced["correct"],
            "attempted": plain["attempted"] + traced["attempted"],
            "failed": plain["failed"] + traced["failed"],
            "load": {"untraced": [plain_detail["load_before"], plain_detail["load_after"]],
                     "traced": [traced_detail["load_before"], traced_detail["load_after"]]},
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            "tracing_overhead": overhead,
            "jobs": {k: traced_detail["attribution"][k]
                     for k in ("jobs_total", "jobs_charged", "jobs_tagged")},
            "self_time_sums_to_roots": all(
                abs(r["self_sum_s"] - r["duration_s"]) < 1e-6 for r in roots),
            "roots": roots,
        }
        print(f"{w}: correct={record['workloads'][w]['correct']}", file=sys.stderr)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
