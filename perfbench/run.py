#!/usr/bin/env python3
"""Product-path benchmark for yaml_pipe_spark.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. One process, one closed-loop client, Spark on
local[nproc] with a 2g driver heap. Inputs come from perfbench/gen.py and
the seed; the program sees only the generated files. Every operation checks
its output against the generator's truth or DuckDB's reading of the sink.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 the wrapped layer calls are traced and the metrics are the
per-layer ones, charged from Spark's event log (perfbench/tracing.py). The
line before it is a detail record: the workload's own named figures, the
search tail, ops_failed_ratio and the box load before and after.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from harness import Harness, log, pin_environment, start_spark, stop_spark  # noqa: E402

WORKLOAD_NAMES = ("ingest", "serve")
END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "search_p50_s": "s",
    "cycle_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _program_importable() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import yaml_pipe_spark.cli  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the program from {ROOT}: {e}")
        return False
    return True


def main(argv=None) -> int:
    args = parse_args(argv)
    if not _program_importable():
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    # a fresh work dir per run, removed once the result is out
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _report(args, work, out_dir)
    finally:
        t0 = time.perf_counter()
        shutil.rmtree(work, ignore_errors=True)
        log(f"perfbench: removed the work dir in {time.perf_counter() - t0:.1f} s")


def _report(args, work: str, out_dir: str) -> int:
    stderr_log = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    saved_stderr = os.dup(2)
    try:
        with open(stderr_log, "w") as f:
            os.dup2(f.fileno(), 2)  # the JVM inherits this: its log stays out of the way
        result, detail = _run(args, work)
    finally:
        sys.stderr.flush()
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)
    if result is None:
        log(f"perfbench: run failed; log in {stderr_log}")
        with open(stderr_log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        return 1
    for problem in detail.get("problems", [])[:20]:
        log(f"perfbench: check failed: {problem}")
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result), flush=True)
    return 0


def _run(args, work: str):
    from workloads import WORKLOADS

    probe_before = stats.load_probe()
    t_setup = time.perf_counter()
    pin_environment(ROOT, work)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    with stats.RssSampler() as rss:
        spark = start_spark(work, event_dir)
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark.sparkContext)
        h = Harness(spark, t_setup, tracer)
        try:
            out = WORKLOADS[args.workload](h, args.seed, args.seconds, work)
        except Exception:
            import traceback

            traceback.print_exc()
            stop_spark(spark)
            _wait_for_children()
            return None, None
        finally:
            if tracer is not None:
                tracer.uninstall()
        t_loop_end = time.perf_counter()
        stop_spark(spark)
    t_stopped = time.perf_counter()
    _wait_for_children()
    t_reaped = time.perf_counter()
    probe_after = stats.load_probe()

    lat = h.latency
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops_failed_ratio": h.failed / max(1, h.attempted),
        "problems": h.problems,
        "load_before": probe_before, "load_after": probe_after,
        "env": {"cpus": os.environ["SPARK_GRAFT_CPUS"],
                "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]},
        "latency_s": {k: [round(x, 4) for x in v] for k, v in lat.items()},
        "setup_latency_s": {k: [round(x, 4) for x in v] for k, v in h.setup_latency.items()},
        "inputs": out["inputs"],
        "cycles_s": [round(x, 4) for x in out["cycles"]],
        "phases_s": {"start": t_setup - T_START, "setup": h.setup_s,
                     "measured": t_loop_end - t_setup - h.setup_s,
                     "stop": t_stopped - t_loop_end, "reap": t_reaped - t_stopped},
        "named": {},
    }
    for name, (kind, unit) in out.get("named", {}).items():
        if lat.get(kind):
            detail["named"][name] = {"value": stats.median(lat[kind]), "unit": unit}
    for name, (value, unit) in out.get("values", {}).items():
        detail["named"][name] = {"value": value, "unit": unit}
    detail["named"]["search_tail_s"] = stats.tail(lat.get(out["search"], []))
    detail["named"]["peak_rss_mb"] = {"value": rss.peak_mb, "unit": "MB"}

    missing = []
    if args.trace:
        from tracing import layer_report, per_layer_units, read_event_log

        (log_name,) = os.listdir(event_dir)
        metrics, attribution = layer_report(
            tracer.spans, read_event_log(os.path.join(event_dir, log_name)), tracer.counters,
            source_roots=out.get("source_roots", []), sink_root=out.get("sink_root", ""),
            changed=h.changed, loaded=h.loaded)
        units = per_layer_units()
        result_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        detail["attribution"] = attribution
        _write_trace(args, tracer, metrics, attribution)
    else:
        runs = lat.get(out["run"], [])
        searches = lat.get(out["search"], [])
        values = {
            "setup_s": h.setup_s,
            "run_s": stats.median(runs) if runs else None,
            "search_p50_s": stats.median(searches) if searches else None,
            "cycle_s": stats.median(out["cycles"]),
            "peak_rss_mb": rss.peak_mb,
        }
        missing = [k for k, v in values.items() if v is None]
        if missing:
            h.problems.append(f"no successful samples for {missing}")
        result_metrics = {k: {"value": v if v is not None else 0.0, "unit": END_TO_END_UNITS[k]}
                          for k, v in values.items()}
        units = END_TO_END_UNITS
    result = {"correct": h.failed == 0 and not missing,
              "attempted": h.attempted, "failed": h.failed,
              "metrics": result_metrics}
    problems = stats.check_result(result, units)
    if problems:
        log(f"perfbench: malformed result {problems}")
        return None, None
    return result, detail


def _write_trace(args, tracer, metrics: dict, attribution: dict) -> None:
    path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "metrics": metrics,
                   "attribution": attribution, "counters": dict(tracer.counters),
                   "spans": tracer.spans}, f)


def _wait_for_children(timeout_s: float = 60.0) -> None:
    """Wait until every process this run started has exited."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if len(stats.process_tree()) <= 1:
            return
        time.sleep(0.2)
    import signal

    for pid in stats.process_tree()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


if __name__ == "__main__":
    raise SystemExit(main())
