"""Run-time scaffolding shared by the workloads: the pinned environment, the
Spark session, operation accounting, the program's CLI driven in-process,
and the independent DuckDB view of the sink."""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from urllib.parse import unquote

DRIVER_MEM = "2g"


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, work: str) -> None:
    """Everything the program and Spark read from the environment, set
    before the JVM starts: cores, driver heap, scratch dirs inside the
    run's own work dir, and the import path of the Python workers."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher and the driver) would otherwise keep a perf
    # data file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")


def start_spark(work: str, event_log_dir: str | None):
    from yaml_pipe_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: the process's memory does not depend on when
        # the JVM decides to grow it
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=ncpu(), extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, which flushes the event log, then the JVM behind
    it, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Operation:
    """One user operation: its timed product call and its checks."""

    def __init__(self, harness: "Harness", kind: str):
        self.harness = harness
        self.kind = kind
        self.ok = True
        self.elapsed: float | None = None

    def timed(self, fn, *args, **kwargs):
        t0 = time.perf_counter()
        result = fn(*args, **kwargs)
        self.elapsed = time.perf_counter() - t0
        return result

    def check(self, cond: bool, message: str) -> None:
        if not cond:
            self.ok = False
            self.harness.problems.append(f"{self.kind}: {message}")


class Harness:
    def __init__(self, spark, t_start: float, tracer=None):
        self.spark = spark
        self.t_start = t_start
        self.setup_s: float | None = None
        self._pending_tracer = tracer
        self.tracer = None
        self.latency: dict[str, list[float]] = defaultdict(list)
        self.setup_latency: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.timed_ops = False
        self.op_s = 0.0  # summed timed time of every operation so far
        self.loaded = 0
        self.changed = 0

    def begin_measurement(self) -> None:
        """End of set-up: record its time, start timing operations, and
        install the tracer so spans cover the measured loop only."""
        self.setup_s = time.perf_counter() - self.t_start
        self.timed_ops = True
        if self._pending_tracer is not None:
            self.tracer = self._pending_tracer
            self.tracer.install()

    @contextlib.contextmanager
    def operation(self, kind: str):
        """Count an operation; an exception or a failed check fails it.
        The latency of a successful operation goes to `latency` during the
        measured loop and to `setup_latency` before it."""
        op = Operation(self, kind)
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.set_op(self.attempted)
        try:
            yield op
        except Exception:
            op.ok = False
            self.problems.append(f"{kind}: raised\n{traceback.format_exc()}")
        if op.elapsed is not None:
            self.op_s += op.elapsed
        if not op.ok:
            self.failed += 1
        elif op.elapsed is not None:
            (self.latency if self.timed_ops else self.setup_latency)[kind].append(op.elapsed)

    def root_span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    # -- the program's entry points ----------------------------------------
    def cli(self, op: Operation, *argv: str):
        """`cli.main(argv)` in-process, timed; returns the JSON the command
        printed last. A non-zero exit fails the operation."""
        from yaml_pipe_spark import cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = op.timed(cli.main, list(argv))
        op.check(rc == 0, f"{argv[0]} exited {rc}")
        lines = [line for line in buf.getvalue().splitlines() if line.strip()]
        return json.loads(lines[-1]) if lines else None

    def run_pipeline(self, op: Operation, config: str, loaded: int, changed: int) -> dict:
        report = self.cli(op, "run", "-c", config)
        op.check(isinstance(report, dict), f"run printed no report: {report!r}")
        report = report or {}
        op.check(report.get("loaded") == loaded,
                 f"loaded {report.get('loaded')} != generated {loaded}")
        op.check(report.get("changed") == changed,
                 f"changed {report.get('changed')} != generated {changed}")
        if self.timed_ops:
            self.loaded += int(report.get("loaded") or 0)
            self.changed += int(report.get("changed") or 0)
        return report

    def search(self, op: Operation, spec, query: str, k: int, sink_sources: set[str],
               forgotten: set[str] = frozenset()) -> list:
        """One `search_corpus` call and the collect of its k rows, timed
        together: embed, staleness gate, top-k, join, collect."""
        from yaml_pipe_spark import search

        def once():
            with self.root_span("search.query", "search"):
                return search.search_corpus(self.spark, spec, query, k=k).collect()

        rows = op.timed(once)
        op.check(len(rows) == k, f"{len(rows)} rows, wanted {k}")
        op.check([r["rank"] for r in rows] == list(range(1, len(rows) + 1)),
                 f"ranks {[r['rank'] for r in rows]}")
        bad = {r["source"] for r in rows} - sink_sources
        op.check(not bad, f"sources not in the sink: {sorted(bad)[:3]}")
        back = {r["source"] for r in rows} & set(forgotten)
        op.check(not back, f"forgotten sources served: {sorted(back)}")
        return rows


def sink_counts(sink_dir: str) -> dict[str, int]:
    """Rows per source, read by DuckDB straight from the sink's parquet
    files: a reader independent of Spark and of the program. The source
    value comes from the hive partition directory name."""
    import duckdb

    pattern = os.path.join(sink_dir, "**", "*.parquet").replace("'", "''")
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT regexp_extract(filename, '/source=([^/]*)/', 1) AS s, count(*) "
            f"FROM read_parquet('{pattern}', filename = true, hive_partitioning = false) "
            "GROUP BY s").fetchall()
    finally:
        con.close()
    return {unquote(s): int(n) for s, n in rows if n and s != "__empty__"}


def write_yaml(path: str, text: str) -> str:
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    return path


def reset_dirs(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
