"""Outside-in layer tracing for the product-path benchmark.

Spans are recorded by wrapping the program's public calls from here, never
by editing the program. Each span carries (id, name, layer, start, end,
parent, op); the parent comes from a context variable that is carried into
`ThreadPoolExecutor` tasks, so spans opened on the program's worker threads
still hang under the call that submitted them.

Spark work is charged to spans from Spark's own event log: every span sets
the SparkContext local property `perfbench.span` on its thread, so each job
names the innermost span open on the thread that submitted it. A job with no
tag is charged by time window to the innermost span open when it started.

Self time shares wall time out so that a tree's self times add up to its
root: at every instant, the open spans with no open child split that instant
equally. `driver_s` is the part of a span's self time during which no job
charged to that span was running (plan building, py4j round trips, Python).
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import contextvars
import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import Counter, defaultdict
from urllib.parse import unquote, urlparse

SPAN_PROPERTY = "perfbench.span"

LAYERS = (
    "session", "cli", "plans", "sources", "state", "filters", "chunkers",
    "embedders", "sinks", "retrievers", "ann_index", "retrieval",
    "similarity", "search",
)
LAYER_STATS = ("calls", "self_s", "driver_s", "jobs", "tasks", "executor_cpu_s")
EXTRA_METRICS = {
    "sources.files_read": "count",
    "sources.scan_bytes": "bytes",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "chunkers.python_worker_s": "s",
    "state.changed_ratio": "ratio",
    "retrievers.stale_ratio": "ratio",
    "retrievers.full_rebuilds": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
}
_STAT_UNITS = {"calls": "count", "self_s": "s", "driver_s": "s", "jobs": "count",
               "tasks": "count", "executor_cpu_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {f"{layer}.{stat}": _STAT_UNITS[stat] for layer in LAYERS for stat in LAYER_STATS}
    out.update(EXTRA_METRICS)
    return out


class Tracer:
    """In-memory span recorder plus the monkeypatches that feed it."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._current: contextvars.ContextVar = contextvars.ContextVar(
            "perfbench_span", default=None)
        self._op: contextvars.ContextVar = contextvars.ContextVar(
            "perfbench_op", default=None)
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def set_op(self, op) -> None:
        """Number the user operation that the next root span belongs to."""
        self._op.set(op)

    def _tag(self, span_id) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, None if span_id is None else str(span_id))

    def begin(self, name: str, layer: str) -> tuple[dict, tuple]:
        parent = self._current.get()
        rec = {"id": next(self._ids), "name": name, "layer": layer,
               "start": time.time(), "end": None,
               "parent": parent["id"] if parent else None,
               "op": parent["op"] if parent else self._op.get()}
        with self._lock:
            self.spans.append(rec)
        tokens = (self._current.set(rec), self._op.set(rec["op"]))
        self._tag(rec["id"])
        return rec, tokens

    def end(self, rec: dict, tokens: tuple) -> None:
        rec["end"] = time.time()
        self._current.reset(tokens[0])
        self._op.reset(tokens[1])
        parent = self._current.get()
        self._tag(parent["id"] if parent else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        rec, tokens = self.begin(name, layer)
        try:
            yield rec
        finally:
            self.end(rec, tokens)

    # -- patching -----------------------------------------------------------
    def _wrapped(self, fn, name: str, layer: str, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        return wrapper

    def patch_method(self, cls, attr: str, layer: str, on_result=None) -> None:
        """Wrap `cls.attr` where `cls` itself defines it."""
        if attr not in cls.__dict__:
            return
        orig = cls.__dict__[attr]
        setattr(cls, attr, self._wrapped(orig, f"{cls.__name__}.{attr}", layer, on_result))
        self._patches.append((cls, attr, orig))

    def patch_function(self, module, attr: str, layer: str) -> None:
        """Wrap a module-level function, and every alias of it that another
        loaded program module bound with `from ... import`."""
        orig = getattr(module, attr)
        wrapper = self._wrapped(orig, f"{module.__name__.rsplit('.', 1)[-1]}.{attr}", layer)
        for name, mod in list(sys.modules.items()):
            if (name == "yaml_pipe_spark" or name.startswith("yaml_pipe_spark.")) \
                    and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)
                self._patches.append((mod, attr, orig))

    def patch_executor(self) -> None:
        """Carry the current span into ThreadPoolExecutor tasks, and tag the
        worker thread's jobs with it for the task's duration."""
        tracer = self
        orig = concurrent.futures.ThreadPoolExecutor.submit

        def submit(pool, fn, /, *args, **kwargs):
            ctx = contextvars.copy_context()
            parent = tracer._current.get()

            def run():
                tracer._tag(parent["id"] if parent else None)
                try:
                    return fn(*args, **kwargs)
                finally:
                    tracer._tag(None)

            return orig(pool, ctx.run, run)

        concurrent.futures.ThreadPoolExecutor.submit = submit
        self._patches.append((concurrent.futures.ThreadPoolExecutor, "submit", orig))

    def install(self) -> None:
        """Wrap every layer boundary the benchmark reports on."""
        from yaml_pipe_spark import cli, retrievers, search, session
        from yaml_pipe_spark.operators import ann_index, retrieval, similarity, sinks
        from yaml_pipe_spark.plans import config, factory, pipeline
        from yaml_pipe_spark.sources import files

        self.patch_executor()
        self.patch_function(session, "get_spark", "session")
        for attr in ("cmd_run", "cmd_search", "cmd_eval", "cmd_forget", "cmd_clean"):
            self.patch_function(cli, attr, "cli")
        self.patch_function(pipeline, "run_pipeline", "plans")
        self.patch_function(config, "load_config", "plans")
        self.patch_function(factory, "build_component", "plans")
        for cls in (files.LocalFileSource, files.ParquetDocumentsSource):
            self.patch_method(cls, "load", "sources")
        for attr in ("filter_changed", "commit"):
            self.patch_method(factory.ParquetStateBackend, attr, "state")
        for layer, registry in (("filters", factory.FILTERS), ("chunkers", factory.CHUNKERS),
                                ("embedders", factory.EMBEDDERS)):
            for cls in set(registry.values()):
                self.patch_method(cls, "apply", layer)
        for attr in ("write", "read", "delete_sources"):
            self.patch_method(sinks.ParquetSink, attr, "sinks")
        for cls in set(retrievers.RETRIEVERS.values()):
            for attr in ("build", "is_stale", "topk", "forget"):
                self.patch_method(cls, attr, "retrievers")
        self.patch_function(retrievers, "ensure_fresh", "retrievers")
        self.patch_function(retrievers, "unique_by_id", "retrievers")

        def count_rebuild(_):
            self.counters["full_rebuilds"] += 1

        def count_stale(stale):
            self.counters["stale_checks"] += 1
            self.counters["stale_found"] += bool(stale)

        for layer, cls in (("ann_index", ann_index.IvfPqIndexStore),
                           ("retrieval", retrieval.Bm25IndexStore)):
            self.patch_method(cls, "build", layer, on_result=count_rebuild)
            self.patch_method(cls, "is_stale_for_fingerprint", layer, on_result=count_stale)
            for attr in ("is_stale", "append", "forget", "compact", "serve"):
                self.patch_method(cls, attr, layer)
        self.patch_function(similarity, "knn_join", "similarity")
        self.patch_function(similarity, "hit_rate", "similarity")
        self.patch_function(search, "search_corpus", "search")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


# ---------------------------------------------------------------------------
# self time
# ---------------------------------------------------------------------------


def self_times(spans: list[dict], jobs_by_span: dict | None = None) -> dict[int, tuple[float, float]]:
    """{span id: (self_s, driver_s)} for one or more span trees.

    At each instant the open spans with no open child share the instant
    equally, so the self times of a tree sum to its root's duration even
    when children overlap (concurrent job waves). `jobs_by_span` maps a
    span id to the (start, end) windows of jobs charged to it; self time
    outside all of them is driver time."""
    jobs_by_span = jobs_by_span or {}
    children: dict = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    points = sorted({t for s in spans for t in (s["start"], s["end"])}
                    | {t for ws in jobs_by_span.values() for w in ws for t in w})
    out = {s["id"]: [0.0, 0.0] for s in spans}
    for a, b in zip(points, points[1:]):
        if b <= a:
            continue
        open_ids = {s["id"] for s in spans if s["start"] <= a and s["end"] >= b}
        if not open_ids:
            continue
        leaves = [i for i in open_ids
                  if not any(c["id"] in open_ids for c in children.get(i, ()))]
        share = (b - a) / len(leaves)
        for i in leaves:
            out[i][0] += share
            if not any(js < b and je > a for js, je in jobs_by_span.get(i, ())):
                out[i][1] += share
    return {i: (v[0], v[1]) for i, v in out.items()}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _walk_plan(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk_plan(child)


def _local_path(uri: str) -> str:
    p = urlparse(uri)
    return unquote(p.path) if p.scheme else uri


def read_event_log(path: str) -> dict:
    """The parts of a Spark event log the layer report needs."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    accum_node: dict[int, tuple[str, dict]] = {}
    driver_accums: dict[tuple[int, int], int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                tag = props.get(SPAN_PROPERTY)
                jobs[jid] = {"id": jid, "start": e["Submission Time"] / 1000.0,
                             "end": None, "span": int(tag) if tag else None,
                             "exec": props.get("spark.sql.execution.id")}
                for sid in e.get("Stage IDs", ()):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                acc = {a["ID"]: a.get("Update") for a in e["Task Info"].get("Accumulables", ())}
                tasks.append({
                    "stage": e["Stage ID"],
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "acc": acc,
                })
            elif kind.endswith("SparkListenerSQLExecutionStart") or \
                    kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                for node in _walk_plan(e["sparkPlanInfo"]):
                    for metric in node.get("metrics", ()):
                        accum_node[metric["accumulatorId"]] = (metric["name"], node)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for aid, value in e["accumUpdates"]:
                    driver_accums[(e["executionId"], aid)] = value
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks,
            "accum_node": accum_node, "driver_accums": driver_accums}


def _innermost_open(spans: list[dict], t: float):
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def layer_report(spans: list[dict], log: dict, counters: Counter, *,
                 source_roots: list[str], sink_root: str,
                 changed: int, loaded: int) -> tuple[dict, dict]:
    """(per-layer metrics, attribution detail) for the spans of one run.
    Jobs started outside every span (set-up, the benchmark's own checks)
    are not charged to any layer."""
    spans = [s for s in spans if s["end"] is not None]
    by_id = {s["id"]: s for s in spans}
    jobs = log["jobs"]
    job_span: dict[int, int] = {}
    for jid, j in jobs.items():
        if j["span"] in by_id:
            job_span[jid] = j["span"]
        else:
            s = _innermost_open(spans, j["start"])
            if s is not None:
                job_span[jid] = s["id"]
    windows: dict[int, list] = defaultdict(list)
    for jid, sid in job_span.items():
        j = jobs[jid]
        windows[sid].append((j["start"], j["end"] if j["end"] is not None else j["start"]))
    trees = _trees(spans)
    selfs: dict[int, tuple[float, float]] = {}
    for tree in trees:
        selfs.update(self_times(tree, {s["id"]: windows[s["id"]] for s in tree
                                       if s["id"] in windows}))

    m = {name: 0.0 for name in per_layer_units()}
    for s in spans:
        layer = s["layer"]
        if layer not in LAYERS:
            continue
        m[f"{layer}.calls"] += 1
        self_s, driver_s = selfs.get(s["id"], (0.0, 0.0))
        m[f"{layer}.self_s"] += self_s
        m[f"{layer}.driver_s"] += driver_s
    for jid, sid in job_span.items():
        layer = by_id[sid]["layer"]
        if layer in LAYERS:
            m[f"{layer}.jobs"] += 1

    accum_node = log["accum_node"]
    charged_execs: dict[str, str] = {}
    for jid, sid in job_span.items():
        ex = jobs[jid]["exec"]
        if ex is not None:
            charged_execs.setdefault(ex, by_id[sid]["layer"])
    for t in log["tasks"]:
        jid = log["stage_job"].get(t["stage"])
        if jid not in job_span:
            continue
        layer = by_id[job_span[jid]]["layer"]
        if layer in LAYERS:
            m[f"{layer}.tasks"] += 1
            m[f"{layer}.executor_cpu_s"] += t["cpu_ns"] / 1e9
        m["spark.shuffle_bytes"] += t["shuffle_bytes"]
        m["spark.spill_bytes"] += t["spill_bytes"]
        m["spark.gc_s"] += t["gc_ms"] / 1000.0
        for aid, upd in t["acc"].items():
            name, node = accum_node.get(aid, (None, None))
            if name == "time to run Python workers" and "split_udf" in node.get("simpleString", ""):
                m["chunkers.python_worker_s"] += float(upd) / 1000.0

    roots = [os.path.realpath(r) for r in source_roots]
    sink = os.path.realpath(sink_root)
    for (ex, aid), value in log["driver_accums"].items():
        if str(ex) not in charged_execs:
            continue
        name, node = accum_node.get(aid, (None, None))
        if node is None:
            continue
        location = node.get("metadata", {}).get("Location", "")
        if name in ("number of files read", "size of files read") and any(
                f"[file:{r}" in location or f"[{r}" in location for r in roots):
            key = "sources.files_read" if name == "number of files read" else "sources.scan_bytes"
            m[key] += float(value)
        elif name in ("number of written files", "written output") \
                and charged_execs[str(ex)] == "sinks" \
                and _writes_to(node.get("simpleString", ""), sink):
            key = "sinks.files_written" if name == "number of written files" else "sinks.bytes_written"
            m[key] += float(value)

    m["state.changed_ratio"] = changed / loaded if loaded else 0.0
    checks = counters.get("stale_checks", 0)
    m["retrievers.stale_ratio"] = counters.get("stale_found", 0) / checks if checks else 0.0
    m["retrievers.full_rebuilds"] = counters.get("full_rebuilds", 0)

    roots_detail = []
    for tree in trees:
        root = tree[0]
        roots_detail.append({
            "op": root["op"], "name": root["name"], "layer": root["layer"],
            "duration_s": root["end"] - root["start"],
            "self_sum_s": sum(selfs[x["id"]][0] for x in tree),
        })
    detail = {"jobs_total": len(jobs), "jobs_charged": len(job_span),
              "jobs_tagged": sum(1 for j in jobs.values() if j["span"] in by_id),
              "roots": roots_detail}
    return m, detail


def _writes_to(simple: str, path: str) -> bool:
    head = simple.split(",", 1)[0]
    for token in head.split():
        if token.startswith("file:") or token.startswith("/"):
            return os.path.realpath(_local_path(token)) == path
    return False


def _trees(spans: list[dict]) -> list[list[dict]]:
    """Spans grouped by root, each group root first. A span whose parent is
    missing (still open when the run ended) roots its own tree."""
    ids = {s["id"] for s in spans}
    kids: dict = defaultdict(list)
    for s in spans:
        kids[s["parent"] if s["parent"] in ids else None].append(s)
    out = []
    for root in kids[None]:
        tree, stack = [], [root]
        while stack:
            s = stack.pop()
            tree.append(s)
            stack.extend(kids.get(s["id"], ()))
        out.append(tree)
    return out
