"""The workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned.

A workload function takes the harness, the seed, the measured seconds and a
work dir, does its set-up (counted, not timed), then runs whole cycles
until the measured time is used up. It returns its own named figures plus
the roles the end-to-end metrics read:
- `run`: the `cli run` the workload is about (ingest: after a change;
  serve: with nothing changed);
- `search`: one top-k `search_corpus` call, collected;
- `cycles`: time of each whole cycle of the workload's operation mix: the
  summed timed calls of its operations, so the generator's file writes and
  the DuckDB checks between them are left out.
"""

from __future__ import annotations

import os
import time

import gen
from harness import Harness, reset_dirs, sink_counts, write_yaml

INGEST_K = 5
SERVE_K = 10
RECALL_K = 10
SERVE_SEARCHES = 3


def _pipeline_yaml(source: str, sink: str, state: str, retriever: str | None,
                   filters: str = "") -> str:
    text = (
        f"source: {source}\n"
        f"{filters}"
        "chunker: {type: recursive_character, config: {chunk_size: 200, chunk_overlap: 40}}\n"
        "embedder: {type: hash, config: {dim: 64}}\n"
        f"sink: {{type: parquet, config: {{path: '{sink}'}}}}\n"
        f"state_manager: {{type: parquet, config: {{path: '{state}'}}}}\n"
    )
    if retriever:
        text += f"retriever: {retriever}\n"
    return text


def _loop(h: Harness, seconds: float, cycle) -> list[float]:
    """Run whole cycles until `seconds` have passed; at least one. Returns
    each cycle's time: what its operations' timed calls took.

    Each workload runs one cycle in set-up first: the JVM compiles every
    code path on its first passes, and without that cycle the medians sat
    on the steep part of the warm-up curve (a serve no-op run fell from
    1.3 s to 0.8 s over the first three cycles), which doubled their
    run-to-run spread."""
    durations: list[float] = []
    t_end = time.perf_counter() + seconds
    while not durations or time.perf_counter() < t_end:
        op_s = h.op_s
        cycle(len(durations))
        durations.append(h.op_s - op_s)
    return durations


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class _IngestSite:
    """One file tree with its sink, state, index and spec."""

    def __init__(self, work: str):
        from yaml_pipe_spark.plans.config import load_config

        base = os.path.join(work, "ingest")
        self.tree = os.path.join(base, "tree")
        self.sink = os.path.join(base, "sink")
        self.state = os.path.join(base, "state")
        self.index = os.path.join(base, "index")
        os.makedirs(base, exist_ok=True)
        source = ("{type: local_files, config: {path: '%s', glob_pattern: '**/*.{txt,md,html}',"
                  " parse: true}}" % self.tree)
        self.config = write_yaml(os.path.join(base, "pipeline.yaml"), _pipeline_yaml(
            source, self.sink, self.state,
            f"{{type: ivfpq, config: {{path: '{self.index}', n_cells: 8, nprobe: 2}}}}",
            filters="filters: [{type: exact_dedup}]\n"))
        self.spec = load_config(self.config)

    def source_of(self, rel: str) -> str:
        return "file:" + os.path.realpath(self.tree) + "/" + rel

    def expect_sink(self, op, counts: dict, chunks, touched) -> None:
        want = {self.source_of(r) for r in self.files.expected_sources()}
        op.check(set(counts) == want,
                 f"sink sources differ from the generator's: {len(set(counts) ^ want)} off")
        got = sum(counts.get(self.source_of(r), 0) for r in touched)
        op.check(got == chunks, f"sink holds {got} rows of the run's sources, run reported {chunks}")

    def cold(self, h: Harness, seed: int, n_files: int) -> None:
        reset_dirs(self.tree, self.sink, self.state, self.index)
        self.files = gen.write_ingest_tree(self.tree, seed, n_files)
        n = len(self.files.files)
        counts: dict[str, int] = {}
        with h.operation("ingest_cold") as op:
            report = h.run_pipeline(op, self.config, loaded=n, changed=n)
            counts = sink_counts(self.sink)
            self.expect_sink(op, counts, report.get("chunks"), self.files.files)
        self.inputs = {"files": n, "duplicate_share": gen.INGEST_DUP_SHARE,
                       "sink_partitions": len(counts), "chunks": sum(counts.values())}

    def cycle(self, h: Harness, seed: int, cycle: int) -> None:
        """Change 5% and add 2% of the files, run; run again with nothing
        changed; search once; forget one file's rows."""
        with h.operation("ingest_delta") as op:
            plan = gen.mutate_ingest_tree(self.files, seed, cycle)
            report = h.run_pipeline(op, self.config, plan["loaded"], plan["changed"])
            after_delta = sink_counts(self.sink)
            self.expect_sink(op, after_delta, report.get("chunks"), plan["paths"])
        with h.operation("ingest_noop") as op:
            report = h.run_pipeline(op, self.config, loaded=plan["loaded"], changed=0)
            op.check(report.get("chunks") == 0, f"no-op run wrote {report.get('chunks')} chunks")
            op.check(sink_counts(self.sink) == after_delta, "no-op run changed the sink")
        forgotten = {self.source_of(r) for r in self.files.forgotten}
        with h.operation("search") as op:
            h.search(op, self.spec, gen.search_queries(seed + cycle, 1)[0], INGEST_K,
                     set(after_delta), forgotten)
        with h.operation("forget") as op:
            source = self.source_of(gen.forget_pick(self.files, seed, cycle))
            report = h.cli(op, "forget", source, "-c", self.config) or {}
            op.check("index_rebuilt" in report, f"forget report lacks index_rebuilt: {report}")
            op.check(report.get("sink_rows") == after_delta.get(source),
                     f"forget removed {report.get('sink_rows')} rows, "
                     f"sink held {after_delta.get(source)}")
            self.expect_sink(op, sink_counts(self.sink), 0, [])


def ingest(h: Harness, seed: int, seconds: float, work: str) -> dict:
    """Many small files. Set-up is the cold `run` (empty sink, state and
    index, through the index build) and one warm-up cycle; the loop then
    repeats delta run, no-op run, one search and one forget."""
    site = _IngestSite(work)
    site.cold(h, seed, gen.INGEST_FILES)
    cold = h.setup_latency.get("ingest_cold", [0.0])[0]
    site.cycle(h, seed, 1)  # warm-up, see _loop
    h.begin_measurement()
    cycles = _loop(h, seconds, lambda c: site.cycle(h, seed, c + 2))
    return {"run": "ingest_delta", "search": "search", "cycles": cycles,
            "source_roots": [site.tree], "sink_root": site.sink, "inputs": site.inputs,
            "named": {"ingest_delta_s": ("ingest_delta", "s"),
                      "ingest_noop_s": ("ingest_noop", "s"),
                      "forget_s": ("forget", "s")},
            "values": {"ingest_cold_s": (cold, "s")}}


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


class _CorpusSite:
    def __init__(self, work: str):
        self.corpus = os.path.join(work, "corpus")
        self.sink = os.path.join(work, "sink")
        self.counts: dict[str, int] = {}
        state = os.path.join(work, "state")
        self.ivf = {"path": os.path.join(work, "index_ivf"), "n_cells": 8, "nprobe": 2}
        bm25 = os.path.join(work, "index_bm25")
        source = f"{{type: parquet_documents, config: {{path: '{self.corpus}'}}}}"
        hybrid = ("{type: hybrid_rrf, config: {vector: {path: '%s', n_cells: 8, nprobe: 2},"
                  " lexical: {path: '%s'}}}" % (self.ivf["path"], bm25))
        self.hybrid = write_yaml(os.path.join(work, "hybrid.yaml"),
                                 _pipeline_yaml(source, self.sink, state, hybrid))
        # the default (exact) retriever over the same sink
        self.exact = write_yaml(os.path.join(work, "exact.yaml"),
                                _pipeline_yaml(source, self.sink, state, None))

    def build(self, h: Harness, seed: int) -> dict[str, list[dict]]:
        from yaml_pipe_spark.plans.config import load_config

        docs = gen.write_corpus(self.corpus, seed)
        n = sum(len(d) for d in docs.values())
        with h.operation("build") as op:
            report = h.run_pipeline(op, self.hybrid, loaded=n, changed=n)
            counts = self.counts = sink_counts(self.sink)
            op.check(set(counts) == set(docs), "sink sources differ from the generator's")
            op.check(sum(counts.values()) == report.get("chunks"),
                     f"sink holds {sum(counts.values())} rows, run reported {report.get('chunks')}")
        self.spec = load_config(self.hybrid)
        return docs


def _recall(h: Harness, op, site: _CorpusSite, questions_path: str, nq: int) -> float:
    """Overlap of the persisted ivfpq store's top-10 with ExactRetriever's
    top-10 over the question set, through the retrievers classes."""
    from pyspark.sql import functions as F

    from yaml_pipe_spark.plans.factory import build_component
    from yaml_pipe_spark.retrievers import ExactRetriever, IvfPqRetriever, unique_by_id

    def both():
        with h.root_span("retrievers.recall", "retrievers"):
            spark = h.spark
            embedder = build_component("embedder", site.spec.embedder)
            sink = build_component("sink", site.spec.sink)
            questions = spark.read.json(questions_path)
            q = embedder.apply(questions, "question").select(
                F.col("question").alias("qid"), F.col("question").alias("qtext"),
                F.col("embedding").alias("qv"))
            corpus = unique_by_id(sink.read(spark))
            ivf = IvfPqRetriever(**site.ivf).topk(corpus, q, RECALL_K).collect()
            exact = ExactRetriever().topk(corpus, q, RECALL_K).collect()
            return ivf, exact

    ivf, exact = op.timed(both)
    want: dict[str, set] = {}
    for r in exact:
        want.setdefault(r["qid"], set()).add(r["__id"])
    op.check(len(want) == nq and all(len(v) == RECALL_K for v in want.values()),
             "exact top-10 is not 10 rows for every question")
    got: dict[str, set] = {}
    for r in ivf:
        got.setdefault(r["qid"], set()).add(r["__id"])
    return sum(len(got.get(q, set()) & ids) for q, ids in want.items()) / (RECALL_K * max(1, len(want)))


def serve(h: Harness, seed: int, seconds: float, work: str) -> dict:
    """Few large sources, read only. Each cycle searches three times on the
    hybrid_rrf spec and re-runs the pipeline with nothing changed. After
    the cycles: one exact `eval` over the question set and the
    ivfpq-vs-exact recall check. Set-up builds the corpus and its hybrid
    indexes and runs one warm-up cycle."""
    site = _CorpusSite(work)
    docs = site.build(h, seed)
    questions_path = os.path.join(work, "questions.jsonl")
    questions = gen.write_questions(questions_path, seed, docs)
    n_docs = sum(len(d) for d in docs.values())
    sources = set(docs)
    queries = gen.search_queries(seed, 1000)

    def cycle(c: int) -> None:
        for i in range(SERVE_SEARCHES):
            with h.operation("search") as op:
                h.search(op, site.spec, queries[(c * SERVE_SEARCHES + i) % len(queries)],
                         SERVE_K, sources)
        with h.operation("run_noop") as op:
            report = h.run_pipeline(op, site.hybrid, loaded=n_docs, changed=0)
            op.check(report.get("chunks") == 0, f"no-op run wrote {report.get('chunks')} chunks")
            op.check(sink_counts(site.sink) == site.counts, "no-op run changed the sink")

    cycle(0)  # warm-up, see _loop
    h.begin_measurement()
    cycles = _loop(h, seconds, lambda c: cycle(c + 1))
    nq = len(questions)
    eval_qps = recall = 0.0
    with h.operation("eval") as op:
        res = h.cli(op, "eval", questions_path, "-c", site.exact, "-k", "5") or {}
        op.check(res.get("total_questions") == nq,
                 f"eval saw {res.get('total_questions')} questions, generated {nq}")
        hits = res.get("hits", -1)
        op.check(0 <= hits <= nq, f"hits {hits}")
        op.check(abs(res.get("hit_rate", -1) - 100.0 * hits / nq) < 1e-6,
                 f"hit_rate {res.get('hit_rate')} != 100*{hits}/{nq}")
        if op.elapsed:
            eval_qps = nq / op.elapsed
    with h.operation("recall") as op:
        recall = _recall(h, op, site, questions_path, nq)
    return {"run": "run_noop", "search": "search", "cycles": cycles,
            "source_roots": [site.corpus], "sink_root": site.sink,
            "inputs": {"sources": len(docs), "docs_per_source": gen.SERVE_DOCS_PER_SOURCE,
                       "docs": n_docs, "sink_partitions": len(site.counts),
                       "chunks": sum(site.counts.values()), "questions": nq},
            "named": {"search_p50_s": ("search", "s"), "serve_noop_s": ("run_noop", "s")},
            "values": {"eval_qps": (eval_qps, "1/s"), "recall_at_10": (recall, "ratio")}}


WORKLOADS = {"ingest": ingest, "serve": serve}
