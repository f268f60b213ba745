"""Tests of the benchmark's own helpers; no JVM needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter
import concurrent.futures
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


# -- the tail-percentile rule ----------------------------------------------


def test_tail_needs_ten_samples_beyond():
    assert stats.tail([1.0] * 10) is None
    t = stats.tail([float(i) for i in range(1, 12)])  # 11 samples
    assert t["beyond"] >= 10 and t["samples"] == 11
    assert t["value"] == 1.0  # only the lowest sample has ten above it


def test_tail_picks_highest_percentile_with_ten_beyond():
    values = [float(i) for i in range(1, 101)]  # 100 samples
    t = stats.tail(values)
    assert t["percentile"] == 90 and t["value"] == 90.0 and t["beyond"] == 10
    t200 = stats.tail([float(i) for i in range(1, 201)])
    assert t200["percentile"] == 95 and t200["beyond"] == 10


# -- self time ----------------------------------------------------------------


def _span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer,
            "name": f"s{i}", "op": 1}


def test_self_time_nested_children():
    spans = [_span(1, None, 0, 10), _span(2, 1, 1, 4), _span(3, 1, 5, 7)]
    st = tracing.self_times(spans)
    assert st[1][0] == pytest.approx(5.0)
    assert st[2][0] == pytest.approx(3.0) and st[3][0] == pytest.approx(2.0)
    assert sum(v[0] for v in st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_children_share_and_sum_to_root():
    # two concurrent children overlap on [3, 5]: they split it, and the
    # root keeps only the instants no child covers
    spans = [_span(1, None, 0, 10), _span(2, 1, 1, 5), _span(3, 1, 3, 8),
             _span(4, 3, 6, 7)]
    st = tracing.self_times(spans)
    assert st[1][0] == pytest.approx(1 + 2)  # [0,1] and [8,10]
    assert st[2][0] == pytest.approx(2 + 1)  # [1,3] alone, half of [3,5]
    assert st[3][0] == pytest.approx(1 + 1 + 1)  # half of [3,5], [5,6], [7,8]
    assert st[4][0] == pytest.approx(1.0)
    assert sum(v[0] for v in st.values()) == pytest.approx(10.0)


def test_driver_time_excludes_own_job_windows():
    spans = [_span(1, None, 0, 10), _span(2, 1, 2, 6)]
    st = tracing.self_times(spans, {1: [(7, 9)], 2: [(3, 4)]})
    assert st[1] == pytest.approx((6.0, 4.0))
    assert st[2] == pytest.approx((4.0, 3.0))


tr_orig_submit = ThreadPoolExecutor.submit


def test_tracer_carries_parent_into_thread_pool():
    tr = tracing.Tracer()
    tr.patch_executor()

    def child():
        with tr.span("child", "sinks") as rec:
            return rec

    try:
        with tr.span("root", "cli") as root:
            with ThreadPoolExecutor(max_workers=2) as pool:
                children = [f.result() for f in [pool.submit(child) for _ in range(2)]]
    finally:
        tr.uninstall()
    assert all(c["parent"] == root["id"] and c["end"] is not None for c in children)
    assert concurrent.futures.ThreadPoolExecutor.submit is tr_orig_submit


def test_layer_report_charges_tagged_jobs_and_sums_roots():
    spans = [_span(1, None, 0.0, 10.0, "cli"), _span(2, 1, 1.0, 6.0, "sinks")]
    log = {"jobs": {0: {"id": 0, "start": 2.0, "end": 5.0, "span": 2, "exec": "1"},
                    1: {"id": 1, "start": 7.0, "end": 8.0, "span": None, "exec": None}},
           "stage_job": {0: 0, 1: 1},
           "tasks": [{"stage": 0, "cpu_ns": 2e9, "gc_ms": 100, "shuffle_bytes": 10,
                      "spill_bytes": 0, "acc": {}},
                     {"stage": 1, "cpu_ns": 1e9, "gc_ms": 0, "shuffle_bytes": 0,
                      "spill_bytes": 0, "acc": {}}],
           "accum_node": {}, "driver_accums": {}}
    m, detail = tracing.layer_report(spans, log, Counter(stale_checks=4, stale_found=1),
                                     source_roots=[], sink_root="/nowhere",
                                     changed=5, loaded=20)
    assert m["sinks.jobs"] == 1 and m["sinks.tasks"] == 1
    assert m["sinks.executor_cpu_s"] == pytest.approx(2.0)
    assert m["cli.jobs"] == 1  # untagged job, charged by time window
    assert m["sinks.driver_s"] == pytest.approx(2.0)
    assert m["state.changed_ratio"] == pytest.approx(0.25)
    assert m["retrievers.stale_ratio"] == pytest.approx(0.25)
    (root,) = detail["roots"]
    assert root["self_sum_s"] == pytest.approx(root["duration_s"])
    assert set(m) == set(tracing.per_layer_units())


# -- names and the result schema -------------------------------------------------


@pytest.mark.parametrize("name,ok", [
    ("setup_s", True), ("sinks.files_written", True), ("a-b.c_d", True),
    ("9lives", True), ("_x", False), ("has space", False), ("x" * 65, False),
    ("p/s", False),
])
def test_metric_name_grammar(name, ok):
    assert bool(stats.NAME_RE.match(name)) is ok


def test_every_declared_name_and_unit_is_valid():
    bench = _benchmark_json()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in bench[key]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(stats.NAME_RE.match(n) for n in names)
    assert all(stats.UNIT_RE.match(m["unit"])
               for key in ("end_to_end", "per_layer") for m in bench[key])


def test_declared_per_layer_metrics_match_the_tracer():
    bench = _benchmark_json()
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == tracing.per_layer_units()


def test_declared_end_to_end_metrics_match_the_runner():
    import run

    bench = _benchmark_json()
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert declared == run.END_TO_END_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOAD_NAMES)


def test_check_result_accepts_a_valid_line_and_rejects_bad_ones():
    units = {"setup_s": "s", "run_s": "s"}
    good = {"correct": True, "attempted": 3, "failed": 0,
            "metrics": {"setup_s": {"value": 1.5, "unit": "s"},
                        "run_s": {"value": 0.25, "unit": "s"}}}
    assert stats.check_result(good, units) == []
    bad = json.loads(json.dumps(good))
    bad["metrics"].pop("run_s")
    assert stats.check_result(bad, units)
    bad = json.loads(json.dumps(good))
    bad["attempted"] = 0
    assert stats.check_result(bad, units)
    bad = json.loads(json.dumps(good))
    bad["metrics"]["run_s"]["value"] = float("nan")
    assert stats.check_result(bad, units)
    assert stats.check_result({"correct": True}, units)


def test_cycle_time_counts_only_the_operations_timed_calls():
    import time

    from harness import Harness
    from workloads import _loop

    h = Harness(None, time.perf_counter())

    def cycle(c):
        time.sleep(0.05)  # untimed: the generator's writes, the checks
        with h.operation("op") as op:
            op.timed(time.sleep, 0.01)
        with h.operation("op") as op:
            op.timed(time.sleep, 0.01)

    (cycle_s,) = _loop(h, 0, cycle)
    assert cycle_s == pytest.approx(sum(h.setup_latency["op"]))
    assert cycle_s < 0.05


# -- the generator -------------------------------------------------------------------


def test_generator_is_a_function_of_the_seed(tmp_path):
    a = gen.write_ingest_tree(str(tmp_path / "a"), 7, 40)
    b = gen.write_ingest_tree(str(tmp_path / "b"), 7, 40)
    c = gen.write_ingest_tree(str(tmp_path / "c"), 8, 40)
    assert a.files == b.files and a.files != c.files
    assert len(a.files) - len(a.expected_sources()) == 4  # 10% exact copies
    pa = gen.mutate_ingest_tree(a, 7, 1)
    pb = gen.mutate_ingest_tree(b, 7, 1)
    assert pa == pb and a.files == b.files
    assert pa["changed"] == len(pa["paths"]) == 3  # 5% of 40 changed, 2% added
    assert gen.forget_pick(a, 7, 1) == gen.forget_pick(b, 7, 1)
    assert a.forgotten == b.forgotten
    assert len(a.expected_sources()) == 41 - 4 - 1  # one file added, 4 copies, 1 forgotten
    assert gen.source_docs(3, 1, 5) == gen.source_docs(3, 1, 5)
