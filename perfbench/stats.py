"""Small helpers of the benchmark: percentiles, the result schema, the box
load probe and process-tree memory. No Spark and no program imports, so the
tests of these helpers run without a JVM."""

from __future__ import annotations

import math
import os
import re
import statistics
import time

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
RESULT_KEYS = ("correct", "attempted", "failed", "metrics")


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], min_beyond: int = 10) -> dict | None:
    """The highest whole percentile p that has at least `min_beyond` samples
    strictly above the p-th percentile's rank, with its value and the sample
    count. None when fewer than min_beyond + 1 samples exist.

    With n sorted samples, percentile p reads the sample at rank
    ceil(p/100 * n) (nearest rank); the samples beyond it number n - rank."""
    n = len(values)
    if n <= min_beyond:
        return None
    xs = sorted(values)
    for p in range(99, 0, -1):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= min_beyond:
            return {"percentile": p, "value": xs[rank - 1], "samples": n,
                    "beyond": n - rank}
    return None


def check_result(result: dict, expected_metrics: dict[str, str]) -> list[str]:
    """Problems with a result line against the contract; empty when valid.
    `expected_metrics` maps each required metric name to its unit."""
    problems = []
    if tuple(sorted(result)) != tuple(sorted(RESULT_KEYS)):
        problems.append(f"keys {sorted(result)} != {sorted(RESULT_KEYS)}")
        return problems
    if not isinstance(result["correct"], bool):
        problems.append("correct is not a bool")
    for key in ("attempted", "failed"):
        if not isinstance(result[key], int) or isinstance(result[key], bool):
            problems.append(f"{key} is not a whole number")
    if isinstance(result["attempted"], int) and result["attempted"] < 1:
        problems.append("attempted < 1")
    metrics = result["metrics"]
    if set(metrics) != set(expected_metrics):
        problems.append(f"metric names differ: missing {sorted(set(expected_metrics) - set(metrics))},"
                        f" extra {sorted(set(metrics) - set(expected_metrics))}")
    for name, entry in metrics.items():
        if not NAME_RE.match(name):
            problems.append(f"bad metric name {name!r}")
        if set(entry) != {"value", "unit"}:
            problems.append(f"{name}: keys {sorted(entry)}")
            continue
        value = entry["value"]
        if not isinstance(value, (int, float)) or isinstance(value, bool) \
                or not math.isfinite(value):
            problems.append(f"{name}: value {value!r} is not a finite number")
        if not UNIT_RE.match(str(entry["unit"])):
            problems.append(f"{name}: bad unit {entry['unit']!r}")
        elif name in expected_metrics and entry["unit"] != expected_metrics[name]:
            problems.append(f"{name}: unit {entry['unit']} != {expected_metrics[name]}")
    return problems


def _stat_snapshot() -> tuple[int, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:9]]
    idle = vals[3] + vals[4]  # idle + iowait
    return sum(vals) - idle, sum(vals)


def load_probe(window_s: float = 0.5) -> dict:
    """Whole-box load while this process sleeps: the /proc/stat busy share
    over a short window plus the 1-minute load average."""
    probe: dict = {"ncpu": os.cpu_count()}
    try:
        probe["loadavg1"] = round(os.getloadavg()[0], 2)
        b0, t0 = _stat_snapshot()
        time.sleep(window_s)
        b1, t1 = _stat_snapshot()
        if t1 > t0:
            probe["busy_frac"] = round((b1 - b0) / (t1 - t0), 4)
    except (OSError, ValueError, IndexError):
        pass
    return probe


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def process_tree(pid: int | None = None) -> list[int]:
    pid = pid or os.getpid()
    seen, stack = [], [pid]
    while stack:
        p = stack.pop()
        seen.append(p)
        stack.extend(_children(p))
    return seen


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(pid: int | None = None) -> float:
    """Resident memory of a process and all its descendants, counting each
    shared page once: the sum of their proportional set sizes. A plain RSS
    sum would count the forked Python workers' shared pages once per
    worker."""
    return sum(_pss_kb(p) for p in process_tree(pid)) / 1024.0


class RssSampler:
    """Peak of the process tree's resident memory, sampled on a thread.
    Per-process peaks (VmHWM) would overstate the tree's peak, because the
    Python workers and the JVM need not peak at the same moment."""

    def __init__(self, interval_s: float = 0.5):
        import threading

        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return False
