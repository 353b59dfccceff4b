"""Helpers shared by the A/B and steadiness scripts: running one
benchmark process and summarising a metric over runs."""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec(root: str = ROOT) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def steal_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def run_once(checkout: str, workload: str, seed: int, seconds: int,
             trace: int = 0, timeout: float = 900.0) -> dict:
    """Run the benchmark command in ``checkout``; returns its JSON result
    plus ``wall_s`` and the host's CPU steal share over the run.  A run
    that exits non-zero or prints no result counts as one failed
    operation with no metrics."""
    spec = load_spec(checkout)
    cmd = list(spec["command"]) + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace)]
    s0, t0 = steal_jiffies()
    start = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                       timeout=timeout)
    wall = time.monotonic() - start
    s1, t1 = steal_jiffies()
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        out = None
    if p.returncode != 0 or out is None:
        sys.stderr.write(p.stderr[-4000:])
        sys.stderr.write(f"{workload} seed {seed} in {checkout}: exit {p.returncode}\n")
        out = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    out["wall_s"] = wall
    out["steal_share"] = (s1 - s0) / max(1, t1 - t0)
    return out


def values_of(runs: list[dict], name: str) -> list[float]:
    """The metric's finite values over ``runs``; a run whose operations
    all failed has none."""
    vals = [r["metrics"].get(name, {}).get("value", math.nan) for r in runs]
    return [v for v in vals if math.isfinite(v)]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def worse_by(a: float, b: float, better: str) -> float:
    """How much worse ``b`` is than ``a``, as a share of ``a`` (negative
    when better)."""
    d = (b - a) / a if a else 0.0
    return d if better == "lower" else -d
