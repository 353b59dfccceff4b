"""A/B compare two checkouts on the benchmark.

    python3 cdcbench/ab.py --parent ../parent --change . --pairs 10

Runs parent/change pairs with the same seed inside a pair, alternating
which side goes first, for every workload (or ``--workloads a,b``).
Refuses to run when the two checkouts' benchmark files differ.  Prints,
per workload and end-to-end metric, each side's median and quartiles,
the pairs the change won, and a verdict:

- ``gain``: the change won at least 9 of 10 pairs (ties count for
  neither), the medians differ by more than the parent's inter-quartile
  distance, and the change failed no more operations than the parent;
- ``regression``: the change's median is worse than the parent's by
  more than the metric's bound;
- ``no worse``: within the bound, with the parent's own spread within
  the bound too;
- ``unresolved``: otherwise (the spread is wider than the bound, or
  fewer than two runs of a side have the metric), unless every change
  run reads better than every parent run.

A run whose operations behind a metric all failed has no value for it
(NaN); a pair counts as won only when both sides have a value.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import load_spec, quartiles, run_once, values_of, worse_by  # noqa: E402


def bench_digest(checkout: str) -> str:
    """Hash of BENCHMARK.json and every file under its ``paths``."""
    spec = load_spec(checkout)
    h = hashlib.sha256()
    files = [os.path.join(checkout, "BENCHMARK.json")]
    for p in spec["paths"]:
        for d, dirs, names in os.walk(os.path.join(checkout, p)):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, checkout).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def verdict(parent: list[float], change: list[float], better: str, bound: float,
            failed: tuple[int, int] = (0, 0)) -> dict:
    """``parent[i]`` and ``change[i]`` are pair i (NaN: no value);
    ``failed`` the two sides' failed operations over all pairs."""
    n = len(parent)
    sign = 1 if better == "higher" else -1
    wins = sum(1 for a, b in zip(parent, change) if sign * (b - a) > 0)
    parent = [x for x in parent if math.isfinite(x)]
    change = [x for x in change if math.isfinite(x)]
    if len(parent) < 2 or len(change) < 2:
        return {"parent": [], "change": [], "wins": wins, "pairs": n,
                "worse_share": math.nan, "failed": list(failed), "verdict": "unresolved"}
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    worse = worse_by(pm, cm, better)
    if (wins >= 0.9 * n and sign * (cm - pm) > (p3 - p1)
            and failed[1] <= failed[0]):
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif (p3 - p1) / pm <= bound or all(
            sign * (b - a) > 0 for a in parent for b in change):
        v = "no worse"
    else:
        v = "unresolved"
    return {"parent": [p1, pm, p3], "change": [c1, cm, c3], "wins": wins,
            "pairs": n, "worse_share": worse, "failed": list(failed), "verdict": v}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--out", default="")
    args = ap.parse_args(argv)
    parent, change = os.path.abspath(args.parent), os.path.abspath(args.change)
    if bench_digest(parent) != bench_digest(change):
        print("ab: the two checkouts' benchmark files differ; refusing to compare",
              file=sys.stderr)
        return 2
    spec = load_spec(change)
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]]
    report: dict = {}
    for wl in names:
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            for side, path in order:
                r = run_once(path, wl, seed, spec["run_seconds"])
                runs[side].append(r)
                print(f"{wl} pair {i} {side}: correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']}", file=sys.stderr)
        report[wl] = {}
        failed = tuple(sum(r["failed"] for r in runs[s]) for s in ("parent", "change"))
        for m in spec["end_to_end"]:
            vals = {s: [(values_of([r], m["name"]) or [math.nan])[0] for r in runs[s]]
                    for s in runs}
            report[wl][m["name"]] = verdict(vals["parent"], vals["change"],
                                            m["better"], m["bound"], failed)
        report[wl]["all_correct"] = all(r["correct"] for s in runs for r in runs[s])
        report[wl]["failed"] = {"parent": failed[0], "change": failed[1]}
    for wl, ms in report.items():
        print(f"\n{wl} (all runs correct: {ms['all_correct']}; failed operations:"
              f" parent {ms['failed']['parent']}, change {ms['failed']['change']})")
        print(f"  {'metric':28} {'parent q1/med/q3':>30} {'change q1/med/q3':>30}"
              f" {'wins':>6} verdict")
        for name, v in ms.items():
            if name in ("all_correct", "failed"):
                continue
            fmt = "/".join(f"{x:.4g}" for x in v["parent"])
            fmc = "/".join(f"{x:.4g}" for x in v["change"])
            print(f"  {name:28} {fmt:>30} {fmc:>30} {v['wins']:>3}/{v['pairs']:<2}"
                  f" {v['verdict']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
