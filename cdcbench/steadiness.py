"""Steadiness record: two sets of runs of one commit per workload.

    python3 cdcbench/steadiness.py --runs 10 --sets 2 --out cdcbench/STEADINESS.md

Every run takes its own seed.  Within a set the workloads take turns, so
host drift hits all of them alike.  For each workload and end-to-end
metric the record gives, per set, the median and the inter-quartile
distance as a share of the median, and the gap between the two sets'
medians in the metric's worse direction, next to the metric's bound in
BENCHMARK.json.  Each run's host CPU steal share is listed, as is any
run that failed its correctness check.  The raw results go next to the
record as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, load_spec, run_once, values_of, worse_by  # noqa: E402
from stats import spread  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.md"))
    args = ap.parse_args(argv)
    spec = load_spec(ROOT)
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]]
    raw: dict = {w: [[] for _ in range(args.sets)] for w in names}
    seed = args.seed0
    for s in range(args.sets):
        for i in range(args.runs):
            for w in names:
                r = run_once(ROOT, w, seed, spec["run_seconds"])
                r["seed"] = seed
                raw[w][s].append(r)
                print(f"set {s + 1} run {i + 1} {w} seed {seed}: wall {r['wall_s']:.1f}s "
                      f"steal {r['steal_share']:.3f} correct {r['correct']}",
                      file=sys.stderr, flush=True)
                seed += 1
    base = os.path.splitext(args.out)[0]
    with open(base + ".json", "w") as f:
        json.dump(raw, f, indent=1)
    lines = [
        "# Steadiness record",
        "",
        f"{args.sets} sets x {args.runs} runs per workload, one seed per run, "
        f"run_seconds={spec['run_seconds']}.  Spread = (q3 - q1) / median "
        "over a set's runs; gap = how much worse set 2's median is than "
        "set 1's, as a share of set 1's.",
        "",
    ]
    ok = True
    for w in names:
        lines += [f"## {w}", "",
                  "| metric | bound | " + " | ".join(
                      f"set {s + 1} median | set {s + 1} spread" for s in range(args.sets))
                  + " | gap |",
                  "|---|---|" + "---|---|" * args.sets + "---|"]
        for m in spec["end_to_end"]:
            meds, cells = [], []
            for s in range(args.sets):
                vals = values_of(raw[w][s], m["name"])
                if len(vals) < 2:  # failed runs have no value
                    meds.append(float("nan"))
                    cells += ["-", "-"]
                    ok = False
                    continue
                meds.append(statistics.median(vals))
                sp = spread(vals)
                cells += [f"{meds[-1]:.5g}", f"{sp:.3f}"]
                if m["name"] != "setup_s" and sp > m["bound"]:
                    ok = False
            gap = worse_by(meds[0], meds[-1], m["better"])
            ok = ok and gap <= m["bound"]
            lines.append(f"| {m['name']} | {m['bound']} | " + " | ".join(cells)
                         + f" | {gap:+.3f} |")
        runs = [r for s in raw[w] for r in s]
        bad = [r["seed"] for r in runs if not r["correct"]]
        ok = ok and not bad
        lines += ["",
                  "Per-run host CPU steal share: "
                  + ", ".join(f"{r['steal_share']:.3f}" for r in runs) + ".",
                  f"Runs failing their correctness check: {bad or 'none'}.",
                  f"Run wall time: median {statistics.median(r['wall_s'] for r in runs):.1f} s,"
                  f" max {max(r['wall_s'] for r in runs):.1f} s.", ""]
    lines.append(f"Every spread and gap within its bound: {'yes' if ok else 'NO'}.")
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
