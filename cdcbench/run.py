"""Run one workload of the CDC-loader benchmark and print its metrics.

    python3 cdcbench/run.py --workload steady_ticks --seed 1 --seconds 20 --trace 0

Run from the repository root.  With ``--trace 0`` the last line of
standard output is a JSON object holding every end-to-end metric; with
``--trace 1`` the engine's entry points are wrapped in spans and the
object holds the per-layer metrics instead.  A human-readable summary
(sample counts, medians, tails where the samples allow one, set-up
parts, the correctness check) goes to standard error.

Everything the run writes stays under ``.bench_work/`` (removed at the
end) and ``.bench_cache/`` (pre-loaded base tables, reused) in the
current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def probe(bench, log: str, batch: int, rounds: int = 3) -> dict:
    """Times of three nested lazy pipelines over one batch, each executed
    into a noop sink, interleaved ``rounds`` times: scan, scan+normalize,
    scan+normalize+dedup.  Successive differences give the lazy layers."""
    from dlt_spark.adapters import get_adapter
    from dlt_spark.operators import dedup
    from dlt_spark.sources import changelog

    from workloads import noop

    w = bench.w
    lo, hi = batch * w.width, (batch + 1) * w.width - 1
    log_df = changelog.open_change_log(bench.spark, log, lo, hi, w.part_width)
    scan = changelog.slice_change_log(log_df, lo, hi, w.part_width)
    norm = get_adapter(w.schema).normalize(scan)
    pipes = {"scan": scan, "normalize": norm,
             "dedup": dedup.dedup_lww(norm, with_counts=True)}
    times: dict[str, list[float]] = {k: [] for k in pipes}
    for _ in range(rounds):
        for k, df in pipes.items():
            with bench.tracer.span(f"probe.{k}"):
                t0 = time.monotonic()
                noop(df)
                times[k].append(time.monotonic() - t0)
    out = {k: statistics.median(v) for k, v in times.items()}
    out["rounds"] = rounds
    return out


def overhead(samples: list[tuple[float, bool]]) -> float:
    """Traced vs untraced mean of an alternated operation."""
    on = [x for x, t in samples if t]
    off = [x for x, t in samples if not t]
    if not on or not off:
        return 0.0
    return statistics.mean(on) / statistics.mean(off) - 1.0


def stop_jvm() -> None:
    """Stop the JVM the session started and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import dlt_spark
    except ImportError as e:
        print(f"cdcbench: cannot import the engine or its runtime: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(dlt_spark.__file__).startswith(os.path.join(root, "")):
        print(f"cdcbench: the engine must come from {root}", file=sys.stderr)
        return 2
    from spans import PER_LAYER, Tracer, layer_metrics, read_event_log
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]
    work = os.path.join(root, ".bench_work", f"{w.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tracer = Tracer() if args.trace else None
    bench = workloads.Bench(root, work, w, args.seed, args.seconds, tracer)
    try:
        if tracer is not None:
            tracer.install()
        bench.res.setup["session_s"] = bench.start_session()
        if tracer is not None:
            tracer.enabled = False  # until the measured operations
        steal0, total0 = workloads.cpu_times()
        if w.name == "bulk_replay":
            bench.run_bulk()
        else:
            bench.run_ticks()
        steal1, total1 = workloads.cpu_times()
        steal = (steal1 - steal0) / max(1.0, total1 - total0)
        summary = bench.summary()
        summary["host_cpu_steal_share"] = steal
        if tracer is None:
            metrics = bench.metrics()
        else:
            batch = (w.batches - 1) if w.name == "bulk_replay" else (
                bench.res.check.get("watermark", w.base_keys) // w.width)
            tracer.enabled = True
            pr = probe(bench, os.path.join(work, "log"), batch)
            tracer.enabled = False
            bench.spark.stop()
            bench.spark = None
            events = read_event_log(os.path.join(work, "eventlog"))
            alternated = bench.res.read_full if w.name != "bulk_replay" else bench.op_samples
            op_wall = bench.traced_op_wall
            values = layer_metrics(tracer.spans, events, op_wall, bench.trace_reads,
                                   pr, overhead(alternated), steal)
            metrics = {n: (values[n], u) for n, u in PER_LAYER}
        print(json.dumps(summary, default=float, sort_keys=True), file=sys.stderr)
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        stop_jvm()
        if tracer is not None:
            tracer.uninstall()
        shutil.rmtree(work, ignore_errors=True)
    r = bench.res
    print(json.dumps({
        "correct": r.failed == 0 and bool(r.check.get("ok")),
        "attempted": max(1, r.attempted),
        "failed": r.failed,
        "metrics": {n: {"value": float(v), "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
