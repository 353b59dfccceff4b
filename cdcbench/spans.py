"""Spans around the engine's public calls, recorded from outside the
engine, and the per-layer metrics derived from them.

``Tracer.install()`` wraps the calls each layer already exposes (runner,
change-log open/slice, adapter normalize and cascade expansion, LWW
dedup, the lakehouse write and read entry points, the MetaFS control
plane, the session factory) and ``uninstall()`` puts every original
back.  A span is ``(id, name, start, end, parent, thread, counts)``;
spans stay in memory until the run ends.  Spans that can start Spark
jobs also set the job description of their thread, so the Spark event
log of the traced run ties task time and shuffle bytes to the innermost
such span.

Self time: within one traced operation, every instant is given to the
innermost spans active at that instant (spans with no active child),
shared equally when parallel threads hold several.  So the self times
of all spans of an operation add up to its wall time, and a span's self
time is its duration minus the part its children cover.
"""

from __future__ import annotations

import collections
import contextlib
import importlib
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

# Spans whose Spark jobs are labelled with the span name.
JOB_LAYERS = (
    "tick", "replay", "runner", "changelog.open", "cascade.phase_a",
    "lakehouse.prepare", "cascade.gap", "lakehouse.commit", "lakehouse.fold",
    "read.full", "read.point", "probe.scan", "probe.normalize", "probe.dedup",
)
# Layers whose jobs belong to a run_incremental call.
RUNNER_LAYERS = (
    "runner", "changelog.open", "cascade.phase_a", "lakehouse.prepare",
    "cascade.gap", "lakehouse.commit", "lakehouse.fold",
)
SELF_LAYERS = (
    "runner", "changelog.open", "changelog.slice", "normalize", "dedup",
    "cascade.phase_a", "lakehouse.prepare", "cascade.gap",
    "lakehouse.merge_prepared", "lakehouse.commit", "lakehouse.fold",
    "metafs", "read.plan", "read.full", "read.point",
)
METAFS_METHODS = (
    "read_text", "write_text", "exists", "listdir", "makedirs", "delete",
    "create_exclusive",
)
# Span names the workloads open around whole operations.
OP_SPANS = ("tick", "replay", "read.full", "read.point")


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    thread: int
    end: float = 0.0
    counts: dict = field(default_factory=dict)


def _files_bytes(root: str, rels) -> int:
    total = 0
    for r in rels:
        try:
            total += os.path.getsize(os.path.join(root, r))
        except OSError:
            pass
    return total


def _snap_files(snap: dict) -> set[str]:
    files = {p for ps in snap.get("buckets", {}).values() for p in ps}
    files |= {p for e in snap.get("l1", {}).values() for p in e["files"]}
    return files


class Tracer:
    """Records spans while installed and ``enabled``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._root: Span | None = None  # the open run_incremental span
        self._run_batches: set[int] = set()
        self._patched: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _descs(self) -> list[str]:
        d = getattr(self._local, "descs", None)
        if d is None:
            d = self._local.descs = []
        return d

    @staticmethod
    def _set_desc(value: str | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty("spark.job.description", value)

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1].id
        elif self._root is not None:
            parent = self._root.id  # a runner pool thread
        else:
            parent = None
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        s = Span(sid, name, time.monotonic(), parent, threading.get_ident(),
                 counts=dict(counts))
        labels = name in JOB_LAYERS
        if labels:
            self._descs().append(name)
            self._set_desc(name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            stack.pop()
            if labels:
                descs = self._descs()
                descs.pop()
                self._set_desc(descs[-1] if descs else None)
            with self._lock:
                self.spans.append(s)

    # ------------------------------------------------------------- patching
    def _patch(self, owner, attr: str, make) -> None:
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patched.append((owner, attr, raw))
        if isinstance(raw, staticmethod):
            setattr(owner, attr, staticmethod(make(raw.__func__)))
        else:
            setattr(owner, attr, make(raw))

    def _plain(self, name: str):
        def make(f):
            def wrapper(*a, **k):
                with self.span(name):
                    return f(*a, **k)
            wrapper.__wrapped__ = f
            return wrapper
        return make

    def install(self) -> None:
        """Wrap every traced entry point; ``uninstall`` restores them."""
        if self._patched:
            raise RuntimeError("tracer already installed")
        mod = importlib.import_module
        runner = mod("dlt_spark.plans.runner")
        changelog = mod("dlt_spark.sources.changelog")
        dedup = mod("dlt_spark.operators.dedup")
        adapters = mod("dlt_spark.adapters")
        lakehouse = mod("dlt_spark.lakehouse")
        metafs = mod("dlt_spark.metafs")
        session = mod("dlt_spark.session")
        table = lakehouse.LakehouseTable

        self._patch(runner, "run_incremental", self._runner)
        for owner in (changelog, runner):
            self._patch(owner, "open_change_log", self._open)
            self._patch(owner, "slice_change_log", self._plain("changelog.slice"))
        for owner in (dedup, runner):
            self._patch(owner, "dedup_lww", self._plain("dedup"))
        self._patch(adapters.TokensAdapter, "normalize", self._plain("normalize"))
        self._patch(adapters.ExplodedAdapter, "normalize", self._plain("normalize"))
        self._patch(adapters.ExplodedAdapter, "expand_deletes",
                    self._plain("cascade.phase_a"))
        self._patch(table, "prepare_delta", self._prepare)
        self._patch(table, "commit_delta", self._commit)
        self._patch(table, "fold_pending", self._fold)
        self._patch(table, "merge_prepared", self._plain("lakehouse.merge_prepared"))
        self._patch(table, "read", self._read)
        for m in METAFS_METHODS:
            self._patch(metafs.LocalMetaFS, m, self._plain("metafs"))
        self._patch(session, "get_spark", self._plain("session.start"))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    # ------------------------------------------------------ layer wrappers
    def _runner(self, f):
        def wrapper(spark, log_path, table_path, *a, **k):
            with self.span("runner", cascade=k.get("schema") == "exploded_cascade") as s:
                self._root = s
                self._run_batches = set()
                try:
                    return f(spark, log_path, table_path, *a, **k)
                finally:
                    self._root = None
        wrapper.__wrapped__ = f
        return wrapper

    def _open(self, f):
        def wrapper(*a, **k):
            with self.span("changelog.open") as s:
                df = f(*a, **k)
                if s is not None:
                    s.counts["files"] = len(df.inputFiles())
                return df
        wrapper.__wrapped__ = f
        return wrapper

    def _prepare(self, f):
        def wrapper(tbl, updates, job_id, batch_id, *a, **k):
            with self._lock:
                gap = batch_id in self._run_batches
                self._run_batches.add(batch_id)
            with self.span("cascade.gap" if gap else "lakehouse.prepare") as s:
                out = f(tbl, updates, job_id, batch_id, *a, **k)
                if s is not None:
                    st = out.get("stats") or {}
                    s.counts.update(
                        rows=int(st.get("n") or 0),
                        deletes=int(st.get("d") or 0),
                        files=len(out.get("files") or ()),
                        bytes=_files_bytes(tbl.path, out.get("files") or ()),
                        cascade=bool(self._root and self._root.counts.get("cascade")),
                    )
                return out
        wrapper.__wrapped__ = f
        return wrapper

    def _commit(self, f):
        def wrapper(tbl, prepared, *a, **k):
            before = tbl._snap
            st = prepared.get("stats") or {}
            folds = bool(st.get("n")) and len(before["deltas"]) + 1 >= tbl.max_deltas
            with self.span("lakehouse.fold" if folds else "lakehouse.commit") as s:
                out = f(tbl, prepared, *a, **k)
                if s is not None:
                    after = tbl._snap
                    # a commit-path fold shows as L0 emptied by the commit
                    s.name = ("lakehouse.fold" if before["deltas"] and not after["deltas"]
                              else "lakehouse.commit")
                    new = _snap_files(after) - _snap_files(before)
                    s.counts["bytes"] = _files_bytes(tbl.path, new)
                return out
        wrapper.__wrapped__ = f
        return wrapper

    def _fold(self, f):
        def wrapper(tbl, *a, **k):
            before = tbl._snap
            with self.span("lakehouse.fold") as s:
                out = f(tbl, *a, **k)
                if s is not None:
                    new = _snap_files(tbl._snap) - _snap_files(before)
                    s.counts["bytes"] = _files_bytes(tbl.path, new)
                return out
        wrapper.__wrapped__ = f
        return wrapper

    def _read(self, f):
        def wrapper(tbl, *a, **k):
            with self.span("read.plan", l0=len(tbl._snap["deltas"])):
                return f(tbl, *a, **k)
        wrapper.__wrapped__ = f
        return wrapper


# ------------------------------------------------------------------ analysis
def attribute(spans: list[Span]) -> dict[str, float]:
    """Self time per span name (see the module docstring)."""
    by_id = {s.id: s for s in spans}
    events = sorted(
        [(s.start, 1, s.id) for s in spans] + [(s.end, 0, s.id) for s in spans]
    )
    self_s: dict[str, float] = collections.defaultdict(float)
    active: set[int] = set()
    prev = None
    for t, opening, sid in events:
        if prev is not None and t > prev and active:
            parents = {by_id[a].parent for a in active}
            leaves = [a for a in active if a not in parents]
            for a in leaves:
                self_s[by_id[a].name] += (t - prev) / len(leaves)
        prev = t
        if opening:
            active.add(sid)
        else:
            active.discard(sid)
    return dict(self_s)


def attribute_commit_wait(spans: list[Span]) -> float:
    """Commit-loop idle time: the runner's own thread has no open span
    below the runner while a prepare span is open in a pool thread."""
    total = 0.0
    runners = [s for s in spans if s.name == "runner"]
    for r in runners:
        main = [s for s in spans if s.thread == r.thread and r.start <= s.start
                and s.end <= r.end and s.id != r.id]
        work = [s for s in spans if s.name in ("lakehouse.prepare", "cascade.gap")
                and s.thread != r.thread and r.start <= s.start and s.end <= r.end]
        if not work:
            continue
        cuts = sorted({r.start, r.end, *[x for s in main + work for x in (s.start, s.end)]})
        for a, b in zip(cuts, cuts[1:]):
            mid = (a + b) / 2
            if any(s.start <= mid < s.end for s in main):
                continue
            if any(s.start <= mid < s.end for s in work):
                total += b - a
    return total


def read_event_log(path: str) -> dict:
    """Aggregate a Spark event log by job description: jobs, task
    seconds, shuffle read/write bytes, spill bytes, and the shuffle
    records each reduce task read, per stage (for reduce skew)."""
    stage_desc: dict[int, str] = {}
    agg: dict[str, dict] = collections.defaultdict(
        lambda: {"jobs": 0, "task_s": 0.0, "shuffle_read": 0, "shuffle_write": 0,
                 "spill": 0, "reduce_records": collections.defaultdict(list)}
    )
    files = []
    for root, _, names in os.walk(path):
        files += [os.path.join(root, n) for n in names if not n.startswith(".")]
    for fn in sorted(files):
        with open(fn) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or "-"
                    agg[desc]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    a = agg[stage_desc.get(ev.get("Stage ID"), "-")]
                    a["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    rd = m.get("Shuffle Read Metrics") or {}
                    rb = rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    a["shuffle_read"] += rb
                    if rd.get("Total Records Read"):
                        a["reduce_records"][ev.get("Stage ID")].append(
                            rd["Total Records Read"])
                    a["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    a["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return dict(agg)


SPARK_LAYERS = (
    "runner", "changelog.open", "cascade.phase_a", "lakehouse.prepare",
    "cascade.gap", "lakehouse.commit", "lakehouse.fold", "read.full", "read.point",
)

# Every per-layer metric a traced run prints, with its unit.
PER_LAYER = (
    [("probe.scan_s", "s"), ("probe.normalize_s", "s"), ("probe.dedup_s", "s"),
     ("dedup.shuffle_bytes", "bytes"), ("dedup.reduce_skew", "ratio"),
     ("lakehouse.prepare.busy_s", "s"), ("lakehouse.prepare.calls", "count"),
     ("lakehouse.prepare.rows", "rows"), ("lakehouse.prepare.files", "files"),
     ("lakehouse.prepare.bytes", "bytes"), ("runner.commit_wait_s", "s"),
     ("lakehouse.fold.busy_s", "s"), ("lakehouse.fold.calls", "count"),
     ("lakehouse.fold.bytes", "bytes"), ("runner.self_s", "s"),
     ("runner.calls", "count"), ("runner.spark_jobs", "count"),
     ("changelog.open_s", "s"), ("changelog.opens", "count"),
     ("changelog.files_listed", "files"), ("lakehouse.commit.self_s", "s"),
     ("lakehouse.commit.calls", "count"), ("metafs.ops", "count"),
     ("metafs.busy_s", "s"), ("cascade.phase_a_s", "s"), ("cascade.gap_s", "s"),
     ("cascade.gap_calls", "count"), ("cascade.tombstone_rows", "rows"),
     ("read.plan_s", "s"), ("read.full.files", "files"),
     ("read.point.files", "files"), ("read.l0_depth_mean", "count"),
     ("spark.shuffle_bytes.read", "bytes"), ("spark.spill_bytes", "bytes"),
     ("session.start_s", "s"), ("trace.overhead_share", "share"),
     ("trace.unattributed_s", "s"), ("trace.op_wall_s", "s"),
     ("host.cpu_steal_share", "share")]
    + [(f"self_s.{n}", "s") for n in SELF_LAYERS]
    + [(f"spark.task_s.{n}", "s") for n in SPARK_LAYERS]
    + [(f"spark.shuffle_bytes.{n}", "bytes") for n in SPARK_LAYERS]
)


def _descendants(spans: list[Span], roots: set[int]) -> list[Span]:
    by_id = {s.id: s for s in spans}
    keep: dict[int, bool] = {}

    def inside(s: Span) -> bool:
        if s.id in keep:
            return keep[s.id]
        ok = s.id in roots or (s.parent is not None and s.parent in by_id
                               and inside(by_id[s.parent]))
        keep[s.id] = ok
        return ok

    return [s for s in spans if inside(s)]


def layer_metrics(spans: list[Span], events: dict, op_wall: float,
                  reads: list[tuple[str, int, int]], probe: dict,
                  overhead_share: float, steal_share: float) -> dict:
    """Per-layer metrics of a traced run (see PER_LAYER).

    ``op_wall`` is the wall time of the traced operations as the
    workload's own timers measured it; ``reads`` holds (kind, files,
    L0 depth) per traced read; ``probe`` the probe timings."""
    ops = {s.id for s in spans if s.parent is None and s.name in OP_SPANS}
    inner = _descendants(spans, ops)
    self_s = attribute(inner)

    def of(name):
        return [s for s in inner if s.name == name]

    def dur(name):
        return sum(s.end - s.start for s in of(name))

    def cnt(name, key):
        return sum(s.counts.get(key, 0) for s in of(name))

    unattributed = sum(self_s.get(n, 0.0) for n in ("tick", "replay"))
    n_reads = max(1, len(of("read.plan")))
    ev = lambda d, k: events.get(d, {}).get(k, 0)  # noqa: E731
    runner_jobs = sum(ev(d, "jobs") for d in RUNNER_LAYERS)
    # the dedup aggregation is the one shuffle of a prepare job
    reduce = (events.get("lakehouse.prepare") or {}).get("reduce_records") or {}
    skews = [max(r) / statistics.mean(r) for r in reduce.values() if r]
    m = {
        "probe.scan_s": probe["scan"],
        "probe.normalize_s": probe["normalize"] - probe["scan"],
        "probe.dedup_s": probe["dedup"] - probe["normalize"],
        "dedup.shuffle_bytes": ev("lakehouse.prepare", "shuffle_write"),
        "dedup.reduce_skew": _mean(skews),
        "lakehouse.prepare.busy_s": dur("lakehouse.prepare"),
        "lakehouse.prepare.calls": len(of("lakehouse.prepare")),
        "lakehouse.prepare.rows": cnt("lakehouse.prepare", "rows"),
        "lakehouse.prepare.files": cnt("lakehouse.prepare", "files"),
        "lakehouse.prepare.bytes": cnt("lakehouse.prepare", "bytes"),
        "runner.commit_wait_s": attribute_commit_wait(inner),
        "lakehouse.fold.busy_s": dur("lakehouse.fold"),
        "lakehouse.fold.calls": len(of("lakehouse.fold")),
        "lakehouse.fold.bytes": cnt("lakehouse.fold", "bytes"),
        "runner.self_s": self_s.get("runner", 0.0),
        "runner.calls": len(of("runner")),
        "runner.spark_jobs": runner_jobs / max(1, len(of("runner"))),
        "changelog.open_s": dur("changelog.open"),
        "changelog.opens": len(of("changelog.open")),
        "changelog.files_listed": cnt("changelog.open", "files"),
        "lakehouse.commit.self_s": self_s.get("lakehouse.commit", 0.0),
        "lakehouse.commit.calls": len(of("lakehouse.commit")),
        "metafs.ops": len(of("metafs")),
        "metafs.busy_s": dur("metafs"),
        "cascade.phase_a_s": dur("cascade.phase_a"),
        "cascade.gap_s": dur("cascade.gap"),
        "cascade.gap_calls": len(of("cascade.gap")),
        "cascade.tombstone_rows": sum(
            s.counts.get("deletes", 0) for s in of("lakehouse.prepare") + of("cascade.gap")
            if s.counts.get("cascade")),
        "read.plan_s": dur("read.plan") / n_reads,
        "read.full.files": _mean([f for k, f, _ in reads if k == "read.full"]),
        "read.point.files": _mean([f for k, f, _ in reads if k == "read.point"]),
        "read.l0_depth_mean": _mean([d for _, _, d in reads]),
        "spark.shuffle_bytes.read": (ev("read.full", "shuffle_read")
                                     + ev("read.point", "shuffle_read")) / n_reads,
        "spark.spill_bytes": sum(a["spill"] for a in events.values()),
        "session.start_s": sum(s.end - s.start for s in spans if s.name == "session.start"),
        "trace.overhead_share": overhead_share,
        "trace.unattributed_s": unattributed,
        "trace.op_wall_s": op_wall,
        "host.cpu_steal_share": steal_share,
    }
    for n in SELF_LAYERS:
        m[f"self_s.{n}"] = self_s.get(n, 0.0)
    for n in SPARK_LAYERS:
        m[f"spark.task_s.{n}"] = ev(n, "task_s")
        m[f"spark.shuffle_bytes.{n}"] = ev(n, "shuffle_read") + ev(n, "shuffle_write")
    return m


def _mean(xs: list) -> float:
    return statistics.mean(xs) if xs else 0.0
