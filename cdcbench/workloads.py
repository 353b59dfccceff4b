"""The three workloads: inputs, set-up, the measured loop and the check.

- ``bulk_replay``: catch-up.  A seeded ``tokens`` log of 8 batches is
  replayed into a fresh table, again and again, for the run length.
- ``steady_ticks``: open loop on a compacted ``tokens`` table above the
  read path's merge floor.  Whole-batch segments become visible on a
  fixed schedule; the loop resumes the loader from the watermark to the
  visible head, then reads the table once in full and once by bucket.
- ``cascade_ticks``: the same loop on an ``exploded_cascade`` table
  below the merge floor, whose segments delete whole documents.

See NOTES.md for why each exists and what each metric means on it.
"""

from __future__ import annotations

import hashlib
import os
import resource
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field, replace

import numpy as np

from gen import LogGenerator, LogParams, segment_path, write_segment
import oracle
import stats

MASTER = "local[4]"
DRIVER_MEM = "3g"


@dataclass(frozen=True)
class Workload:
    name: str
    schema: str  # the engine's adapter name
    log: LogParams
    width: int  # events per segment = batch_width
    part_width: int  # log seq_part width
    n_buckets: int
    # bulk: batches per replay; ticks: segments per fold cycle
    batches: int = 8
    # ticks only: the pre-loaded table
    base_keys: int = 0
    base_width: int = 0  # batch width of the base load
    period_s: float = 0.0  # one segment becomes visible every period_s


BULK = Workload(
    name="bulk_replay",
    schema="tokens",
    log=LogParams(shape="tokens", n_keys=100_000, zipf_s=1.1),
    width=25_000,
    part_width=25_000,
    n_buckets=32,
)
STEADY = Workload(
    name="steady_ticks",
    schema="tokens",
    log=LogParams(shape="tokens", n_keys=640_000, zipf_s=1.1),
    width=2_000,
    part_width=160_000,
    n_buckets=64,
    base_keys=640_000,
    base_width=160_000,
    period_s=3.2,
)
CASCADE = Workload(
    name="cascade_ticks",
    schema="exploded_cascade",
    log=LogParams(shape="exploded", n_keys=25_000, zipf_s=1.1, delete_share=0.2,
                  update_share=0.3, txs_max=3),
    width=5_000,
    part_width=25_000,
    n_buckets=32,
    base_keys=25_000,
    base_width=25_000,
    period_s=5.0,
)
WORKLOADS = {w.name: w for w in (BULK, STEADY, CASCADE)}
# Seed of the pre-loaded base tables: fixed, so one cached build serves
# every run; the run seed drives the measured segments.
BASE_SEED = 20_211
# bulk: the replay time the run length is divided by, so every run of a
# commit makes the same number of replays
REPLAY_S = 6.0
# ticks: warm-up ticks before the measured segments, and the segment of
# each fold cycle that arrives together with the one before it, so every
# run has one two-batch catch-up tick; at 2 it is three ticks away from
# the fold (commit 8 = measured segment 5)
WARMUP_TICKS = 2
BURST_AT = 2


# --------------------------------------------------------------- utilities
def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def jvm_peak_rss_kb() -> int:
    """Peak RSS (VmHWM) of the JVMs started by this process."""
    me = os.getpid()
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                st = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if int(st.get("PPid", "0").strip()) != me:
            continue
        total += int(st.get("VmHWM", "0 kB").split()[0])
    return total


def peak_rss_mb() -> float:
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py + jvm_peak_rss_kb()) / 1024.0


def cpu_times() -> tuple[float, float]:
    """(steal, total) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return float(vals[7] if len(vals) > 7 else 0), float(sum(vals[:8]))


def link_tree(src: str, dst: str) -> None:
    """Hard-link every file of ``src`` under ``dst`` (read-only inputs)."""
    for d, _, names in os.walk(src):
        out = os.path.join(dst, os.path.relpath(d, src))
        os.makedirs(out, exist_ok=True)
        for n in names:
            os.link(os.path.join(d, n), os.path.join(out, n))


def source_digest(root: str, w: Workload) -> str:
    """Cache key of a base table: engine sources, generator and params."""
    h = hashlib.sha256(repr((w, BASE_SEED)).encode())
    here = os.path.dirname(os.path.abspath(__file__))
    files = [os.path.join(here, "gen.py"), os.path.join(here, "workloads.py")]
    for d, _, names in os.walk(os.path.join(root, "dlt_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


@dataclass
class Result:
    """Samples and counters of one measured run."""

    attempted: int = 0
    failed: int = 0
    events: int = 0
    apply_s: float = 0.0
    in_bytes: int = 0
    out_bytes: int = 0
    fresh: list = field(default_factory=list)
    read_full: list = field(default_factory=list)
    read_point: list = field(default_factory=list)
    ticks: list = field(default_factory=list)
    late: list = field(default_factory=list)
    setup: dict = field(default_factory=dict)
    check: dict = field(default_factory=dict)


# ------------------------------------------------------------------ runner
class Bench:
    """One run of one workload inside ``work`` (a fresh directory)."""

    def __init__(self, root: str, work: str, w: Workload, seed: int,
                 seconds: int, tracer=None):
        self.root, self.work, self.w = root, work, w
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.res = Result()
        self.rng = np.random.default_rng([seed, 0xB0C])
        self.spark = None
        # traced runs: (kind, files, L0 depth) per traced read, (wall,
        # traced) per replay, and the wall time of traced operations
        self.trace_reads: list[tuple[str, int, int]] = []
        self.op_samples: list[tuple[float, bool]] = []
        self.traced_op_wall = 0.0
        self.measuring = False  # spans are recorded only while measuring

    # -- engine calls, looked up at call time so the tracer's wrappers apply
    def _run(self, log: str, tbl: str, **kw):
        from dlt_spark.plans import runner

        kw.setdefault("batch_width", self.w.width)
        return runner.run_incremental(
            self.spark, log, tbl, schema=self.w.schema, n_buckets=self.w.n_buckets,
            log_part_width=self.w.part_width, **kw)

    def _table(self, tbl: str):
        from dlt_spark.lakehouse import LakehouseTable

        return LakehouseTable.load(self.spark, tbl)

    def _op(self, name: str, fn, traced: bool = True) -> float | None:
        """Time one operation: its seconds, or None when it raised; a
        raising operation counts as failed."""
        self.res.attempted += 1
        tr = self.tracer
        if tr is not None:
            tr.enabled = traced and self.measuring
        t0 = time.monotonic()
        try:
            if tr is not None:
                with tr.span(name):
                    fn()
            else:
                fn()
        except Exception as e:  # noqa: BLE001 -- counted, reported, run goes on
            print(f"[{self.w.name}] {name} failed: {e!r}", file=sys.stderr, flush=True)
            self.res.failed += 1
            return None
        finally:
            if tr is not None:
                tr.enabled = False
        dt = time.monotonic() - t0
        if tr is not None and traced and self.measuring:
            self.traced_op_wall += dt
        return dt

    def end_warmup(self) -> None:
        """Forget the warm-up's samples; measurement starts."""
        self.res.read_full.clear()
        self.res.read_point.clear()
        self.measuring = True

    def read(self, tbl: str, kind: str, i: int) -> None:
        """One ``read.full`` or ``read.point`` (one seeded bucket) into a
        noop sink; in a traced run half the calls run untraced, in ABBA
        order of ``i``."""
        traced = i % 4 in (0, 3)
        kw = {} if kind == "read.full" else {
            "buckets": [int(self.rng.integers(0, self.w.n_buckets))]}
        dt = self._op(kind, lambda: noop(self._table(tbl).read(**kw)), traced=traced)
        if dt is None:
            return
        (self.res.read_full if kind == "read.full" else self.res.read_point
         ).append((dt, traced))
        if self.tracer is not None and traced and self.measuring:
            t = self._table(tbl)
            self.trace_reads.append(
                (kind, len(t.read(**kw).inputFiles()), len(t._snap["deltas"])))

    def reads(self, tbl: str, i: int) -> None:
        """The reader of the tick workloads: one full and one point read."""
        self.read(tbl, "read.full", i)
        self.read(tbl, "read.point", i)

    # ------------------------------------------------------------- set-up
    def start_session(self) -> float:
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # the same heap whatever the caller's environment holds; a
            # fixed heap size keeps the JVM's peak RSS from following
            # GC timing
            "spark.driver.memory": DRIVER_MEM,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer is not None:
            ev = os.path.join(self.work, "eventlog")
            os.makedirs(ev, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": ev,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.monotonic()
        from dlt_spark import session

        self.spark = session.get_spark(f"cdcbench-{self.w.name}", master=MASTER,
                                       extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.monotonic() - t0

    def base_cache(self) -> str:
        """Directory holding the pre-loaded base table and its log,
        built once per engine version and reused by every run."""
        w = self.w
        cache = os.path.join(self.root, ".bench_cache",
                             f"{w.name}-{source_digest(self.root, w)}")
        if os.path.isdir(cache):
            return cache
        tmp = f"{cache}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen = LogGenerator(replace(w.log, dup_share=0.0), BASE_SEED, w.base_width)
        keys = np.random.default_rng([BASE_SEED, 7]).permutation(w.base_keys)
        n = w.base_keys // w.base_width
        for k in range(n):
            write_segment(gen.inserts(k, keys[k * w.base_width:(k + 1) * w.base_width]),
                          segment_path(os.path.join(tmp, "log"), k, w.base_width,
                                       w.part_width))
        from dlt_spark.lakehouse import LakehouseTable

        tbl = os.path.join(tmp, "tbl")
        self._run(os.path.join(tmp, "log"), tbl, seq_to=w.base_keys - 1,
                  batch_width=w.base_width)
        t = LakehouseTable.load(self.spark, tbl)
        t.compact()
        # keep only what the compacted snapshot references
        t = LakehouseTable.load(self.spark, tbl)
        t.expire_snapshots(retain_last=1)
        t.vacuum(grace_secs=0.0)
        os.replace(tmp, cache)
        return cache

    def stage(self, d: str, first: int, count: int) -> list[tuple[str, int, int]]:
        """Pre-write ``count`` segments from batch ``first`` under ``d``;
        [(path, rows, bytes)]."""
        gen = LogGenerator(self.w.log, self.seed, self.w.width)
        out = []
        for k in range(first, first + count):
            seg = gen.segment(k)
            p = segment_path(d, k, self.w.width, self.w.part_width)
            out.append((p, seg.num_rows, write_segment(seg, p)))
        return out

    # ------------------------------------------------------------ checks
    def check(self, log: str, tbl: str) -> None:
        """Compare the table with the DuckDB fold of its log."""
        t0 = time.monotonic()
        self.res.attempted += 1
        try:
            t = self._table(tbl)
            dump = os.path.join(self.work, "dump")
            shutil.rmtree(dump, ignore_errors=True)
            t.read().select(*oracle.columns(self.w.log.shape)).write.parquet(dump)
            res = oracle.compare(self.w.log.shape, log, t.watermark(),
                                 os.path.join(dump, "*.parquet"))
            res["watermark"] = t.watermark()
        except Exception as e:  # noqa: BLE001 -- a check that cannot run fails
            res = {"ok": False, "error": repr(e)}
        res["secs"] = time.monotonic() - t0
        self.res.check = res
        if not res["ok"]:
            self.res.failed += 1
            print(f"[{self.w.name}] correctness mismatch: {res}", file=sys.stderr, flush=True)

    # ------------------------------------------------------------- bulk
    def run_bulk(self) -> None:
        w = self.w
        segs: list = []

        def prep():
            d = os.path.join(self.work, "log")
            shutil.rmtree(d, ignore_errors=True)
            segs[:] = self.stage(d, 0, w.batches)

        self.setup_prep(prep)
        log = os.path.join(self.work, "log")
        rows = sum(s[1] for s in segs)
        log_bytes = sum(s[2] for s in segs)
        t0 = time.monotonic()
        # the first replay in a fresh JVM runs ~3x slower and the second
        # still ~1.4x (JIT): two warm-up replays
        for j in range(2):
            warm = os.path.join(self.work, f"tbl-warm{j}")
            self._op("replay", lambda: self._run(log, warm))
            self.read(warm, "read.full", 0)
            shutil.rmtree(warm, ignore_errors=True)
        self.res.setup["warmup_s"] = time.monotonic() - t0
        self.end_warmup()
        last = None
        for i in range(max(2, round(self.seconds / REPLAY_S))):
            tbl = os.path.join(self.work, f"tbl-{i}")
            traced = i % 4 in (0, 3)  # ABBA: drift hits both sides alike
            dt = self._op("replay", lambda: self._run(log, tbl), traced=traced)
            if dt is None:  # counted as failed; the next replay starts afresh
                shutil.rmtree(tbl, ignore_errors=True)
                continue
            if last is not None:
                shutil.rmtree(last)
            last = tbl
            self.op_samples.append((dt, traced))
            self.res.apply_s += dt
            # the whole log became visible when the replay started
            self.res.fresh.append(dt)
            self.res.events += rows
            self.res.in_bytes += log_bytes
            self.res.out_bytes += sum(tree_files(tbl).values())
            self.read(tbl, "read.full", i)
        self.measuring = False
        if last is not None:
            self.check(log, last)

    # ------------------------------------------------------------ ticks
    def run_ticks(self) -> None:
        w = self.w
        # segments start after the base log and never straddle a log part
        assert w.base_keys % w.width == 0 and w.part_width % w.width == 0
        cache = self.base_cache()
        k0 = w.base_keys // w.width
        n_meas = w.batches * max(1, round(self.seconds / (w.batches * w.period_s)))
        log = os.path.join(self.work, "log")
        tbl = os.path.join(self.work, "tbl")
        staged = os.path.join(self.work, "staged")
        segs: list = []

        def prep():
            for d in (log, tbl, staged):
                shutil.rmtree(d, ignore_errors=True)
            link_tree(os.path.join(cache, "log"), log)
            shutil.copytree(os.path.join(cache, "tbl"), tbl)
            segs[:] = self.stage(staged, k0, WARMUP_TICKS + n_meas)

        self.setup_prep(prep)

        def visible(path: str) -> None:
            dst = os.path.join(log, os.path.relpath(path, staged))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.link(path, dst)

        t0 = time.monotonic()
        pairs = []  # wall time of each tick's pair of reads
        for j in range(WARMUP_TICKS):
            visible(segs[j][0])
            self._op("tick", lambda j=j: self._run(log, tbl, seq_to=(k0 + j + 1) * w.width - 1))
            t_read = time.monotonic()
            self.reads(tbl, 0)
            pairs.append(time.monotonic() - t_read)
        pairs = pairs[-1:]  # the earlier warm-up reads ran cold
        read_s = pairs[0]
        self.res.setup["warmup_s"] = time.monotonic() - t0
        self.end_warmup()

        meas = segs[WARMUP_TICKS:]
        before = tree_files(tbl)
        # open loop: a linker thread makes segment j visible at its due
        # time, whatever the loader is doing
        start = time.monotonic() + 0.05
        due = [start + (j - (j + w.batches - BURST_AT) // w.batches) * w.period_s
               for j in range(len(meas))]
        shown = threading.Semaphore(0)
        stop = threading.Event()

        def linker():
            j = 0
            while j < len(meas):
                if stop.wait(max(0.0, due[j] - time.monotonic())):
                    return
                # segments due together become visible together
                group = [k for k in range(j, len(meas)) if due[k] == due[j]]
                for k in group:
                    visible(meas[k][0])
                    self.res.late.append(time.monotonic() - due[k])
                shown.release(len(group))
                j += len(group)

        th = threading.Thread(target=linker, name="segment-linker", daemon=True)
        th.start()
        applied = 0
        i = 0
        try:
            while applied < len(meas):
                shown.acquire()
                head = applied + 1
                while shown.acquire(blocking=False):
                    head += 1
                hi = (k0 + WARMUP_TICKS + head) * w.width - 1
                dt = self._op("tick", lambda hi=hi: self._run(log, tbl, seq_to=hi))
                t_ret = time.monotonic()
                if dt is None:  # counted as failed; the check still runs
                    break
                self.res.apply_s += dt
                self.res.ticks.append((dt, head - applied))
                for j in range(applied, head):
                    self.res.fresh.append(t_ret - due[j])
                    self.res.events += meas[j][1]
                    self.res.in_bytes += meas[j][2]
                applied = head
                # reads run in the slack of the period only: skipped when
                # the next segment would become visible before a typical
                # pair of reads ends, so a read never delays a segment
                if applied < len(meas) and time.monotonic() + read_s >= due[applied]:
                    continue
                t_read = time.monotonic()
                self.reads(tbl, i)
                pairs.append(time.monotonic() - t_read)
                read_s = statistics.median(pairs)
                i += 1
        finally:
            stop.set()
            th.join(timeout=30)
        # a slow host skips reads; top up to half as many pairs as segments
        for _ in range(len(meas) // 2 - len(self.res.read_full)):
            self.reads(tbl, i)
            i += 1
        self.measuring = False
        after = tree_files(tbl)
        self.res.out_bytes = sum(s for p, s in after.items() if p not in before)
        self.check(log, tbl)

    def setup_prep(self, prep, repeats: int = 3) -> None:
        """Input generation and pre-load, repeated; the median counts."""
        times = []
        for _ in range(repeats):
            t0 = time.monotonic()
            prep()
            times.append(time.monotonic() - t0)
        self.res.setup["prep_s"] = statistics.median(times)
        self.res.setup["prep_total_s"] = sum(times)

    # ------------------------------------------------------------ report
    def metrics(self) -> dict:
        """The end-to-end metrics.  One with no samples, because every
        operation behind it failed, reads NaN; the run then has failed
        operations and is not correct."""
        r = self.res
        nan = float("nan")
        setup_s = r.setup["session_s"] + r.setup["prep_s"] + r.setup["warmup_s"]
        reads = [x for x, _ in r.read_full]
        return {
            "setup_s": (setup_s, "s"),
            "apply_events_per_s": (r.events / r.apply_s if r.apply_s else nan, "events/s"),
            "freshness_p50_s": (statistics.median(r.fresh) if r.fresh else nan, "s"),
            "read_full_p50_s": (statistics.median(reads) if reads else nan, "s"),
            "write_bytes_per_input_byte": (
                r.out_bytes / r.in_bytes if r.in_bytes else nan, "ratio"),
            "peak_rss_mb": (peak_rss_mb(), "MB"),
        }

    def summary(self) -> dict:
        """Sample counts, medians and (where the samples allow) tails."""
        r = self.res
        out = {
            "freshness_s": stats.summary(r.fresh),
            "read_full_s": stats.summary([x for x, _ in r.read_full]),
            "read_point_s": stats.summary([x for x, _ in r.read_point]),
            "setup": r.setup,
            "check": r.check,
        }
        if r.ticks:
            out["tick_s"] = stats.summary([x for x, _ in r.ticks])
            out["segments_per_tick_max"] = max(n for _, n in r.ticks)
        if r.late:
            out["generator_late_max_s"] = max(r.late)
        out["samples"] = {
            "freshness_s": r.fresh,
            "read_full_s": [x for x, _ in r.read_full],
            "read_point_s": [x for x, _ in r.read_point],
            "tick_s": [x for x, _ in r.ticks],
        }
        return out
