"""Fast tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import oracle  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
from gen import LogGenerator, LogParams, segment_path, write_segment  # noqa: E402


def write_log(gen: LogGenerator, root: str, segments, part_width: int) -> None:
    for k in segments:
        write_segment(gen.segment(k), segment_path(root, k, gen.width, part_width))


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("shape", ["tokens", "exploded"])
def test_generator_is_deterministic(tmp_path, shape):
    p = LogParams(shape=shape, n_keys=300)
    write_log(LogGenerator(p, 7, 500), str(tmp_path / "a"), range(3), 1000)
    # other order, other instance: segments depend only on (seed, k)
    write_log(LogGenerator(p, 7, 500), str(tmp_path / "b"), [2, 0, 1], 1000)
    write_log(LogGenerator(p, 8, 500), str(tmp_path / "c"), range(3), 1000)
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert len(a) == 3 and a.keys() == c.keys() and a != c


def test_generator_parameters_shape_the_log():
    p = LogParams(n_keys=1000, delete_share=0.3, dup_share=0.1, tokens_min=5,
                  tokens_max=5)
    t = LogGenerator(p, 1, 2000).segment(4)
    seqs = t.column("commit_seq").to_pylist()
    assert t.num_rows == 2200  # 10% verbatim re-deliveries
    assert set(seqs) == set(range(8000, 10000))
    assert seqs != sorted(seqs)  # out-of-order arrival
    ops = t.column("op").to_pylist()
    assert 0.25 < ops.count("D") / len(ops) < 0.35
    versions = set(t.column("payload_version").to_pylist())
    assert versions == {1, 2, 3}
    lens = {len(x) for x in t.column("tokens").to_pylist() if x is not None}
    assert lens == {5}


@pytest.mark.parametrize(
    "n, expect",
    [(0, None), (20, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_needs_ten_samples_beyond(n, expect):
    t = stats.tail([float(i) for i in range(n)])
    assert (t[0] if t else None) == expect
    if t:
        beyond = sum(1 for i in range(n) if i > t[1])
        assert beyond >= stats.TAIL_MIN_BEYOND - 1  # interpolated cut point


def test_summary_reports_no_tail_below_the_rule():
    s = stats.summary([1.0] * 39)
    assert s["n"] == 39 and s["p50"] == 1.0 and "tail" not in s


def test_tail_mode_check():
    two_modes = [1.0] * 85 + [5.0] * 15  # p90 sits on the jump
    assert not stats.in_one_mode(two_modes, 90.0)
    assert stats.in_one_mode([1.0 + i / 1000 for i in range(100)], 90.0)


@pytest.mark.parametrize("shape", ["tokens", "exploded"])
def test_oracle_catches_an_injected_row_difference(tmp_path, shape):
    log = str(tmp_path / "log")
    write_log(LogGenerator(LogParams(shape=shape, n_keys=200, delete_share=0.25),
                           3, 400), log, range(3), 1200)
    good = str(tmp_path / "good.parquet")
    bad = str(tmp_path / "bad.parquet")
    con = duckdb.connect()
    con.execute(f"COPY ({oracle.expected_sql(shape, log, 10**9)}) TO '{good}'")
    assert oracle.compare(shape, log, 10**9, good)["ok"]
    # one token of one row's array changed
    con.execute(
        f"""COPY (SELECT * REPLACE (CASE WHEN doc_id = (SELECT min(doc_id) FROM '{good}')
                  THEN list_concat(tokens[1:-2], [-1]) ELSE tokens END AS tokens)
                  FROM '{good}') TO '{bad}'""")
    res = oracle.compare(shape, log, 10**9, bad)
    assert not res["ok"] and res["missing"] == 1 and res["extra"] == 1
    # a stale watermark expects other rows
    assert not oracle.compare(shape, log, 500, good)["ok"]


def test_tracer_uninstall_restores_every_patched_name():
    pytest.importorskip("pyspark")
    tr = spans.Tracer()
    tr.install()
    try:
        patched = list(tr._patched)
        assert len(patched) >= 20
        for owner, attr, raw in patched:
            now = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            assert now is not raw
    finally:
        tr.uninstall()
    for owner, attr, raw in patched:
        now = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        assert now is raw, f"{owner}.{attr} not restored"
    assert not tr._patched


def _span(i, name, start, end, parent=None, thread=1):
    s = spans.Span(i, name, start, parent, thread)
    s.end = end
    return s


def test_self_times_add_up_to_the_operation_wall():
    ss = [
        _span(0, "tick", 0.0, 10.0),
        _span(1, "runner", 1.0, 9.0, parent=0),
        _span(2, "lakehouse.prepare", 2.0, 6.0, parent=1, thread=2),
        _span(3, "lakehouse.prepare", 3.0, 5.0, parent=1, thread=3),
        _span(4, "lakehouse.commit", 6.5, 8.0, parent=1),
    ]
    self_s = spans.attribute(ss)
    assert sum(self_s.values()) == pytest.approx(10.0)
    assert self_s["tick"] == pytest.approx(2.0)
    assert self_s["runner"] == pytest.approx(1.0 + 0.5 + 1.0)
    assert self_s["lakehouse.prepare"] == pytest.approx(4.0)
    # the runner thread waits 2.0..6.0 while prepares run elsewhere
    assert spans.attribute_commit_wait(ss) == pytest.approx(4.0)


def test_a_run_whose_operations_all_failed_still_reports():
    import math

    import workloads

    b = workloads.Bench(BENCH, BENCH, workloads.BULK, 1, 1)
    b.res.setup.update(session_s=1.0, prep_s=1.0, warmup_s=1.0)
    b.res.attempted, b.res.failed = 3, 3
    m = b.metrics()
    assert m["setup_s"][0] == 3.0 and m["peak_rss_mb"][0] > 0
    for name in ("apply_events_per_s", "freshness_p50_s", "read_full_p50_s",
                 "write_bytes_per_input_byte"):
        assert math.isnan(m[name][0])


def test_ab_withholds_a_gain_when_the_change_fails_more():
    import ab

    parent = [10.0, 11.0, 10.5, 10.2, 10.8]
    change = [5.0, 5.5, 5.2, 5.1, 5.4]
    assert ab.verdict(parent, change, "lower", 0.1)["verdict"] == "gain"
    assert ab.verdict(parent, change, "lower", 0.1, failed=(0, 1))["verdict"] != "gain"
    # a pair whose change run has no value is not won
    v = ab.verdict(parent, [float("nan")] + change[1:], "lower", 0.1)
    assert v["wins"] == 4 and v["verdict"] != "gain"
