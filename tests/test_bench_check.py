"""bench.py --check regression-tripwire tests (VERDICT r7 ask #6).

The envelope rule itself is unit-tested (pure function, no JVM); one
subprocess test proves the flag actually fires end-to-end — a
fabricated previous artifact claims a query was near-instant, so the
real run must trip the >2x-and-above-floor rule and exit non-zero.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def test_check_regressions_envelope_rule():
    prev = {"fast": 0.2, "slow": 3.0, "gone": 1.0, "zero": 0.0}
    curr = {"fast": 0.5, "slow": 7.0, "new": 9.9, "zero": 5.0}
    bad = bench.check_regressions(prev, curr)
    # slow: 3 -> 7 is >2x and above the floor -> fires
    assert len(bad) == 1 and bad[0].startswith("slow:"), bad
    # fast: 0.2 -> 0.5 is >2x but under the 0.75 s noise floor -> noise
    # new/gone: present on one side only -> recomposition, ignored
    # zero: old <= 0 -> ratio undefined, ignored
    assert bench.check_regressions(prev, {"slow": 5.9}) == []  # <2x: ok
    assert bench.check_regressions({}, curr) == []


def test_check_regressions_floor_param():
    prev, curr = {"q": 0.1}, {"q": 0.4}
    assert bench.check_regressions(prev, curr) == []  # under default floor
    assert len(bench.check_regressions(prev, curr, floor=0.05)) == 1


def test_load_prev_timings_both_shapes(tmp_path):
    line = {"metric": "headline_queries_total_sec", "queries": {"a": 1.5}}
    p1 = tmp_path / "line.json"
    p1.write_text(json.dumps(line))
    assert bench.load_prev_timings(str(p1)) == {"a": 1.5}
    wrapper = {"n": 7, "rc": 0, "tail": "noise\n" + json.dumps(line) + "\n"}
    p2 = tmp_path / "wrap.json"
    p2.write_text(json.dumps(wrapper))
    assert bench.load_prev_timings(str(p2)) == {"a": 1.5}


def test_stdout_line_fits_driver_tail():
    """BENCH_r08/r09 recorded "parsed": null because the stdout JSON
    line outgrew the driver's 2000-char capture tail. Compose the line
    exactly as main() does for the CURRENT registry with worst-case
    3-decimal timings and assert it fits the budget — so registry
    growth can never silently push the driver artifact back to null."""
    names = [n for n, _ in bench.bench_set()]
    out = {
        "metric": "headline_queries_total_sec",
        "value": 9999.999,
        "unit": "sec",
        "queries": {n: 88.888 for n in names},
        "sf": 0.1,
    }
    line = bench.compact_line(out)
    assert len(line) <= bench.DRIVER_TAIL_BUDGET, (
        f"bench stdout line is {len(line)} chars (> "
        f"{bench.DRIVER_TAIL_BUDGET}); the driver tail will truncate it"
    )
    parsed = json.loads(line)
    from datawarehouse_spark.queries import QUERIES as DRIVER

    # every driver registry entry must survive compaction
    assert set(DRIVER) <= set(parsed["queries"])
    assert set(parsed["queries"]) <= set(names)


def test_load_prev_timings_compact_line(tmp_path):
    """The compact (space-free) stdout line must be recoverable from a
    driver wrapper, including the regex salvage path for a
    front-truncated tail."""
    line = json.dumps(
        {"metric": "m", "queries": {"a": 1.5, "b": 0.25}},
        separators=(",", ":"),
    )
    whole = tmp_path / "whole.json"
    whole.write_text(json.dumps({"n": 9, "tail": "x\n" + line + "\n"}))
    assert bench.load_prev_timings(str(whole)) == {"a": 1.5, "b": 0.25}
    cut = tmp_path / "cut.json"
    cut.write_text(json.dumps({"n": 9, "tail": line[20:]}))
    got = bench.load_prev_timings(str(cut))
    assert got.get("b") == 0.25


def test_check_flag_fires_end_to_end(tmp_path):
    """Deliberate-slowdown self-test: the previous artifact claims
    suite_scan_sort took 1 ms, so the real sf0.001 run (~0.3 s) is a
    >2x regression above the (env-lowered) floor — bench.py must exit
    non-zero and name the offender on stderr."""
    prev = tmp_path / "prev.json"
    prev.write_text(json.dumps({"queries": {"suite_scan_sort": 0.001}}))
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_REPS="1",
        SPARK_GRAFT_CHECK_FLOOR="0.05",
    )
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"),
         "--only", "suite_scan_sort", "--check", str(prev)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert r.returncode == 1, (r.returncode, r.stderr[-500:])
    assert "suite_scan_sort" in r.stderr and "REGRESSIONS" in r.stderr


def test_contention_probe_and_flag_semantics():
    """r13 (VERDICT r12 ask #1a): the idle protocol is mechanical. The
    probe must (a) never count THIS process tree as foreign — pytest
    itself contains 'pytest', so self-exclusion failing would flag
    every capture; (b) report a numeric load average; and contended()
    must trip on any probe with a foreign process and never on clean
    probes (load alone is evidence, not a trigger — the bench's own
    JVM saturates it)."""
    p = bench.contention_probe()
    assert isinstance(p["load1"], float)
    assert all(":" in f for f in p["foreign"])
    # this pytest process (and any spark JVM it spawned) is OUR tree;
    # a foreign hit here would be a genuinely concurrent run, which
    # the suite can't rule out — but self-pids must never appear
    me = str(os.getpid()) + ":"
    assert not any(f.startswith(me) for f in p["foreign"])
    assert bench.contended([{"load1": 31.0, "foreign": []}]) is False
    assert bench.contended(
        [{"load1": 0.1, "foreign": []}, {"load1": 0.2, "foreign": ["7:java"]}]
    ) is True


def test_settle_returns_immediately_when_idle(monkeypatch):
    """r14 (VERDICT r13 ask #1): an idle host must cost the settle loop
    nothing — one probe, no sleep, so --only iteration stays fast."""
    monkeypatch.setattr(
        bench, "contention_probe",
        lambda: {"load1": 0.1, "foreign": []},
    )
    probes = bench.settle(max_wait=120.0, interval=0.01)
    assert len(probes) == 1 and not probes[0]["foreign"]


def test_settle_waits_out_contender(monkeypatch):
    """A contender that exits mid-settle: the loop must keep probing
    until TWO consecutive clean probes (absorbing the JVM shutdown
    race) and return the full probe trail as evidence."""
    seq = iter([["7:java"], ["7:java"], [], []])
    monkeypatch.setattr(
        bench, "contention_probe",
        lambda: {"load1": 1.0, "foreign": next(seq, [])},
    )
    probes = bench.settle(max_wait=60.0, interval=0.01)
    assert len(probes) == 4
    assert probes[0]["foreign"] and not probes[-1]["foreign"]
    assert not probes[-2]["foreign"]  # double-clean before returning


def test_settle_bounded_when_contender_persists(monkeypatch):
    """A contender that outlives the budget: settle must give up at
    max_wait and return (the contended-stamping path then applies) —
    never hang the bench."""
    monkeypatch.setattr(
        bench, "contention_probe",
        lambda: {"load1": 9.0, "foreign": ["7:java"]},
    )
    import time as _t

    t0 = _t.monotonic()
    probes = bench.settle(max_wait=0.05, interval=0.01)
    assert _t.monotonic() - t0 < 5.0
    assert all(p["foreign"] for p in probes)


def test_probe_sampler_sees_mid_window_contender(monkeypatch):
    """ADVICE r13 (bench.py:162): endpoint-only sampling missed a
    contender living entirely inside the bench window. The background
    sampler must append probes during the timed region."""
    monkeypatch.setattr(
        bench, "contention_probe",
        lambda: {"load1": 2.0, "foreign": ["9:java"]},
    )
    probes: list[dict] = []
    import time as _t

    with bench.ProbeSampler(probes, interval=0.02):
        _t.sleep(0.2)
    assert len(probes) >= 2, probes
    assert bench.contended(probes) is True


def test_contended_flag_survives_compact_line_trims():
    """The contended mark must never be trimmed out of the stdout line
    — its absence asserts an idle capture, so silently dropping it
    under the tail budget would re-create the r12 artifact problem."""
    out = {
        "metric": "headline_queries_total_sec",
        "value": 1.0,
        "unit": "sec",
        "queries": {f"q{i:03d}": 0.123456 for i in range(120)},
        "sf": 0.1,
        "contended": True,
    }
    line = bench.compact_line(out)
    assert len(line) <= bench.DRIVER_TAIL_BUDGET
    assert json.loads(line).get("contended") is True
