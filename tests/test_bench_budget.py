"""bench.py robustness gates (VERDICT r03 ask #7).

Three rounds of official bench artifacts were lost (r01 weak legs, r02
clipped line, r03 rc-124 kill with ``parsed: null``).  These tests pin the
round-4 contract with fast fakes — no Spark session, no corpus:

* the overall wall-clock budget stops ``_spread_legs`` sampling (first
  leg of each kind always runs; later legs are skipped, never killed),
* the emitted stdout line parses as JSON and stays under the driver's
  ~2000-char tail capture,
* a SIGTERM mid-run still yields a parseable line (rc 143, flushed by the
  signal handler) instead of nothing.
"""
from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import textwrap
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


@pytest.fixture(scope="module")
def bench():
    import bench as b
    # importing bench registers an atexit flush of the (empty) state line;
    # mark it emitted so pytest's own exit stays clean
    b._EMITTED = True
    return b


def test_import_leaves_environment_unchanged():
    """Importing bench changes no environment variable: a process that
    imports it (this test suite does) must not start its JVM with the
    bench's driver heap."""
    script = textwrap.dedent("""
        import os, sys
        sys.path.insert(0, %r)
        before = dict(os.environ)
        import bench
        bench._EMITTED = True
        assert dict(os.environ) == before, (
            set(os.environ.items()) ^ set(before.items()))
    """) % REPO
    env = {k: v for k, v in os.environ.items() if k != "SPARK_DRIVER_MEM"}
    r = subprocess.run([sys.executable, "-c", script], env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]


def _leg(sec: float, cpus: int) -> dict:
    return {"cpus": cpus, "seconds": sec, "urls_per_sec": 1000.0 / sec,
            "user_pct": 80.0, "sys_pct": 5.0, "steal_pct": 0.0,
            "iowait_pct": 0.0}


def test_budget_skip_preserves_partial_results(bench):
    """Legs that would cross the deadline are skipped (never started and
    killed), the must-run first leg of each kind still runs, and the
    budget_stopped flag records that a scheduled leg was dropped."""
    calls = []

    def runner(key, i):
        time.sleep(0.2)
        calls.append((key, i))
        return dict(_leg(5.0, 4), leg_wall_s=0.2)

    deadline = bench._elapsed() + 0.5  # fits the two must-legs, no more
    res = bench._spread_legs(["a", "b", "a", "a", "a"], runner, deadline,
                             {"a": 0.2, "b": 0.2})
    assert res["budget_stopped"] is True
    assert [c[0] for c in calls] == ["a", "b"]  # must-legs ran, rest skipped
    assert len(res["a"]) == 1 and len(res["b"]) == 1


def test_first_leg_of_each_kind_always_runs(bench):
    """Even with the deadline already crossed, the first leg of each kind
    runs — no ratio exists without one sample per kind (the SIGTERM flush
    is the backstop if it overruns)."""
    def runner(key, i):
        return dict(_leg(1.0, 4), leg_wall_s=5.0)

    res = bench._spread_legs(["a", "b"], runner, bench._elapsed() - 1.0,
                             {"a": 99.0, "b": 99.0})
    assert len(res["a"]) == 1 and len(res["b"]) == 1
    assert res["budget_stopped"] is False  # nothing optional was skipped


def test_learned_wall_admits_legs_the_default_would_refuse(bench):
    """The pre-first-sample wall default is conservative; once a key's own
    leg reports its parent-side wall, the cheaper observed cost must drive
    the budget check (the old wall-based estimate refused rounds that
    fit)."""
    def runner(key, i):
        time.sleep(0.05)
        return dict(_leg(1.0, 4), leg_wall_s=0.05)

    deadline = bench._elapsed() + 0.5
    res = bench._spread_legs(["a", "a", "a"], runner, deadline,
                             {"a": 100.0}, caps={"a": 3})
    assert len(res["a"]) == 3  # default wall 100s would have refused #2/#3
    assert res["budget_stopped"] is False


def test_topup_cycle_fills_remaining_budget_until_caps(bench):
    def runner(key, i):
        time.sleep(0.02)
        return dict(_leg(1.0, 4), leg_wall_s=0.02)

    res = bench._spread_legs(["a", "b"], runner, bench._elapsed() + 5.0,
                             {"a": 0.02, "b": 0.02},
                             caps={"a": 4, "b": 3},
                             topup_cycle=("a", "b"))
    assert len(res["a"]) == 4 and len(res["b"]) == 3  # cap-stopped
    assert res["budget_stopped"] is False  # top-up exhaustion != budget stop


def test_topup_balances_gate_keys_by_sample_count(bench):
    """Top-up budget goes to whichever gate key has FEWER completed
    samples (r04 post-mortem: fixed-order top-up gave crawl a third 4N
    sample while parse_4n sat at one).  Starting from a=2, b=1 completed
    legs, the next top-up leg must be b, and counts must stay within one
    of each other while budget remains."""
    calls = []

    def runner(key, i):
        time.sleep(0.02)
        calls.append(key)
        return dict(_leg(1.0, 4), leg_wall_s=0.02)

    res = bench._spread_legs(["a", "a", "b"], runner,
                             bench._elapsed() + 5.0,
                             {"a": 0.02, "b": 0.02},
                             caps={"a": 4, "b": 4},
                             topup_cycle=("b", "a"))
    assert calls[3] == "b"  # b catches up before a's third sample
    assert len(res["a"]) == 4 and len(res["b"]) == 4


def test_official_schedule_gives_both_gates_two_4n_legs_early(bench):
    """The official schedule must request the SECOND 4N sample of each
    gate metric before any third 4N leg and before the parse_n leg, so a
    mid-run budget squeeze leaves both ratios with min-of-2 (the r04
    artifact stranded parse_4n at one budget-stopped sample)."""
    import re
    src = open(os.path.join(REPO, "bench.py")).read()
    m = re.search(r"schedule = \(\[([^\]]*)\]", src)
    head = [s.strip().strip('"\'') for s in m.group(1).split(",")]
    assert head.index("parse_4n", head.index("parse_4n") + 1) \
        < head.index("crawl_4n", head.index("crawl_4n") + 1)
    assert "parse_n" not in head[:head.index("parse_4n",
                                             head.index("parse_4n") + 1)]


def test_on_leg_checkpoints_after_every_leg(bench):
    """on_leg must fire after EVERY completed leg so best-so-far state is
    flushable at any kill point."""
    seen = []

    def runner(key, i):
        return _leg(1.0, 4)

    bench._spread_legs(["a", "b", "a"], runner, bench._elapsed() + 60.0,
                       {"a": 0.0, "b": 0.0}, caps={"a": 2, "b": 1},
                       on_leg=lambda res, skipped: seen.append(
                           (len(res.get("a", [])), len(res.get("b", [])))))
    assert seen == [(1, 0), (1, 1), (2, 1)]


def test_crashed_leg_recorded_and_eff_filters_none(bench):
    """A leg subprocess crash/timeout returns None: the record keeps it
    (honest sample count) and _eff computes from the survivors only."""
    def runner(key, i):
        return None if i == 0 else _leg(2.4, 4)

    res = bench._spread_legs(["a", "a"], runner, bench._elapsed() + 60.0,
                             {"a": 0.0}, caps={"a": 2})
    assert res["a"][0] is None and res["a"][1]["seconds"] == 2.4

    runs = {"n": [_leg(8.0, 1), None], "4n": [None, _leg(2.4, 4)]}
    low, high, eff = bench._eff(runs)
    assert low["seconds"] == 8.0 and high["seconds"] == 2.4
    assert eff == round(8.0 / 2.4 / 4, 3)
    assert bench._eff({"n": [None], "4n": [_leg(2.0, 4)]}) == \
        (None, None, None)


def test_emitted_line_parses_and_fits_tail_capture(bench):
    state = {"metric": "suite_seconds", "value": 52.1, "unit": "sec",
             "queries": {f"query_name_{i:02d}": 1.234 for i in range(21)},
             "sf": 0.1,
             "crawl": {"n_cores": _leg(215.3, 2), "4n_cores": _leg(64.2, 8),
                       "scaling_efficiency": 0.838, "rounds": 2,
                       "geometry_note": "2v8 legs; see BENCH/BASELINE.md "
                                        "§1.1b/d",
                       "per_thread_urls_s_at_2_8_16": [606, 526, 277],
                       "parse_stage": {"n_cores": _leg(81.0, 2),
                                       "4n_cores": _leg(23.6, 8),
                                       "scaling_efficiency": 0.858,
                                       "rounds": 2},
                       "detail": "BENCH/bench_detail.json"}}
    line = bench._render_line(state)
    assert len(line) < 1900
    parsed = json.loads(line)
    assert parsed["metric"] == "suite_seconds"
    # the crawl scaling numbers must survive even if queries get dropped
    assert parsed["crawl"]["scaling_efficiency"] == 0.838
    assert parsed["crawl"]["parse_stage"]["scaling_efficiency"] == 0.858


def test_oversize_line_drops_queries_not_crawl(bench):
    state = {"metric": "suite_seconds", "value": 1.0, "unit": "sec",
             "queries": {f"q{i}": 1.0 for i in range(400)},
             "crawl": {"scaling_efficiency": 0.9}}
    line = bench._render_line(state)
    assert len(line) < 1900
    parsed = json.loads(line)
    assert "queries" not in parsed
    assert parsed["queries_note"]
    assert parsed["crawl"]["scaling_efficiency"] == 0.9


def test_sigterm_mid_run_still_emits_parseable_line():
    """A driver timeout kill (SIGTERM) must flush the best-so-far line to
    stdout — the r03 failure mode (rc 124, parsed: null) must be impossible
    as long as the process gets any catchable signal."""
    script = textwrap.dedent("""
        import os, sys, time
        os.environ["BENCH_WAIT_QUIET_S"] = "0"  # pytest itself is running
        os.environ["BENCH_LAST_LINE_PATH"] = os.devnull  # keep the real artifact
        os.environ["BENCH_QUERIES_SUBPROC"] = "0"  # fakes below need inline
        sys.path.insert(0, %r)
        import bench
        bench.run_queries = lambda spark, sf_dir: {"fake_q": 0.5}
        class _S:  # stand-in session: run_queries fake never touches it
            def stop(self): pass
        bench.get_spark = lambda **kw: _S()
        bench._quiet = lambda s: s
        def slow_scaling(out):
            out["crawl"] = {"scaling_efficiency": 0.83, "rounds": 1}
            print("SCALING-STARTED", file=sys.stderr, flush=True)
            time.sleep(120)
        bench.run_scaling = slow_scaling
        bench.main()
    """) % REPO
    proc = subprocess.Popen([sys.executable, "-c", script],
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    # wait until the fake scaling phase is underway, then kill like the
    # driver's timeout does
    deadline = time.time() + 60
    started = False
    err = b""
    os.set_blocking(proc.stderr.fileno(), False)
    while time.time() < deadline:
        chunk = proc.stderr.raw.read(65536)
        if chunk:
            err += chunk
            if b"SCALING-STARTED" in err:
                started = True
                break
        time.sleep(0.1)
    assert started, "fake bench never reached the scaling phase: %r" % err
    proc.send_signal(signal.SIGTERM)
    out, _ = proc.communicate(timeout=30)
    assert proc.returncode == 143
    line = out.decode().strip().splitlines()[-1]
    parsed = json.loads(line)
    assert parsed["terminated_early"] is True
    assert parsed["queries"] == {"fake_q": 0.5}
    assert parsed["crawl"]["scaling_efficiency"] == 0.83
    assert "elapsed_at_kill" in parsed


def test_wait_for_own_quiet_excludes_ancestors(monkeypatch):
    """The pre-bench quiet guard ignores its own ancestor chain (a pytest
    that spawned the bench is blocked on it) but waits, bounded, for
    foreign test jobs."""
    import subprocess as sp

    import bench as b

    class _R:
        def __init__(self, out):
            self.stdout = out

    # only ancestors reported -> returns immediately
    own = f"{os.getpid()}\n{os.getppid()}\n"
    monkeypatch.setattr(sp, "run", lambda *a, **kw: _R(own))
    t0 = time.monotonic()
    b._wait_for_own_quiet(max_wait=30.0)
    assert time.monotonic() - t0 < 1.0

    # a foreign pid -> bounded wait, then proceeds
    monkeypatch.setattr(sp, "run", lambda *a, **kw: _R(own + "99999999\n"))
    monkeypatch.setattr(b.time, "sleep", lambda s: None)
    t0 = time.monotonic()
    b._wait_for_own_quiet(max_wait=0.2)
    assert time.monotonic() - t0 < 5.0


def test_forked_children_never_emit(bench):
    """The corpus generator fans out over a fork Pool; each worker inherits
    the atexit hook, the SIGTERM handler, and a fresh _EMITTED=False — so
    without the _MAIN_PID guard every worker re-printed the whole state
    line on exit (run 11: 30 copies of the artifact on stdout).  A forked
    child must emit NOTHING on either the atexit or the signal path."""
    script = textwrap.dedent("""
        import multiprocessing as mp
        import os, signal, sys
        os.environ["BENCH_LAST_LINE_PATH"] = os.devnull
        sys.path.insert(0, %r)
        import bench
        bench._STATE.update({"metric": "suite_seconds", "value": 1.0})

        ctx = mp.get_context("fork")
        with ctx.Pool(4) as pool:
            pool.map(len, [b""] * 64)   # workers exit -> atexit path

        pid = os.fork()                 # the signal path, in a raw fork
        if pid == 0:
            os.kill(os.getpid(), signal.SIGTERM)
            os._exit(99)                # unreachable if handler fires
        _, status = os.waitpid(pid, 0)
        assert os.waitstatus_to_exitcode(status) == 143

        bench._emit()           # the parent's one legitimate line
    """) % REPO
    r = subprocess.run([sys.executable, "-c", script],
                       stdout=subprocess.PIPE, text=True, timeout=120)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, f"expected ONE line, got {len(lines)}: {lines}"
    assert json.loads(lines[0])["value"] == 1.0
