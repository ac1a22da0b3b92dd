"""Bench protocol: round-robin passes, and a comparability verdict from
the foreign CPU share of every window of the run (work outside the
bench's own process tree), not from the load at the start."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import bench
from incubyte_vaccination_data_pipeline_spark import catalog

#: CPU-seconds each busy process below burns
_SPIN_SEC = 1.0
_SPIN = (
    "import sys, time\n"
    f"end = time.process_time() + {_SPIN_SEC}\n"
    "while time.process_time() < end: pass\n"
    "open(sys.argv[1], 'w').close()\n"
    "time.sleep(float(sys.argv[2]))\n"
)


def _windows(*shares: float) -> list[dict]:
    return [
        {"t": [10.0 * i, 10.0 * (i + 1)], "foreign": s} for i, s in enumerate(shares)
    ]


def test_stats_median_spread():
    assert bench._stats([3.0, 1.0, 2.0]) == (2.0, 2.0)


def test_protocol_constants_are_sane():
    # _stats takes r[len//2]: a true median only for ODD samples — an
    # even RUNS would silently record the upper-middle run
    assert bench.RUNS >= 3 and bench.RUNS % 2 == 1
    assert bench.LOAD_BOUND_CPU_FRAC == 1 / 8
    assert bench.KEEP_RUN_FILES >= 5


def test_round_robin_order():
    """One cold pass over every query, then RUNS full passes in the same
    order: the runs of one query sit a pass apart, so one slow window of
    the machine hits at most one of them."""
    calls, samples = [], []

    def timer(name):
        calls.append(name)
        return 0.25, 0.5

    cold, runs = bench.run_passes(
        ["q1", "q2", "q3"], timer, lambda: samples.append(len(calls))
    )
    assert calls == ["q1", "q2", "q3"] * (1 + bench.RUNS)
    # a sample at every query boundary, never inside a timed region
    assert samples == list(range(1, len(calls) + 1))
    assert cold == {"q1": 0.75, "q2": 0.75, "q3": 0.75}
    assert runs == {q: [(0.25, 0.5)] * bench.RUNS for q in ("q1", "q2", "q3")}


def test_comparability_stamp():
    """Every window at or under the bound: comparable, and the artifact
    carries the CPU count and the window list."""
    windows = _windows(0.004, 0.02, bench.LOAD_BOUND_CPU_FRAC)
    out = bench.comparability(windows, cpus=4)
    assert out["comparable"] is True and out["reason"] is None
    assert out["cpus"] == 4 and out["windows"] == windows
    assert out["bound"] == 0.125


def test_r15_signature_is_not_comparable():
    """The polluted r15 record: a clean start, then other work on the
    box for the rest of the run (loadavg 1.49 at the start, 6.33 at the
    end, on 32 cpus). A start-only rule stamped it comparable; a
    per-window rule must not, and must name the window."""
    out = bench.comparability(_windows(0.02, 0.2, 0.2, 0.2), cpus=32)
    assert out["comparable"] is False
    assert "window 1" in out["reason"] and "3 of 4" in out["reason"]


def test_no_samples_is_not_comparable():
    out = bench.comparability([], cpus=4)
    assert out["comparable"] is False and "no CPU samples" in out["reason"]


def _wait_for(path: str, timeout: float = 30.0) -> None:
    end = time.monotonic() + timeout
    while not os.path.exists(path):
        assert time.monotonic() < end, f"busy process never finished: {path}"
        time.sleep(0.05)


def test_own_tree_counts_children_and_not_orphans(tmp_path):
    """A busy child is the bench's own CPU; a busy process orphaned by a
    short-lived child (so no longer a descendant) is foreign. Lower
    bounds only: other work on the box can only add to either side."""
    floor = 0.5 * _SPIN_SEC * os.sysconf("SC_CLK_TCK")
    cpu = bench.CpuWindows()

    # read while the child is still alive: counted by the walk over
    # descendants, not through this process's cutime
    done = str(tmp_path / "child_done")
    a = cpu.read()
    child = subprocess.Popen([sys.executable, "-c", _SPIN, done, "60"])
    try:
        _wait_for(done)
        assert cpu.read().own - a.own >= floor
    finally:
        child.kill()
        child.wait(timeout=30)

    done = str(tmp_path / "orphan_done")
    a = cpu.read()
    subprocess.run(
        [sys.executable, "-c",
         "import subprocess, sys; "
         f"subprocess.Popen([sys.executable, '-c', {_SPIN!r}, {done!r}, '0'])"],
        check=True, timeout=30,
    )
    _wait_for(done)
    b = cpu.read()
    assert bench._foreign_share(a, b) * (b.total - a.total) >= floor


def test_own_tree_keeps_workers_reaped_without_wait(tmp_path):
    """The PySpark worker daemon ignores SIGCHLD, so an exited worker's
    time reaches no cutime. A busy worker of such a parent, seen once
    and then gone, must stay own CPU instead of reading as foreign."""
    floor = 0.5 * _SPIN_SEC * os.sysconf("SC_CLK_TCK")
    done = str(tmp_path / "worker_done")
    daemon = (
        "import os, signal, sys, time\n"
        "signal.signal(signal.SIGCHLD, signal.SIG_IGN)\n"
        "if os.fork() == 0:\n"
        f"    exec({_SPIN!r}, {{'__name__': 'worker'}})\n"
        "    os._exit(0)\n"
        "time.sleep(60)\n"
    )
    cpu = bench.CpuWindows()
    a = cpu.read()
    parent = subprocess.Popen([sys.executable, "-c", daemon, done, "1"])
    def workers():
        return [k for k, v in cpu._tree.items() if v[1] and v[1][0] == parent.pid]

    try:
        _wait_for(done)
        assert cpu.read().own - a.own >= floor and workers()  # seen alive
        end = time.monotonic() + 30
        while True:  # the worker exits and the kernel reaps it
            own = cpu.read().own
            if not workers():
                break
            assert time.monotonic() < end, "worker never exited"
            time.sleep(0.1)
        assert own - a.own >= floor
    finally:
        parent.kill()
        parent.wait(timeout=30)


def test_window_records_steal_and_irq_shares():
    """Each window records, beside the foreign share, the steal and
    irq + softirq shares of all CPUs' time from the same /proc/stat
    reads; the verdict still reads only the foreign share, and the
    compact line still leaves the window list out."""
    cpu = bench.CpuWindows()
    cpu.sample(close=True)
    assert set(cpu.windows[-1]) == {"t", "foreign", "steal", "irq"}
    assert all(0.0 <= cpu.windows[-1][k] <= 1.0 for k in ("steal", "irq"))

    # busy +300 of total +1000 jiffies, own +100, steal +50, irq +20
    a = bench.Reading(t=0.0, busy=100, total=1000, steal=10, irq=30, own=40)
    b = bench.Reading(t=12.0, busy=400, total=2000, steal=60, irq=50, own=140)
    readings = iter([a, b])
    cpu = bench.CpuWindows.__new__(bench.CpuWindows)
    cpu.windows, cpu.read = [], lambda: next(readings)
    cpu._open = cpu._start = cpu.read()
    cpu.sample()
    assert cpu.windows == [
        {"t": [0.0, 12.0], "foreign": 0.2, "steal": 0.05, "irq": 0.02}
    ]

    windows = [dict(w, steal=0.9, irq=0.9) for w in _windows(0.1, 0.125)]
    verdict = bench.comparability(windows, cpus=4)
    assert verdict["comparable"] is True and verdict["windows"] == windows
    timings = {name: 1.0 for name in catalog.QUERIES}
    payload = {"queries": timings, "comparability": verdict, "sf": 0.1}
    line = json.dumps(bench.compact_payload(payload, timings))
    assert "windows" not in json.loads(line)["comparability"]
    assert len(line) < bench.DRIVER_TAIL_CHARS - 100


def test_compact_pointer_tracks_promotion():
    """The compact payload names the file that actually holds this
    run's full timing set: a promoted (comparable, canonical-SF) run
    replaces BENCH_local.json; any other run lands in a per-run
    timestamped file so the recorded pointer stays resolvable instead
    of being overwritten by the next run (r12 verdict #3, r13 advice)."""
    timings = {"q": 1.0}
    payload = {
        "queries": timings,
        "comparability": bench.comparability(_windows(0.0), cpus=4),
        "sf": 0.1,
    }
    assert (
        bench.compact_payload(payload, timings, promoted=True)["queries_full"]
        == "BENCH_local.json"
    )
    assert (
        bench.compact_payload(
            payload, timings, promoted=False, run_file="BENCH_last_run_99.json"
        )["queries_full"]
        == "BENCH_last_run_99.json"
    )


def test_bench_compact_line_fits_driver_tail():
    """The driver records only the last 2000 chars of bench stdout;
    the final line bench prints must parse from within that window,
    even with every real catalog query name in the timing map."""
    import json as _json

    import bench

    timings = {name: 123.4567 for name in catalog.QUERIES}
    # worst case: non-comparable, with the longest reason the verdict
    # writes (every window over, the worst one last, five-digit counts
    # and offsets)
    windows = [
        {"t": [99999.9, 99999.9], "foreign": 0.9998} for _ in range(9999)
    ] + [{"t": [99999.9, 99999.9], "foreign": 0.9999}]
    payload = {
        "metric": "total_headline_query_sec",
        "value": 12345.6789,
        "unit": "sec",
        "build_sec": 12345.6789,
        "exec_sec": 12345.6789,
        "passes_sec": [12345.6789] * bench.RUNS,
        "queries": timings,
        "queries_spread": timings,
        "queries_build": timings,
        "queries_exec": timings,
        "queries_cold": timings,
        "comparability": bench.comparability(windows, cpus=9999),
        "sf": 0.1,
    }
    line = _json.dumps(
        bench.compact_payload(
            payload, timings, promoted=False,
            run_file="BENCH_last_run_9999999999999.json",
        )
    )
    assert len(line) < bench.DRIVER_TAIL_CHARS - 100, (
        f"compact bench line too long for the driver tail: {len(line)}"
    )
    assert _json.loads(line)["n_queries"] == len(catalog.QUERIES)
