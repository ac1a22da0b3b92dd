"""Round-11 bench noise protocol: the harness must ACT on a noisy
sample (re-time, keep the lowest-spread triple) instead of merely
reporting spread — two of the last three rounds' official artifacts
were loaded-machine samples a judge had to adjudicate by hand."""

from __future__ import annotations

import bench


def test_stats_median_best_spread():
    med, best, spr = bench._stats([3.0, 1.0, 2.0])
    assert (med, best, spr) == (2.0, 1.0, 2.0)


def test_needs_retry_requires_both_floors():
    # large relative spread but under the absolute floor: scheduling
    # jitter on a micro-query, not load — no retry
    assert not bench._needs_retry([0.05, 0.06, 0.15])
    # large absolute spread but small relative to a slow query: the
    # query is just big; retrying buys nothing
    assert not bench._needs_retry([10.0, 10.1, 10.3])
    # both floors exceeded: the loaded-machine signature
    assert bench._needs_retry([1.0, 1.1, 2.0])


def test_retry_bounds_are_sane():
    assert 0 < bench.ACTIONABLE_SPREAD_FRAC_BOUND < 0.15
    assert bench.MAX_RETRY_PASSES >= 1
    # _stats takes r[len//2]: a true median only for ODD samples — an
    # even RUNS would silently record the upper-middle run
    assert bench.RUNS >= 3 and bench.RUNS % 2 == 1
    # the comparability bar is the ADJUDICATION bar, deliberately wider
    # than the retry trigger (the harness works noise down to 5% before
    # the stamp judges what remains against 15%)
    assert bench.COMPARABLE_SPREAD_BAR > bench.ACTIONABLE_SPREAD_FRAC_BOUND


def test_actionable_only_counts_retry_class():
    """The actionable sum excludes spread under the retry floors — the
    irreducible JIT/GC jitter a re-run cannot remove."""
    samples = {
        "noisy": [1.0, 1.1, 2.0],     # both floors exceeded
        "micro": [0.05, 0.06, 0.15],  # relative only: jitter
        "big": [10.0, 10.1, 10.3],    # absolute only: just big
    }
    act, total = bench._actionable(samples)
    assert act == 1.0  # only the noisy query's spread
    assert round(total, 2) == 1.1 + 0.06 + 10.1
    assert not bench._under_bound(samples)  # 1.0 > 5% of 11.26
    # retiming the one noisy query to a tight sample clears the bound
    samples["noisy"] = [1.0, 1.01, 1.02]
    assert bench._under_bound(samples)


def test_comparability_stamp():
    """The artifact self-adjudicates: loaded start or residual
    actionable spread -> comparable: false with named reasons and a
    pointer at the matched-conditions fallback; an idle clean run ->
    comparable: true, no reasons."""
    clean = bench.comparability([0.4, 0.5, 0.5], 0.04, cpus=32)
    assert clean["comparable"] is True and clean["reasons"] == []
    assert clean["load_bound"] == 4.0  # 32 / 8
    assert "companion" not in clean

    loaded = bench.comparability([5.0, 4.6, 4.3], 0.04, cpus=32)
    assert loaded["comparable"] is False
    assert any("load_avg_start" in r for r in loaded["reasons"])
    assert "companion" in loaded

    # the r13 driver signature: 1-min average momentarily dipped under
    # the bound while the 5-min average shows the box was busy — the
    # gate must consider max(1-min, 5-min) (r13 verdict item 3)
    recently_loaded = bench.comparability([2.09, 4.59, 5.21], 0.04, cpus=32)
    assert recently_loaded["comparable"] is False
    assert any("load_avg_start" in r for r in recently_loaded["reasons"])

    noisy = bench.comparability([0.4, 0.5, 0.5], 0.24, cpus=32)
    assert noisy["comparable"] is False
    assert any("spread_actionable_frac" in r for r in noisy["reasons"])

    # None loadavg (platform without getloadavg) only adjudicates spread
    assert bench.comparability(None, 0.04, cpus=32)["comparable"] is True


def test_sanity_flags_jump_detection():
    """Promotion sanity gate (r15, VERDICT r14 item 2): a query reading
    >2x its previous committed median (and >0.5 s above it) is flagged
    for re-time before the run may replace the committed record. The
    motivating case is pinned: stream_session_gap_stateful read 5.32 s
    in the r14 committed record vs 2.01 s in r13's with untouched code
    — a slow-but-stable micro-batch window the spread-based retry gate
    cannot see (3-run spread was small, so no retry fired)."""
    prev = {"stream_session_gap_stateful": 2.01, "q6_forecast": 0.2}
    now = {"stream_session_gap_stateful": 5.32, "q6_forecast": 0.45}
    # the stream query is flagged; the micro-query doubling is not
    # (0.25 s absolute excess is scheduling jitter, under the floor)
    assert bench.sanity_flags(now, prev) == ["stream_session_gap_stateful"]
    # a clean run: nothing flagged
    assert bench.sanity_flags({"a": 1.9}, {"a": 1.0}) == []
    # queries absent from the previous record never flag (new queries)
    assert bench.sanity_flags({"new_q": 9.0}, {}) == []


def test_sanity_verdict_decides_from_rerun_and_keeps_both_medians():
    """The rerun decides ``persistent`` but never replaces the sweep's
    sample: a query whose rerun falls back under the jump is exonerated,
    one whose rerun still jumps persists, and both medians of each are
    recorded."""
    prev = {"slow_window": 1.0, "regressed": 1.0, "steady": 1.0}
    sweep = {"slow_window": 3.0, "regressed": 3.2, "steady": 1.1}
    rerun = {"slow_window": 1.2, "regressed": 3.1}
    out = bench.sanity_verdict(sweep, rerun, prev)
    assert out["retimed"] == ["regressed", "slow_window"]
    assert out["persistent"] == ["regressed"]
    assert out["medians"] == {
        "regressed": {"sweep": 3.2, "rerun": 3.1},
        "slow_window": {"sweep": 3.0, "rerun": 1.2},
    }
    # nothing re-timed: nothing persists
    assert bench.sanity_verdict(sweep, {}, prev)["persistent"] == []


def test_sanity_bounds_are_sane():
    assert bench.SANITY_JUMP_FACTOR >= 2.0
    assert 0 < bench.SANITY_ABS_FLOOR_SEC <= 1.0
    assert bench.KEEP_RUN_FILES >= 5


def test_compact_pointer_tracks_promotion():
    """The compact payload names the file that actually holds this
    run's full timing set: a promoted (comparable, canonical-SF) run
    replaces BENCH_local.json; any other run lands in a per-run
    timestamped file so the recorded pointer stays resolvable instead
    of being overwritten by the next run (r12 verdict #3, r13 advice)."""
    timings = {"q": 1.0}
    payload = {"queries": timings, "sf": 0.1}
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
