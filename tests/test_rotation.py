"""The least-recently-verified rotation (catalog/verify_rotation).

The external driver only value-checks the first 50 queries
``__spark_entry__.queries()`` hands it per round; these tests pin the
invariants the rotation promises: never-verified queries lead,
staleness ordering is ascending, the sort is stable, and the repo's
committed state file agrees with the driver's CORRECTNESS history.
"""

from __future__ import annotations

import json
import subprocess
import sys

import __spark_entry__
from incubyte_vaccination_data_pipeline_spark import catalog
from incubyte_vaccination_data_pipeline_spark.catalog import verify_rotation as vr


def _h(round_, value=True):
    return {"round": round_, "value": value}


def test_rotation_order_new_queries_due_now_not_overdue():
    """EDF semantics (round 7): a brand-new query is due NOW — it leads
    every cohort with slack — but an overdue cohort (gap already at the
    bound) wins the window ahead of it, and an exactly-at-bound green
    cohort wins the tie via registration order."""
    # bound = ceil(4/50) = 1, max_round = 2 -> new key (2, True):
    # b and d (round 1) are overdue, a (round 2, ties, registered
    # earlier) beats the new query c on the stable tie-break
    hist = {"a": _h(2), "b": _h(1), "d": _h(1)}
    assert vr.rotation_order(["a", "b", "c", "d"], hist) == ["b", "d", "a", "c"]
    # the overdue query still leads regardless of the new arrival
    hist2 = {"a": _h(4), "b": _h(4), "pad": _h(3)}
    assert vr.rotation_order(["a", "b", "c", "pad"], hist2)[0] == "pad"
    # with slack in the bound (N > WINDOW so bound >= 2), a new query
    # strictly leads cohorts verified at max_round
    many = [f"q{i}" for i in range(vr.WINDOW + 1)]  # bound = 2
    hist3 = {n: _h(9) for n in many}
    assert vr.rotation_order(many + ["new"], hist3)[0] == "new"
    # ...but NOT a cohort exactly at the bound (gap would exceed it)
    hist3["q0"] = _h(8)
    order = vr.rotation_order(many + ["new"], hist3)
    assert order.index("q0") < order.index("new")


def test_rotation_order_stale_is_due_now_capped_at_own_round():
    """Fingerprint-stale (invalidated certificate) is due now: it
    outranks new queries and slack cohorts, but yields to a cohort
    already at the gap bound — unless its own last row is that old."""
    # bound = 1, max_round = 2 -> due-now round 2. Stale "a" (last
    # seen round 2) keys (2, False): behind overdue "b" (1, True),
    # ahead of the round-2 green "d" and the new query "e" (new
    # queries register last, so "d" wins the (2, True) tie on the
    # stable list order).
    hist = {"a": _h(2), "b": _h(1), "d": _h(2)}
    assert vr.rotation_order(["a", "b", "d", "e"], hist, stale={"a"}) == [
        "b",
        "a",
        "d",
        "e",
    ]
    # a stale query whose own last row is already at the bound keeps
    # that older key and leads the at-bound green cohort
    assert vr.rotation_order(["a", "b", "c"], {"a": _h(1), "b": _h(1)}, stale={"a"}) == [
        "a",
        "b",
        "c",
    ]


def test_rotation_order_stable_within_round():
    hist = {"x": _h(1), "y": _h(1), "z": _h(1)}
    assert vr.rotation_order(["z", "x", "y"], hist) == ["z", "x", "y"]


def test_rotation_order_rows_only_before_green_same_round():
    """A no_oracle (rows-only) driver row needs the window sooner than a
    value-checked green row from the same round."""
    hist = {"green": _h(2, value=True), "weak": _h(2, value=False), "old": _h(1)}
    assert vr.rotation_order(["green", "weak", "old"], hist) == [
        "old",
        "weak",
        "green",
    ]


def test_state_file_matches_driver_history():
    """The committed state must equal the rebuild over the rounds that
    existed when it was written.  The driver writes CORRECTNESS_r{N}
    AFTER the builder's last round-N commit, so a newer driver file in
    the working tree must not redden the suite — compare only rounds
    <= the committed maximum."""
    committed = vr.load_state()
    assert committed, "verified_rounds.json missing or unparseable"
    max_round = max(v["round"] for v in committed.values())
    rebuilt = vr.rebuild_history(max_round=max_round)
    assert committed == rebuilt, (
        "verified_rounds.json is stale — run "
        "python -m incubyte_vaccination_data_pipeline_spark.catalog.verify_rotation"
    )


def test_catalog_registration_is_lrv_sorted():
    queries = __spark_entry__.queries()
    assert set(queries) == set(catalog.QUERIES)
    hist = vr.rebuild_history()  # the ordering sources of the adapter
    stale = vr.effective_stale_set(hist=hist)
    keys = vr.sort_keys(list(queries), hist, stale)
    assert keys == sorted(keys)
    # oracle dict ordering mirrors the query dict
    oracle_names = list(__spark_entry__.oracle_sql())
    assert oracle_names == [n for n in queries if n in catalog.ORACLES]


def test_catalog_import_applies_no_driver_policy():
    """The rotation is a driver adapter: importing the library reads no
    driver history (CORRECTNESS_r*.json) or fingerprint file, so the
    rotation module is not even loaded."""
    probe = (
        "import sys, incubyte_vaccination_data_pipeline_spark.catalog; "
        "print('incubyte_vaccination_data_pipeline_spark.catalog"
        ".verify_rotation' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False"


def test_window_covers_least_recently_verified():
    """Every query whose effective sort key (never-verified and
    fingerprint-stale count as round 0) is oldest sits inside the
    50-slot window — i.e. no query is more than ceil(N/50) rounds from
    re-verification."""
    hist = vr.rebuild_history()
    stale = vr.effective_stale_set(hist=hist)
    names = list(__spark_entry__.queries())
    keys = dict(zip(names, vr.sort_keys(names, hist, stale)))
    max_in_window = max(keys[n] for n in names[: vr.WINDOW])
    for n in names[vr.WINDOW :]:
        assert keys[n] >= max_in_window


def test_stale_queries_front_load_into_window():
    """The change-aware contract: every fingerprint-stale query sits
    inside the 50-slot driver window (so a materially changed query is
    re-driver-verified the NEXT round, not after an LRU cycle) —
    UNLESS the slots ahead of it are all at-bound or stale themselves
    (EDF: a changed-but-recently-verified query must not push a
    cohort at the gap bound past it; its re-verification stays within
    ceil(N/50) of its own last driver row, pinned by the growth sim).
    Effective staleness: a mark the driver has already re-certified
    (green value row at round >= as_of_round) is cleared, so a freshly
    landed CORRECTNESS file can't redden this at the round boundary."""
    hist = vr.rebuild_history()
    stale = vr.effective_stale_set(hist=hist)
    assert len(stale) <= vr.WINDOW, "more stale queries than window slots"
    names = list(__spark_entry__.queries())
    keys = dict(zip(names, vr.sort_keys(names, hist, stale)))
    window = set(names[: vr.WINDOW])
    due_now = vr._new_query_key(len(names), hist)[0]
    for n in stale - window:
        blockers = [m for m in names[: vr.WINDOW] if keys[m] <= keys[n]]
        assert len(blockers) >= vr.WINDOW and all(
            m in stale or keys[m][0] <= due_now for m in blockers
        ), f"stale query {n} displaced from the window by a slack cohort"


def test_simulated_growth_keeps_gap_bounded():
    """Window-preview guard: under the CURRENT registration, no query
    may go more than ceil(N/50) rounds without a driver row.  Catches a
    registration change that silently pushes a stale query out of its
    guaranteed window (the round-3 pos-52/53/57 miss)."""
    import math

    names = list(__spark_entry__.queries())
    hist = vr.rebuild_history()
    bound = math.ceil(len(names) / vr.WINDOW)
    gap = vr.simulate_max_gap(
        names, hist, rounds=2 * bound + 2, stale=vr.effective_stale_set(hist=hist)
    )
    assert gap <= bound, f"simulated verification gap {gap} > ceil(N/50)={bound}"


def test_effective_stale_clears_round_boundary_race():
    """The r6-boundary failure class, pinned as a unit: a query
    force-marked stale at as_of_round R whose latest driver row is a
    GREEN value check at round >= R is NOT effectively stale (the
    driver certified the current fp; only the bookkeeping promotion is
    pending).  A red/rows-only row, or one from an older round, keeps
    the mark."""
    fps = {
        "cleared": {"fp": "aa", "as_of_round": 6, "verified_fp": "stale-marked"},
        "older_row": {"fp": "bb", "as_of_round": 6, "verified_fp": "stale-marked"},
        "rows_only": {"fp": "cc", "as_of_round": 6, "verified_fp": "stale-marked"},
        "fresh": {"fp": "dd", "as_of_round": 6, "verified_fp": "dd"},
    }
    hist = {
        "cleared": {"round": 6, "value": True},
        "older_row": {"round": 5, "value": True},
        "rows_only": {"round": 6, "value": False},
        "fresh": {"round": 6, "value": True},
    }
    assert vr.stale_set(fps) == {"cleared", "older_row", "rows_only"}
    assert vr.effective_stale_set(fps, hist) == {"older_row", "rows_only"}


def test_refresh_promotion_shares_effective_stale_predicate(tmp_path):
    """ADVICE r7 (medium): refresh_fingerprints used to promote
    fp -> verified_fp on ANY driver row at round >= as_of_round —
    including rows-only (value=False) rows — while effective_stale_set
    required a green value check, so a changed query whose only
    post-change row was rows-only got its stale mark silently cleared
    without a value check.  Both now share :func:`vr.row_certifies`:
    a rows-only row keeps the mark, a green row promotes."""
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "q_rows_only": {"rows_match": True, "err": "no_oracle"},
                "q_green": {"hash_match": True, "rows_match": True},
                "q_old": {"hash_match": True, "rows_match": True},
            }
        )
    )
    fp_file = tmp_path / "query_fingerprints.json"
    fp_file.write_text(
        json.dumps(
            {
                "q_rows_only": {"fp": "new1", "as_of_round": 1, "verified_fp": "old1"},
                "q_green": {"fp": "new2", "as_of_round": 1, "verified_fp": "old2"},
                "q_old": {"fp": "new3", "as_of_round": 2, "verified_fp": "old3"},
            }
        )
    )
    names = ["q_rows_only", "q_green", "q_old"]
    out = vr.refresh_fingerprints(
        spark=None,
        path=fp_file,
        repo_root=tmp_path,
        names=names,
        fingerprint_fn=lambda _s, n: {"q_rows_only": "new1", "q_green": "new2", "q_old": "new3"}[n],
    )
    # rows-only row does NOT promote; green row at round >= as_of does;
    # a green row OLDER than as_of_round does not
    assert out["q_rows_only"]["verified_fp"] == "old1"
    assert out["q_green"]["verified_fp"] == "new2"
    assert out["q_old"]["verified_fp"] == "old3"
    # and effective_stale_set agrees with the promotion outcome exactly
    hist = vr.rebuild_history(tmp_path)
    fps_before = {
        "q_rows_only": {"fp": "new1", "as_of_round": 1, "verified_fp": "old1"},
        "q_green": {"fp": "new2", "as_of_round": 1, "verified_fp": "old2"},
        "q_old": {"fp": "new3", "as_of_round": 2, "verified_fp": "old3"},
    }
    assert vr.effective_stale_set(fps_before, hist) == {"q_rows_only", "q_old"}


def test_round4_window_contract_frozen():
    """The round-4 contract, restated against FROZEN inputs (driver
    history through round 3 + the round-4 registration set): the 8
    training_ext queries and the 4 r2 rows-only certificate queries
    all sat inside the 50-slot window.  Rebuilt with max_round=3, so
    landing newer CORRECTNESS files can never redden this test (the
    r4-boundary stale-ritual failure class)."""
    # the round-4 registration set IS the union of driver rows through
    # round 4 (the r4 window verified every then-new query) — frozen,
    # so round-5+ registrations can't leak in
    r4_names = sorted(vr.rebuild_history(max_round=4))
    hist = vr.rebuild_history(max_round=3)
    window = set(vr.rotation_order(r4_names, hist)[: vr.WINDOW])
    must_have = {
        "skew_report_orders",
        "corpus_report",
        "embedding_quantize_int8",
        "events_user_sequences",
        "agg_approx_percentile_certified",
        "split_train_val_test",
        "split_contamination",
        "ngram_contamination_partial_leak",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "multimodal_features",
        "stream_running_totals",
    }
    missing = must_have - window
    assert not missing, f"round-4 contract violated: {sorted(missing)}"


def test_every_query_has_an_oracle():
    """Round-3 invariant: zero rows-only queries. Every registered
    query carries a DuckDB oracle — approximate/stateful/decoder
    operators do it via in-query boolean certificates the oracle
    states as literal TRUE. A new query without an oracle is a
    regression, not a style choice."""
    assert set(catalog.QUERIES) == set(catalog.ORACLES)


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


def test_load_state_tolerates_missing_file(tmp_path):
    assert vr.load_state(tmp_path / "nope.json") == {}
    bad = tmp_path / "bad.json"
    bad.write_text("[1,2,3]")
    assert vr.load_state(bad) == {}


def test_rebuild_counts_any_row_kind(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_green": {"hash_match": True}, "q_weak": {"err": "no_oracle"}})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_green": {"hash_match": True}})
    )
    hist = vr.rebuild_history(tmp_path)
    assert hist == {
        "q_green": {"round": 2, "value": True},
        "q_weak": {"round": 1, "value": False},
    }
    assert vr.rebuild_verified_rounds(tmp_path) == {"q_green": 2, "q_weak": 1}
    # max_round cutoff ignores newer driver files
    assert vr.rebuild_history(tmp_path, max_round=1) == {
        "q_green": {"round": 1, "value": True},
        "q_weak": {"round": 1, "value": False},
    }


def test_query_inventory_in_sync():
    """QUERIES.md (the auto-generated inventory the grader reads) must
    name exactly the live registry's queries — regenerate with
    scripts/gen_query_inventory.py after registration changes."""
    import re
    from pathlib import Path

    text = Path(__file__).resolve().parents[1].joinpath("QUERIES.md").read_text()
    listed = set(re.findall(r"^- \*\*([a-z0-9_]+)\*\*", text, re.M))
    assert listed == set(catalog.QUERIES), (
        "QUERIES.md stale — run python scripts/gen_query_inventory.py"
    )


def test_deprecated_queries_point_at_live_replacements():
    """Every DEPRECATED entry maps a live query to a live replacement,
    and the deprecated query's own docstring says so — the catalog must
    never steer a reader at a shape its own stress graded quadratic
    without the pointer in both the registry and the prose."""
    assert catalog.DEPRECATED, "the legacy ngram-jaccard pin is deprecated"
    for old, new in catalog.DEPRECATED.items():
        assert old in catalog.QUERIES and new in catalog.QUERIES
        assert old != new
        doc = catalog.QUERIES[old].__doc__ or ""
        assert "DEPRECATED" in doc and new in doc
