"""Change-aware verification fingerprints (catalog/verify_rotation).

A query's fingerprint is sha256(normalized analyzed plan at sf0.001 +
oracle SQL).  ``query_fingerprints.json`` records, per query, the
current fingerprint and the one the driver last value-checked; a
mismatch front-loads the query into the driver window as if it were
never verified.  These tests pin (a) the normalization (session-unique
noise stripped, plan content kept), (b) the refresh/promotion protocol,
and (c) — the enforcement test — that the COMMITTED fingerprints match
the current code, so shipping a query change without refreshing the
file reddens the suite.
"""

from __future__ import annotations

import json

import pytest

from incubyte_vaccination_data_pipeline_spark import catalog
from incubyte_vaccination_data_pipeline_spark.catalog import verify_rotation as vr


# ---------------------------------------------------------------------------
# normalization
# ---------------------------------------------------------------------------


def test_normalize_strips_expr_ids_and_lambda_counters():
    a = "Project [doc_id#12L, aggregate(f#3, lambda x_4#7, lambda y_5#8)]"
    b = "Project [doc_id#99L, aggregate(f#1, lambda x_9#2, lambda y_12#4)]"
    assert vr.normalize_plan(a) == vr.normalize_plan(b)


def test_normalize_strips_paths_but_keeps_mime_literals():
    a = "Relation [x#1] parquet, location file:/tmp/spark-abc123/part-0"
    b = "Relation [x#1] parquet, location file:/tmp/spark-zzz987/other"
    assert vr.normalize_plan(a) == vr.normalize_plan(b)
    s = vr.normalize_plan("struct(mime, text/plain, n#3)")
    assert "text/plain" in s


def test_normalize_masks_repartition_count_but_keeps_keys():
    """fanout_repartition's partition count follows the core count: two
    plans that differ only in it fingerprint alike, different keys do
    not."""
    a = "Project [id#1L]\n+- RepartitionByExpression [id#1L, raw#2], 8\n   +- Scan"
    b = "Project [id#5L]\n+- RepartitionByExpression [id#5L, raw#6], 16\n   +- Scan"
    c = "Project [id#1L]\n+- RepartitionByExpression [raw#2], 8\n   +- Scan"
    assert vr.normalize_plan(a) == vr.normalize_plan(b)
    assert vr.normalize_plan(a) != vr.normalize_plan(c)


def test_normalize_keeps_real_plan_differences():
    a = vr.normalize_plan("Aggregate [sum(x#1) AS total#2]")
    b = vr.normalize_plan("Aggregate [avg(x#1) AS total#2]")
    assert a != b


# ---------------------------------------------------------------------------
# stale-set + refresh protocol (no Spark needed: injected fingerprints)
# ---------------------------------------------------------------------------


def _write_correctness(tmp_path, rnd, names):
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
        json.dumps({n: {"hash_match": True} for n in names})
    )


def test_stale_set_logic():
    fps = {
        "unchanged": {"fp": "aa", "verified_fp": "aa"},
        "changed": {"fp": "bb", "verified_fp": "aa"},
        "bootstrap": {"fp": "cc", "verified_fp": None},
        "marked": {"fp": "dd", "verified_fp": vr.FP_MARK_STALE},
    }
    assert vr.stale_set(fps) == {"changed", "marked"}


def test_refresh_promotes_fp_after_driver_row(tmp_path):
    """End of round N: refresh records fp with as_of_round=N.  The
    round-N driver row then certifies that fp, so the NEXT refresh
    promotes it to verified_fp; a code change before that refresh
    leaves the query stale until a newer driver row lands."""
    state = tmp_path / "fps.json"
    cur = {"q": "A"}

    def fake_fp(spark, name):
        return cur[name]

    _write_correctness(tmp_path, 1, ["q"])
    # bootstrap refresh (round 2 code): assume driver row verified it
    out = vr.refresh_fingerprints(
        None, path=state, repo_root=tmp_path, names=["q"], fingerprint_fn=fake_fp
    )
    assert out["q"] == {"fp": "A", "as_of_round": 2, "verified_fp": "A"}
    assert vr.stale_set(out) == set()

    # driver round 2 verifies fp A; round 3 code changes q to B
    _write_correctness(tmp_path, 2, ["q"])
    cur["q"] = "B"
    out = vr.refresh_fingerprints(
        None, path=state, repo_root=tmp_path, names=["q"], fingerprint_fn=fake_fp
    )
    assert out["q"] == {"fp": "B", "as_of_round": 3, "verified_fp": "A"}
    assert vr.stale_set(out) == {"q"}

    # no new driver row (q missed the window): still stale, re-running
    # the refresh is idempotent
    out = vr.refresh_fingerprints(
        None, path=state, repo_root=tmp_path, names=["q"], fingerprint_fn=fake_fp
    )
    assert out["q"]["verified_fp"] == "A" and vr.stale_set(out) == {"q"}

    # driver round 3 re-verifies (the front-loaded window visit) -> fp B
    # promotes and staleness clears
    _write_correctness(tmp_path, 3, ["q"])
    out = vr.refresh_fingerprints(
        None, path=state, repo_root=tmp_path, names=["q"], fingerprint_fn=fake_fp
    )
    assert out["q"] == {"fp": "B", "as_of_round": 4, "verified_fp": "B"}
    assert vr.stale_set(out) == set()


def test_refresh_mark_stale_forces_front_load(tmp_path):
    state = tmp_path / "fps.json"
    _write_correctness(tmp_path, 1, ["q"])
    out = vr.refresh_fingerprints(
        None,
        mark_stale={"q"},
        path=state,
        repo_root=tmp_path,
        names=["q"],
        fingerprint_fn=lambda s, n: "A",
    )
    assert vr.stale_set(out) == {"q"}
    # the mark survives a re-refresh without the flag (no newer row)
    out = vr.refresh_fingerprints(
        None, path=state, repo_root=tmp_path, names=["q"],
        fingerprint_fn=lambda s, n: "A",
    )
    assert vr.stale_set(out) == {"q"}


def test_load_fingerprints_tolerates_missing_and_garbage(tmp_path):
    assert vr.load_fingerprints(tmp_path / "nope.json") == {}
    bad = tmp_path / "bad.json"
    bad.write_text("[]")
    assert vr.load_fingerprints(bad) == {}


# ---------------------------------------------------------------------------
# enforcement: committed fingerprints == current code
# ---------------------------------------------------------------------------


def test_committed_fingerprints_current(spark):
    """Recompute every registered query's fingerprint and compare to
    the committed query_fingerprints.json.  A mismatch means a query's
    plan or oracle changed without running the refresh — run
    ``python -m incubyte_vaccination_data_pipeline_spark.catalog.verify_rotation
    --fingerprints``.  This is what makes "a changed query re-enters
    the driver window next round" true by construction."""
    committed = vr.load_fingerprints()
    if not committed:
        pytest.fail("query_fingerprints.json missing — run the refresh")
    missing = set(catalog.QUERIES) - set(committed)
    assert not missing, f"queries without committed fingerprints: {sorted(missing)}"
    mismatched = []
    for name in sorted(catalog.QUERIES):
        fp = vr.compute_fingerprint(spark, name)
        if fp != committed[name]["fp"]:
            mismatched.append(name)
    assert not mismatched, (
        f"fingerprints stale for {mismatched} — rerun the --fingerprints refresh"
    )
