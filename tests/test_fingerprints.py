"""Plan fingerprints (catalog/fingerprints).

A query's fingerprint is sha256(normalized analyzed plan at sf0.001 +
oracle SQL), and ``query_fingerprints.json`` maps each query to it.
These tests pin (a) the normalization (session-unique noise stripped,
plan content kept), (b) the loader, and (c) — the enforcement test —
that the COMMITTED fingerprints match the current code, so shipping a
query change without refreshing the file reddens the suite.
"""

from __future__ import annotations

import subprocess
import sys

import pytest

from incubyte_vaccination_data_pipeline_spark import catalog
from incubyte_vaccination_data_pipeline_spark.catalog import fingerprints as fpm


# ---------------------------------------------------------------------------
# normalization
# ---------------------------------------------------------------------------


def test_normalize_strips_expr_ids_and_lambda_counters():
    a = "Project [doc_id#12L, aggregate(f#3, lambda x_4#7, lambda y_5#8)]"
    b = "Project [doc_id#99L, aggregate(f#1, lambda x_9#2, lambda y_12#4)]"
    assert fpm.normalize_plan(a) == fpm.normalize_plan(b)


def test_normalize_strips_paths_but_keeps_mime_literals():
    a = "Relation [x#1] parquet, location file:/tmp/spark-abc123/part-0"
    b = "Relation [x#1] parquet, location file:/tmp/spark-zzz987/other"
    assert fpm.normalize_plan(a) == fpm.normalize_plan(b)
    s = fpm.normalize_plan("struct(mime, text/plain, n#3)")
    assert "text/plain" in s


def test_normalize_masks_repartition_count_but_keeps_keys():
    """fanout_repartition's partition count follows the core count: two
    plans that differ only in it fingerprint alike, different keys do
    not."""
    a = "Project [id#1L]\n+- RepartitionByExpression [id#1L, raw#2], 8\n   +- Scan"
    b = "Project [id#5L]\n+- RepartitionByExpression [id#5L, raw#6], 16\n   +- Scan"
    c = "Project [id#1L]\n+- RepartitionByExpression [raw#2], 8\n   +- Scan"
    assert fpm.normalize_plan(a) == fpm.normalize_plan(b)
    assert fpm.normalize_plan(a) != fpm.normalize_plan(c)


def test_normalize_keeps_real_plan_differences():
    a = fpm.normalize_plan("Aggregate [sum(x#1) AS total#2]")
    b = fpm.normalize_plan("Aggregate [avg(x#1) AS total#2]")
    assert a != b


def test_load_fingerprints_tolerates_missing_and_garbage(tmp_path):
    assert fpm.load_fingerprints(tmp_path / "nope.json") == {}
    bad = tmp_path / "bad.json"
    bad.write_text("[]")
    assert fpm.load_fingerprints(bad) == {}
    mixed = tmp_path / "mixed.json"
    mixed.write_text('{"q1": "e46b33c71c99cee6", "q2": {"fp": "x"}, "q3": null}')
    assert fpm.load_fingerprints(mixed) == {"q1": "e46b33c71c99cee6"}


def test_catalog_import_loads_no_fingerprints():
    """Fingerprints are maintenance tooling: importing the catalog
    does not load the module."""
    probe = (
        "import sys, incubyte_vaccination_data_pipeline_spark.catalog; "
        "print('incubyte_vaccination_data_pipeline_spark.catalog"
        ".fingerprints' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False"


# ---------------------------------------------------------------------------
# enforcement: committed fingerprints == current code
# ---------------------------------------------------------------------------


def test_committed_fingerprints_current(spark):
    """Recompute every registered query's fingerprint and compare to
    the committed query_fingerprints.json.  A mismatch means a query's
    plan or oracle changed without running the refresh — run
    ``python -m incubyte_vaccination_data_pipeline_spark.catalog.fingerprints``."""
    committed = fpm.load_fingerprints()
    if not committed:
        pytest.fail("query_fingerprints.json missing — run the refresh")
    missing = set(catalog.QUERIES) - set(committed)
    assert not missing, f"queries without committed fingerprints: {sorted(missing)}"
    mismatched = []
    for name in sorted(catalog.QUERIES):
        fp = fpm.compute_fingerprint(spark, name)
        if fp != committed[name]:
            mismatched.append(name)
    assert not mismatched, (
        f"fingerprints stale for {mismatched} — rerun the refresh"
    )
