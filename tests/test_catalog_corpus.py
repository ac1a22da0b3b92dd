"""Semantic pins for the curation funnel (``catalog/corpus_stats``) that
the DuckDB oracle sweep (tests/test_oracle.py) cannot state: stage
laws, non-vacuous contamination, and the plan guard."""

from __future__ import annotations

from incubyte_vaccination_data_pipeline_spark.catalog import corpus_stats


def test_funnel_laws_and_contamination_nonvacuous(spark, sf_dir):
    """Funnel arithmetic over the planted augmented corpus: the exact
    stage must collapse every planted verbatim copy
    (n_docs - n_exact_unique == |doc_id % 10 == 0|), the stages must
    be monotone, and the raw-eval screen must actually catch leaked
    copies (non-vacuous: > 0 contaminated train docs)."""
    import duckdb as _dd

    row = corpus_stats.corpus_curation_funnel_q(spark, sf_dir).collect()[0]
    n_docs_base = _dd.sql(
        f"SELECT COUNT(*), SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) "
        f"FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    n_base, n_copies = int(n_docs_base[0]), int(n_docs_base[1])
    assert row["n_docs"] - row["n_exact_unique"] == n_copies
    assert row["n_cleaned"] <= row["n_exact_unique"]
    assert row["n_final"] <= row["n_cleaned"]
    assert row["n_contaminated_train"] > 0, "raw-eval screen vacuous"
    assert row["n_packed_seqs"] > 0
    # packed sequences can't exceed one per doc plus the token total
    assert row["n_packed_seqs"] <= row["n_final"] * 64


def test_funnel_plan_no_cartesian_blowup(spark, sf_dir):
    """The five scalar aggregates attach as broadcast one-row joins —
    no CartesianProduct in the executed plan."""
    df = corpus_stats.corpus_curation_funnel_q(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
