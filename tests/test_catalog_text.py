"""Semantic pins for text queries (``catalog/text_ext``) that the DuckDB
oracle sweep (tests/test_oracle.py) cannot state: every derived snippet
resolves to its true containment source."""

from __future__ import annotations

from incubyte_vaccination_data_pipeline_spark.catalog import text_ext


def test_containment_finds_true_sources(spark, sf_dir):
    """Every derived snippet is a prefix of its source, so its best
    match must be the source doc with containment exactly 1.0."""
    rows = text_ext.text_containment_dedup(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["matched_doc"] == r["sid"] - text_ext._SNIP_OFFSET or (
            r["containment"] == 1.0
        ), r  # a different doc may win only by also containing it fully
    # and the overwhelming majority resolve to their own source
    own = sum(r["matched_doc"] == r["sid"] - text_ext._SNIP_OFFSET for r in rows)
    assert own / len(rows) > 0.9
