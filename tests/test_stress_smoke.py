"""Smoke coverage for scripts/stress_streaming_10x.py (env-gated: the
full harness is a manual evidence tool; this keeps its scratch-builder
and width derivation from bit-rotting without slowing the suite).

Run with: SPARK_GRAFT_STRESS=1 python -m pytest tests/test_stress_smoke.py -q
"""

from __future__ import annotations

import os
import shutil

import pytest

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_STRESS") != "1",
    reason="stress smoke is env-gated (SPARK_GRAFT_STRESS=1)",
)


def test_stress_scratch_builds_and_widths_scale(spark, sf_dir):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "stress_streaming_10x",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "stress_streaming_10x.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        events_source_bytes,
        stream_state_partitions,
    )

    factor = 2
    scratch = mod.build_scratch(spark, factor)
    try:
        # the scratch's events.parquet is a DIRECTORY of `factor` parts
        events_dir = os.path.join(scratch, "events.parquet")
        parts = [f for f in os.listdir(events_dir) if f.endswith(".parquet")]
        assert len(parts) == factor
        # distinct ids per copy: total rows = factor x base, distinct
        # event_ids too (hard links would collapse them)
        base = spark.read.parquet(f"{mod.BASE_SF}/events.parquet")
        big = spark.read.parquet(events_dir)
        assert big.count() == factor * base.count()
        assert (
            big.select("event_id").distinct().count()
            == factor * base.select("event_id").distinct().count()
        )
        # the derived width tracks the measured volume (Spark's parquet
        # encoding compresses the rewritten copies better than the
        # generator's original — ~1.6x bytes for 2x rows — so bound at
        # factor * 0.7)
        assert events_source_bytes(spark, scratch) >= factor * 0.7 * events_source_bytes(
            spark, mod.BASE_SF
        )
        w_base = stream_state_partitions(spark, mod.BASE_SF)
        w_big = stream_state_partitions(spark, scratch)
        assert w_big >= w_base
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_batch_stress_scratch_builds(spark, sf_dir):
    """scripts/stress_batch_10x.py scratch-builder invariants: distinct
    ids per copy, disjoint shingle spaces (word salting), rotated
    embeddings with preserved dimensionality."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "stress_batch_10x",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "stress_batch_10x.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    factor = 2
    scratch = mod.build_scratch(spark, factor)
    try:
        base_docs = spark.read.parquet(f"{mod.BASE_SF}/documents.parquet")
        big_docs = spark.read.parquet(os.path.join(scratch, "documents.parquet"))
        assert big_docs.count() == factor * base_docs.count()
        assert (
            big_docs.select("doc_id").distinct().count()
            == factor * base_docs.select("doc_id").distinct().count()
        )
        # word salting makes copy texts disjoint from the base corpus:
        # no text collides across copies
        assert (
            big_docs.select("text").distinct().count()
            == factor * base_docs.select("text").distinct().count()
        )
        base_emb = spark.read.parquet(f"{mod.BASE_SF}/embeddings.parquet")
        big_emb = spark.read.parquet(os.path.join(scratch, "embeddings.parquet"))
        assert big_emb.count() == factor * base_emb.count()
        from pyspark.sql import functions as F

        dims = big_emb.select(F.size("embedding").alias("d")).distinct().collect()
        assert [r["d"] for r in dims] == [64]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
