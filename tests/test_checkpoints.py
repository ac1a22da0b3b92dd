"""durable_checkpoint: localCheckpoint on local sessions (zero behavior
change for tests/driver), reliable DataFrame.checkpoint when the
session has a checkpoint dir configured — the executor-loss-safe path
a cluster deployment enables with one setCheckpointDir call.

The reliable-path assertions run in a SUBPROCESS session: setting a
checkpoint dir on the shared fixture session would silently flip every
later test onto the reliable path with a pytest-temporary directory
that outlives nothing.
"""

from __future__ import annotations

import subprocess
import sys

from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.plans.checkpoints import (
    durable_checkpoint,
)


def test_local_path_without_checkpoint_dir(spark):
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    out = durable_checkpoint(df)
    assert out.count() == 10
    assert spark.sparkContext.getCheckpointDir() is None
    lazy = durable_checkpoint(
        spark.range(5).withColumn("y", F.lit(1)), eager=False
    )
    assert lazy.count() == 5


_RELIABLE_SCRIPT = """
import os, sys
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, {repo!r})
from incubyte_vaccination_data_pipeline_spark.plans.checkpoints import durable_checkpoint
from incubyte_vaccination_data_pipeline_spark.catalog.dedup import augmented_documents
from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
    duplicate_clusters, minhash_candidate_pairs)

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
ckdir = {ckdir!r}

pairs = minhash_candidate_pairs(
    augmented_documents(spark, {sf_dir!r}),
    n_hashes=12, bands=4, shingle_k=3, min_est_jaccard=0.5)
base = sorted(map(tuple, duplicate_clusters(pairs).collect()))

spark.sparkContext.setCheckpointDir(ckdir)
out = durable_checkpoint(spark.range(100).withColumn("x", F.col("id") % 7))
assert out.count() == 100
assert any(files for _, _, files in os.walk(ckdir)), "no reliable files"

# the heaviest localCheckpoint consumer (one per propagation round)
# produces identical labels through the reliable path
reliable = sorted(map(tuple, duplicate_clusters(pairs).collect()))
assert reliable == base, "labels diverged on the reliable path"
print("RELIABLE-OK", len(base))
"""


def test_reliable_path_in_fresh_session(sf_dir, tmp_path):
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _RELIABLE_SCRIPT.format(
        repo=repo, ckdir=str(tmp_path / "ck"), sf_dir=sf_dir
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "RELIABLE-OK" in proc.stdout


_CATALOG_RELIABLE_SCRIPT = """
import os, sys
from pyspark.sql import SparkSession

sys.path.insert(0, {repo!r})
from incubyte_vaccination_data_pipeline_spark import catalog
from incubyte_vaccination_data_pipeline_spark.shared_cache import release_shared_state

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
sf_dir, ckdir = {sf_dir!r}, {ckdir!r}
names = ["graph_triangle_count", "events_anomaly_mad"]

def rows(name):
    return sorted(map(tuple, catalog.QUERIES[name](spark, sf_dir).collect()))

local = {{n: rows(n) for n in names}}
release_shared_state(sf_dir)
spark.sparkContext.setCheckpointDir(ckdir)
for n in names:
    assert rows(n) == local[n], n + " diverged on the reliable path"
assert any(fs for _, _, fs in os.walk(ckdir)), "no reliable checkpoint files"
print("CATALOG-RELIABLE-OK", {{n: len(r) for n, r in local.items()}})
"""


def test_catalog_lazy_checkpoints_take_reliable_path(sf_dir, tmp_path):
    """Queries whose lazy lineage cuts go through ``durable_checkpoint``
    (the co-purchase edge list and oriented edges of
    ``graph_triangle_count``, the value and deviation frames of
    ``events_anomaly_mad``) write reliable checkpoint files when the
    session has a checkpoint dir and return the rows of the local
    path."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _CATALOG_RELIABLE_SCRIPT.format(
        repo=repo, sf_dir=sf_dir, ckdir=str(tmp_path / "ck")
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "CATALOG-RELIABLE-OK" in proc.stdout
