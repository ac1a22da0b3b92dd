"""The shared-state store (``shared_cache``): one entry per (app,
corpus, name), a whole corpus evicted LRU, and one release that frees
everything an entry pins — persisted and checkpointed frames, the
bases a frame carries, checkpoint files and temp dirs — so a session
iterating scale factors shows no storage growth across transitions."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from incubyte_vaccination_data_pipeline_spark import shared_cache as sc


def test_release_shared_state_unpersists_swept_corpus(spark, sf_dir):
    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES
    from incubyte_vaccination_data_pipeline_spark.catalog.similarity import (
        _exact_topk,
    )

    # builds the persisted exact-ANN twin keyed (app, sf_dir)
    QUERIES["ann_bruteforce_topk"](spark, sf_dir).count()
    held = _exact_topk(spark, sf_dir)
    assert held.storageLevel.useMemory

    n = sc.release_shared_state(sf_dir)
    assert n >= 2  # the twin and the embeddings read handle
    assert not held.storageLevel.useMemory, "frame still persisted"
    # the corpus is gone from the store: the next call builds afresh
    fresh = _exact_topk(spark, sf_dir)
    assert fresh is not held
    sc.release_shared_state(sf_dir)


def test_release_shared_state_all_clears_everything(spark, sf_dir):
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )

    read_table(spark, sf_dir, "orders")  # populates the store
    assert len(sc._STORE) > 0
    sc.release_shared_state()
    assert len(sc._STORE) == 0


def test_release_ignores_other_corpora(spark, sf_dir, tmp_path):
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )

    orders = read_table(spark, sf_dir, "orders")
    before = len(sc._STORE)
    assert sc.release_shared_state(str(tmp_path)) == 0
    assert len(sc._STORE) == before
    assert read_table(spark, sf_dir, "orders") is orders


def test_bounded_cache_evicts_and_unpersists(spark):
    """The store holds MAX_CORPORA corpora; one more releases the least
    recently used corpus WHOLE (every entry of it), and a hit on a
    corpus makes it most recently used."""

    class Handle:
        released = False

        def cleanup(self):
            self.released = True

    sc.release_shared_state()
    handles = {}
    for i in range(sc.MAX_CORPORA):
        for name in ("a", "b"):
            h = handles[i, name] = Handle()
            assert sc.shared(spark, f"corpus-{i}", name, lambda h=h: h) is h
    # a hit builds nothing and makes corpus 1 the least recently used
    assert sc.shared(spark, "corpus-0", "a", Handle) is handles[0, "a"]
    sc.shared(spark, "corpus-new", "a", Handle)
    assert handles[1, "a"].released and handles[1, "b"].released
    assert not any(h.released for (i, _), h in handles.items() if i != 1)
    assert len(sc._STORE) == 2 * sc.MAX_CORPORA - 1
    sc.release_shared_state()
    assert all(h.released for h in handles.values())


_LEAK_SCRIPT = """
import os, sys
from pyspark.sql import SparkSession

sys.path.insert(0, {repo!r})
from incubyte_vaccination_data_pipeline_spark import catalog
from incubyte_vaccination_data_pipeline_spark.catalog import (
    events, events_ext, graph, similarity, text_ext)
from incubyte_vaccination_data_pipeline_spark.shared_cache import release_shared_state

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
sf_dir, ckdir = {sf_dir!r}, {ckdir!r}
if ckdir:
    spark.sparkContext.setCheckpointDir(ckdir)

def persistent():
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

def ck_files():
    return [f for _, _, fs in os.walk(ckdir) for f in fs] if ckdir else []

before = persistent()
# one entry of each kind: a persisted frame (the exact ANN twin), a lazy
# checkpoint (daily cents), a localCheckpoint (copurchase pairs), a
# tuple (substring frames), a plain persisted frame (the vax
# `with_parsed_date` parse), a list (IVF cell counts) and a temp dir
# (the stream flush sentinels)
catalog.QUERIES["ann_bruteforce_topk"](spark, sf_dir).count()
events_ext.shared_daily_cents(spark, sf_dir).count()
graph._copurchase_pairs(spark, sf_dir).count()
for frame in text_ext._substr_frames(spark, sf_dir)[:2]:
    frame.count()
catalog.QUERIES["vax_deadletter"](spark, sf_dir).count()
assert similarity._ivf_cell_counts(spark, sf_dir)
flush = events._ss_flush_dir(spark, sf_dir)
held = persistent() - before
assert held and os.path.exists(flush)
assert bool(ck_files()) == bool(ckdir)

release_shared_state()
assert not held & persistent(), sorted(held & persistent())
assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
assert not ck_files(), ck_files()
assert not os.path.exists(flush)
print("RELEASE-OK", len(held))
"""


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_release_frees_every_entry_kind(sf_dir, tmp_path, mode):
    """After ``release_shared_state()`` no RDD an entry pinned is still
    persistent, no cached plan is left, no checkpoint file of an entry
    and no flush dir remains — on the local-checkpoint path and on the
    reliable path (a fresh session with a checkpoint dir, so the shared
    fixture session stays on the local path)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ckdir = str(tmp_path / "ck") if mode == "reliable" else None
    script = _LEAK_SCRIPT.format(repo=repo, sf_dir=sf_dir, ckdir=ckdir)
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "RELEASE-OK" in proc.stdout


def test_release_removes_stream_flush_dir(spark, sf_dir):
    """The stream-stream join's flush-sentinel dir is shared state: the
    corpus release removes it from disk."""
    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES, events

    QUERIES["stream_stream_left_outer_counts"](spark, sf_dir).count()
    flush = events._ss_flush_dir(spark, sf_dir)
    assert os.path.exists(flush)
    sc.release_shared_state(sf_dir)
    assert not os.path.exists(os.path.dirname(flush))


def test_ann_warm_path_probes_cached_index(spark, sf_dir):
    """The round-6 ANN fix: warm searches must hit the persisted index
    frames (LSH band rows / IVF cell assignments), not re-hash the
    corpus — the optimized plan substitutes InMemoryRelation for the
    index subtree once the first run materialized it."""
    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    for name in ("ann_lsh_topk", "ann_ivf_topk"):
        QUERIES[name](spark, sf_dir).count()  # build + materialize index
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "InMemoryRelation" in plan, (
            f"{name}: warm plan re-hashes the corpus instead of probing "
            f"the cached index"
        )
    # the PQ index is localCheckpointed (lineage truncated to the
    # compact (id, codes) RDD scan), so its warm marker is the absence
    # of the encode lattice — array_position over the 16x16 literal
    # codeword distances — rather than an InMemoryRelation subtree
    QUERIES["ann_pq_topk"](spark, sf_dir).count()
    plan = (
        QUERIES["ann_pq_topk"](spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "array_position" not in plan, (
        "ann_pq_topk: warm plan re-encodes the corpus instead of "
        "scanning the checkpointed code table"
    )
    assert "LogicalRDD" in plan or "ExistingRDD" in plan


def test_cluster_and_gram_caches_return_same_frame(spark, sf_dir):
    """Round-9 per-corpus caches: the cluster-label frame, the 32-bit
    simhash fingerprint frame, and the containment gram index build
    once per (app, corpus) and hand back the SAME object on a warm
    call — the fingerprint-stability contract (a cached frame's
    analyzed plan is unchanged) plus the perf contract (no rebuild)."""
    import incubyte_vaccination_data_pipeline_spark.shared_cache as sc
    from incubyte_vaccination_data_pipeline_spark.catalog.dedup import (
        _shared_simhash32,
        shared_duplicate_clusters,
    )
    from incubyte_vaccination_data_pipeline_spark.catalog.text_ext import (
        _shared_doc_grams,
    )

    c1 = shared_duplicate_clusters(spark, sf_dir)
    assert shared_duplicate_clusters(spark, sf_dir) is c1
    s1 = _shared_simhash32(spark, sf_dir)
    assert _shared_simhash32(spark, sf_dir) is s1
    g1, df1 = _shared_doc_grams(spark, sf_dir)
    g2, df2 = _shared_doc_grams(spark, sf_dir)
    assert g1 is g2 and df1 is df2
    from incubyte_vaccination_data_pipeline_spark.catalog.relational_ext import (
        _shared_basket_frame,
        _shared_kmv_frames,
    )

    b1 = _shared_basket_frame(spark, sf_dir)
    assert _shared_basket_frame(spark, sf_dir) is b1
    k1 = _shared_kmv_frames(spark, sf_dir)
    assert _shared_kmv_frames(spark, sf_dir) is k1
    from incubyte_vaccination_data_pipeline_spark.catalog.dedup import (
        _shared_prefix_grams,
    )

    p1 = _shared_prefix_grams(spark, sf_dir)
    assert _shared_prefix_grams(spark, sf_dir) is p1
    from incubyte_vaccination_data_pipeline_spark.catalog.dedup import (
        _shared_simhash48,
    )

    w1 = _shared_simhash48(spark, sf_dir)
    assert _shared_simhash48(spark, sf_dir) is w1
    assert "text_prefix" in p1.columns
    # the sweep drops every entry (they all key sf_dir as an element)
    dropped = sc.release_shared_state(sf_dir)
    assert dropped >= 8
    assert shared_duplicate_clusters(spark, sf_dir) is not c1
    sc.release_shared_state(sf_dir)


def test_shared_cluster_labels_match_fresh_computation(spark, sf_dir):
    """Cache coherence: the per-corpus cluster-label frame must equal a
    from-scratch propagation over a freshly built candidate-pair frame
    (no shared state) — a keying bug (wrong corpus, stale app) would
    show up as a label diff here before it could reach the driver."""
    import incubyte_vaccination_data_pipeline_spark.shared_cache as sc
    from incubyte_vaccination_data_pipeline_spark.catalog.dedup import (
        augmented_documents,
        shared_duplicate_clusters,
    )
    from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
        duplicate_clusters,
        minhash_candidate_pairs,
    )

    cached = sorted(
        map(tuple, shared_duplicate_clusters(spark, sf_dir).collect())
    )
    fresh_pairs = minhash_candidate_pairs(
        augmented_documents(spark, sf_dir),
        n_hashes=12,
        bands=4,
        shingle_k=3,
        min_est_jaccard=0.5,
    )
    fresh = sorted(map(tuple, duplicate_clusters(fresh_pairs).collect()))
    assert cached == fresh
    sc.release_shared_state(sf_dir)


def test_hier_caches_swept_with_shared_state(spark, sf_dir):
    """The two-level quantizer's coarse, fine and cell entries
    (catalog/similarity) are shared per corpus: the explicit
    between-corpora sweep the bench scripts rely on must drop them
    too, so the next call rebuilds each."""
    from incubyte_vaccination_data_pipeline_spark.catalog import similarity

    cells = similarity._hier_cells(spark, sf_dir)  # builds coarse, fine AND cells
    coarse = similarity._hier_coarse(spark, sf_dir)
    fine = similarity._hier_fine(spark, sf_dir)
    assert similarity._hier_cells(spark, sf_dir) is cells
    sc.release_shared_state(sf_dir)
    assert similarity._hier_coarse(spark, sf_dir) is not coarse
    assert similarity._hier_fine(spark, sf_dir) is not fine
    assert similarity._hier_cells(spark, sf_dir) is not cells
    sc.release_shared_state(sf_dir)


def test_hier_cells_rank1_agrees_with_inv(spark, sf_dir):
    """The dedup (assign_m=2) and search (assign_m=1) inverted files
    rank fine cells with the same tie-breaks, so every vector's
    BEST cell must agree between the two persisted frames — the law
    that would let one build serve both if the m=2 frame carried its
    rank (recorded round-12 measurement: the two builds share the
    persisted fine-centroid frame, so the second build is one
    broadcast-score window, not a second Lloyd chain)."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.catalog import similarity

    inv = {
        r["vec_id"]: r["cell"]
        for r in similarity._hier_inv(spark, sf_dir).collect()
    }
    # m=2 frame: the best cell is the one _two_level_score ranked
    # first; recover it as the min over (rank order) — the frame drops
    # __arn, but scores order (dot DESC, fid ASC) == cell order only
    # per vector via a fresh ranked build, so assert set-level laws:
    # every vector appears exactly twice and its m=1 cell is among them
    cells = similarity._hier_cells(spark, sf_dir)
    counts = cells.groupBy("vec_id").agg(F.count(F.lit(1)).alias("n"))
    assert counts.filter(F.col("n") != similarity.HIER_ASSIGN_M).count() == 0
    pairs = {
        (r["vec_id"], r["cell"]) for r in cells.collect()
    }
    for vid, cell in inv.items():
        assert (vid, cell) in pairs
    sc.release_shared_state(sf_dir)


def test_near_dup_ivf_rejects_centroids_plus_cells(spark, sf_dir):
    """centroids/cells are mutually exclusive assignment sources —
    supplying both used to silently take cells semantics while the
    assign_m default suggested the flat path still applied."""
    import pytest

    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs_ivf,
    )
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    cells = emb.selectExpr("vec_id", "embedding", "0 AS cell")
    with pytest.raises(ValueError, match="mutually exclusive"):
        cosine_near_dup_pairs_ivf(emb, centroids=[[0.0] * 4], cells=cells)


def test_substring_shared_frames_match_unshared_operators(spark, sf_dir):
    """The persisted gram-frame triple (round 13,
    catalog/text_ext._substr_frames) must be value-invisible:
    both registered substring queries — which consume the shared
    frames — return EXACTLY the unshared operator paths' rows. Also
    pins the frames' nd law: per_doc_gram-row count per gram ==
    countDistinct(doc) over position rows."""
    from incubyte_vaccination_data_pipeline_spark.catalog import text_ext
    from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
        substring_dup_coverage,
        substring_dup_stats,
    )
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )

    docs = read_table(spark, sf_dir, "documents")
    shared = {
        tuple(r)
        for r in text_ext.text_substring_dedup_q(spark, sf_dir).collect()
    }
    plain = {
        tuple(r)
        for r in substring_dup_stats(
            docs,
            k=text_ext.SUBSTR_K,
            min_docs=text_ext.SUBSTR_MIN_DOCS,
            flag_frac=text_ext.SUBSTR_FLAG_FRAC,
        ).collect()
    }
    assert shared == plain and shared

    shared_cov = {
        tuple(r)
        for r in text_ext.text_substring_removal_plan_q(spark, sf_dir).collect()
    }
    plain_cov = {
        tuple(r)
        for r in substring_dup_coverage(
            docs, k=text_ext.SUBSTR_K, min_docs=text_ext.SUBSTR_MIN_DOCS
        ).collect()
    }
    assert shared_cov == plain_cov and shared_cov

    # the frames are shared state: sweeping the corpus drops the entry
    frames = text_ext._substr_frames(spark, sf_dir)
    assert text_ext._substr_frames(spark, sf_dir) is frames
    sc.release_shared_state(sf_dir)
    assert text_ext._substr_frames(spark, sf_dir) is not frames
    sc.release_shared_state(sf_dir)
