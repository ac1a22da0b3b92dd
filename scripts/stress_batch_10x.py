#!/usr/bin/env python
"""Reproducible Nx batch stress for the dedup / containment / ANN
families: the evidence behind SCALE.md's "candidate generation is a
bucketed equi-join, index build is amortized" claims at a corpus the
per-round bench never sees.

Builds a scratch corpus under /tmp whose ``documents.parquet`` holds
``factor`` copies of the sf0.1 documents with

* DISTINCT doc ids (``doc_id += i * 10_000_000`` — the planted-dup
  arithmetic in ``catalog/dedup.py`` stays inside each copy's range),
* DISJOINT shingle spaces (every word of copy i>0 is suffixed with a
  copy tag, so MinHash/SimHash band buckets and containment grams do
  NOT collide across copies — the corpus is genuinely Nx the content,
  with Nx the planted duplicate structure, not one document with Nx
  identical copies, which would measure the skew path instead of the
  scale path),

and whose ``embeddings.parquet`` holds ``factor`` copies with distinct
vec ids and a per-copy dimension ROTATION (norm-preserving, so the
vectors are distinct but identically distributed).

Two sections:

1. **Dedup family via the registered catalog queries** (their
   parameters are corpus-size-free).  Prints cold (includes each
   per-corpus shared-index build) and warm wall time at 1x and Nx.
   The honest expectation is ~linear cold and ~linear-or-better warm
   for every query: ``dedup_ngram_jaccard_prefix`` blocks its exact
   verify join on a 12-char content-prefix key (beside language and
   length bucket) whose cardinality grows with the corpus, so block
   populations stay bounded where a (lang, length-bucket) key alone
   grows quadratically within blocks.
2. **ANN via the operators with corpus-tracking parameters**: the
   catalog pins IVF_N_CENTROIDS=16 as a small-SF choice; the OPERATOR
   default is now corpus-derived (``derived_ivf_cells`` = sqrt(N),
   round 10). This section builds the quantizer at 16 cells AND at
   the operator-default cell count over the Nx corpus and times the
   k-NN JOIN through each, printing the per-cell candidate blow-up the
   fixed quantizer causes and the restored ratio with the derived one.
   The SimHash section likewise measures the pinned widths against the
   operator-default ``derived_simhash_bits`` width.

Usage:
    python scripts/stress_batch_10x.py [--factor 10] [--keep]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF = "/root/testdata/sf0.1"

DEDUP_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_cleaned_corpus",
    "dedup_simhash_hamming",
    "dedup_ngram_jaccard_prefix",
    "text_containment_dedup",
    "dedup_incremental_batch",
]


#: substring dedup and BM25 (catalog/text_ext.py):
#: both are single-pass token pipelines — substring dedup's only
#: corpus-wide shuffle is the (v1, v2) gram aggregate (O(tokens) rows,
#: no self-join anywhere), and BM25 scores only the 5 query terms'
#: postings behind a broadcast prune — so the honest expectation is
#: ~linear cold/warm at Nx. (With the salted scratch corpus the df
#: top-5 query terms stay copy-0's unsalted tokens, so BM25's postings
#: stay 1x-sized while its token aggregate grows Nx — the aggregate IS
#: the dominant cost, which is what this measures.)
TEXT_QUERIES = [
    "text_substring_dedup",
    "text_substring_removal_plan",
    "text_bm25_topk",
]


def run_staged_text(spark, sf_dir: str) -> dict[str, tuple[float, float]]:
    """(cold, warm) per text query — same protocol as
    run_dedup_family (3 runs: cold + best-of-2 warm)."""
    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES
    from incubyte_vaccination_data_pipeline_spark.shared_cache import (
        release_shared_state,
    )

    out: dict[str, tuple[float, float]] = {}
    for name in TEXT_QUERIES:
        fn = QUERIES[name]
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        out[name] = (round(runs[0], 3), round(min(runs[1:]), 3))
    release_shared_state(sf_dir)
    return out


def run_emb_ivf_dedup(spark, sf_dir: str, label: str) -> None:
    """Semantic dedup through the IVF index (staged
    ``dedup_embedding_ivf``) at the OPERATOR-DEFAULT cell count
    (``derived_ivf_cells`` = sqrt(N)): candidate volume is
    O(sum of cell sizes squared) = O(n^1.5) at sqrt-N cells — already
    the difference between feasible and O(n^2) all-pairs; a dedup-
    tuned deployment holds cell POPULATION constant (cells ~ n /
    target_size) for ~linear volume, at which point assignment moves
    from codegen'd centroid literals to a broadcast-join argmin
    (documented in SCALE.md). The catalog query pins 16 cells as its
    small-SF oracle contract — at 10x data that pin is the same
    documented saturation case as fixed-width SimHash, so the stress
    measures the tracking default."""
    from incubyte_vaccination_data_pipeline_spark.catalog.similarity import (
        NEAR_DUP_THRESHOLD,
    )
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs_ivf,
        ivf_centroids,
    )
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    t0 = time.perf_counter()
    cents = ivf_centroids(emb)  # derived sqrt(N) cells, count() inside wall
    t_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_pairs = cosine_near_dup_pairs_ivf(
        emb, cents, threshold=NEAR_DUP_THRESHOLD
    ).count()
    t_pairs = time.perf_counter() - t0
    print(
        f"  [{label}] cells={len(cents):4d} pairs>=thr={n_pairs:8d} "
        f"build={t_build:6.2f}s pair_gen={t_pairs:6.2f}s"
    )


def _const_pop_geometry(n: int, target_cell: int) -> tuple[int, int]:
    """(coarse_n, fine_per_coarse) for the constant-cell-population
    two-level split — shared by the dedup and search stress sections
    so both always measure the SAME index configuration."""
    cells_total = max(4, n // target_cell)
    coarse_n = max(2, int(cells_total**0.5))
    return coarse_n, cells_total // coarse_n + 1


def run_emb_ivf_dedup_two_level(
    spark, sf_dir: str, label: str, target_cell: int = 256
) -> None:
    """The dedup-tuned regime: constant cell POPULATION (cells =
    n/target_cell — linear candidate volume) through the TWO-LEVEL
    quantizer (``ivf_two_level_assign``), which keeps assignment
    O(n x sqrt(cells)) and avoids the cells x dims literal codegen a
    flat assign would need at this cell count."""
    from incubyte_vaccination_data_pipeline_spark.catalog.similarity import (
        NEAR_DUP_THRESHOLD,
    )
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs_ivf,
        ivf_centroids,
        ivf_two_level_assign,
    )
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    t0 = time.perf_counter()
    n = emb.count()
    coarse_n, fine = _const_pop_geometry(n, target_cell)
    coarse = ivf_centroids(emb, n_centroids=coarse_n)
    # refine_fine=1: unrefined seeds leave skewed cells (measured
    # sum(cell^2) 1.59x worse at 10x) that negate the candidate win
    assigned = ivf_two_level_assign(
        emb, coarse, n_fine_per_coarse=fine, assign_m=2, refine_fine=1
    ).persist()
    n_assign = assigned.count()
    t_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_pairs = cosine_near_dup_pairs_ivf(
        emb, threshold=NEAR_DUP_THRESHOLD, cells=assigned
    ).count()
    t_pairs = time.perf_counter() - t0
    print(
        f"  [{label}] cells~{coarse_n * fine:5d} (coarse {coarse_n} x fine"
        f" {fine}) assign_rows={n_assign:8d} pairs>=thr={n_pairs:9d}"
        f" build={t_build:6.2f}s pair_gen={t_pairs:6.2f}s"
    )
    assigned.unpersist()


def run_ann_two_level_search(
    spark, sf_dir: str, label: str, target_cell: int = 256
) -> None:
    """k-NN SEARCH through the two-level index at constant cell
    population and a ~25% probe budget, with recall vs exact brute
    force on a query subsample — the hierarchical twin of run_ann's
    derived-cells row (flat assignment needs a cells x dims literal
    expression; the hierarchy never builds one)."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        ivf_centroids,
        ivf_two_level_assign,
        ivf_two_level_centroids,
        topk_bruteforce,
        topk_two_level,
    )
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    t0 = time.perf_counter()
    n = emb.count()
    coarse_n, fine = _const_pop_geometry(n, target_cell)
    coarse = ivf_centroids(emb, n_centroids=coarse_n)
    fc = ivf_two_level_centroids(emb, coarse, fine, refine_fine=1).persist()
    fc.count()
    inv = ivf_two_level_assign(
        emb, coarse, fine, assign_m=1, fine_centroids=fc
    ).persist()
    inv.count()
    t_build = time.perf_counter() - t0
    npc = max(2, coarse_n // 2)
    npf = max(4, (coarse_n * fine) // 4)
    queries = emb.filter(F.col("vec_id") % 20 == 3)  # 5% query set
    # broadcast the probe frame only while it is genuinely
    # broadcast-sized: the 5% query set is DATA-SCALE (|Q| grows with
    # the corpus), and |Q| x n_probe_fine rows each carrying the query
    # vector reach hundreds of millions of rows at 100x — that regime
    # belongs on the shuffle join (the knn_join_ivf rule)
    bcast = (n // 20) * npf <= 2_000_000
    t0 = time.perf_counter()
    topk_two_level(
        emb, queries, coarse, fc, inv, fine,
        k=5, n_probe_coarse=npc, n_probe_fine=npf,
        broadcast_probes=bcast,
    ).write.format("noop").mode("overwrite").save()
    t_join = time.perf_counter() - t0
    sample = queries.filter(F.col("vec_id") % 200 == 3)
    exact = topk_bruteforce(emb, sample, k=5).select("query_id", "neighbor_id")
    approx = topk_two_level(
        emb, sample, coarse, fc, inv, fine,
        k=5, n_probe_coarse=npc, n_probe_fine=npf,
        broadcast_probes=bcast,
    ).select("query_id", "neighbor_id")
    n_exact = exact.count()
    n_hit = exact.join(approx, ["query_id", "neighbor_id"]).count()
    print(
        f"  [{label}] cells~{coarse_n * fine:5d} probes={npc}c/{npf}f"
        f" build={t_build:6.2f}s knn={t_join:6.2f}s"
        f" recall@5={n_hit / max(n_exact, 1):.3f} ({n_hit}/{n_exact})"
    )
    fc.unpersist()
    inv.unpersist()


def build_scratch(spark, factor: int) -> str:
    from pyspark.sql import functions as F

    root = tempfile.mkdtemp(prefix=f"ivdp-batchstress{factor}x-")
    docs = spark.read.parquet(f"{BASE_SF}/documents.parquet")
    emb = spark.read.parquet(f"{BASE_SF}/embeddings.parquet")

    doc_parts = []
    for i in range(factor):
        if i == 0:
            c = docs
        else:
            salted = F.expr(
                f"array_join(transform(split(text, ' '), w -> concat(w, '·{i}')), ' ')"
            )
            c = docs.select(
                (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                salted.alias("text"),
                "lang",
                "source",
                F.length(salted).alias("n_chars"),
            )
        doc_parts.append(c)
    big_docs = doc_parts[0]
    for c in doc_parts[1:]:
        big_docs = big_docs.unionByName(c)
    big_docs.repartition(max(8, factor)).write.mode("overwrite").parquet(
        os.path.join(root, "documents.parquet")
    )

    emb_parts = []
    for i in range(factor):
        if i == 0:
            c = emb
        else:
            r = i % 63 + 1  # rotation offset 1..63 (dims=64), never 0
            rotated = F.expr(
                f"concat(slice(embedding, {r + 1}, 64 - {r}), slice(embedding, 1, {r}))"
            )
            c = emb.select(
                (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                rotated.alias("embedding"),
                "label",
            )
        emb_parts.append(c)
    big_emb = emb_parts[0]
    for c in emb_parts[1:]:
        big_emb = big_emb.unionByName(c)
    big_emb.repartition(max(8, factor)).write.mode("overwrite").parquet(
        os.path.join(root, "embeddings.parquet")
    )

    # tables the dedup family never touches, present for read_table
    for t in ("events",):
        os.symlink(f"{BASE_SF}/{t}.parquet", os.path.join(root, f"{t}.parquet"))
    return root


def run_dedup_family(spark, sf_dir: str) -> dict[str, tuple[float, float]]:
    """(cold, warm) per query; shared per-corpus caches released after."""
    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES
    from incubyte_vaccination_data_pipeline_spark.shared_cache import (
        release_shared_state,
    )

    out: dict[str, tuple[float, float]] = {}
    for name in DEDUP_QUERIES:
        runs = []
        for _ in range(3):  # cold + 2 warm (best-of-2 damps GC noise)
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.perf_counter() - t0)
        out[name] = (round(runs[0], 3), round(min(runs[1:]), 3))
    release_shared_state(sf_dir)
    return out


def run_simhash(spark, sf_dir: str, bits: int | None, label: str) -> None:
    """SimHash fingerprints + banded Hamming pairs via the OPERATORS at
    a given fingerprint width: the catalog pins 32-bit/4-band (8-bit
    bands, 256 buckets/band — an oracle-portable small-SF choice,
    documented in simhash_fingerprints' docstring); at Nx corpus the
    fixed bucket space makes within-bucket candidate pairs grow
    quadratically, and widening the fingerprint (56-bit -> 14-bit
    bands, 16k buckets) is the documented production knob."""
    from incubyte_vaccination_data_pipeline_spark.catalog.dedup import (
        augmented_documents,
    )
    from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
        derived_simhash_bits,
        simhash_fingerprints,
        simhash_near_pairs,
    )

    aug = augmented_documents(spark, sf_dir)
    t0 = time.perf_counter()
    if bits is None:  # the operator default: corpus-derived width —
        # the count() it pays is part of the default path, so it is
        # INSIDE the timed wall
        bits = derived_simhash_bits(aug.count())
        label += f" (derived {bits}-bit)"
    fps = simhash_fingerprints(aug, bits=bits).localCheckpoint()
    pairs = simhash_near_pairs(fps, max_hamming=3, bits=bits, bands=4)
    n_pairs = pairs.count()
    dt = time.perf_counter() - t0
    print(f"  [{label}] bits={bits:3d} near_pairs={n_pairs:8d} wall={dt:6.2f}s")


def run_ann(
    spark,
    sf_dir: str,
    n_centroids: int,
    label: str,
    recall: bool = False,
    n_probe: int | None = 4,
) -> None:
    """Build the IVF quantizer + inverted file at ``n_centroids`` and
    run the k-NN JOIN of the 5%% query set; print build/join wall and
    the average per-cell candidate count the join scans.

    ``recall=True`` additionally measures recall@k against exact
    brute force on a ~10%% deterministic subsample of the query set —
    the round-9 IVFADC recall pin (0.76-0.86) is a small-SF number;
    this is the certificate that recall HOLDS as the corpus and the
    derived cell count grow together (VERDICT r9 item 6)."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        derived_ivf_probes,
        ivf_assigned,
        ivf_centroids,
        knn_join_ivf,
        topk_bruteforce,
    )

    if n_probe is None:  # the operator default: cell-tracking probes
        n_probe = derived_ivf_probes(n_centroids)
        label += f" n_probe={n_probe}"
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    t0 = time.perf_counter()
    cents = ivf_centroids(emb, n_centroids=n_centroids)
    assigned = ivf_assigned(emb, cents).persist()
    n_corpus = assigned.count()
    t_build = time.perf_counter() - t0

    queries = emb.filter(F.col("vec_id") % 20 == 3)  # 5% query set
    t0 = time.perf_counter()
    joined = knn_join_ivf(assigned, cents, queries, k=5, n_probe=n_probe)
    joined.write.format("noop").mode("overwrite").save()
    t_join = time.perf_counter() - t0

    avg_cell = n_corpus / n_centroids
    rec = ""
    if recall:
        # deterministic ~10% subsample of the query set; exact brute
        # force as ground truth, recall@k = |ivf ∩ exact| / |exact|
        sample = queries.filter(F.col("vec_id") % 200 == 3)
        exact = topk_bruteforce(emb, sample, k=5).select(
            "query_id", "neighbor_id"
        )
        approx = knn_join_ivf(
            assigned, cents, sample, k=5, n_probe=n_probe
        ).select(
            "query_id", "neighbor_id"
        )
        n_exact = exact.count()
        n_hit = exact.join(approx, ["query_id", "neighbor_id"]).count()
        rec = f" recall@5={n_hit / max(n_exact, 1):.3f} ({n_hit}/{n_exact})"
    print(
        f"  [{label}] cells={n_centroids:4d} corpus={n_corpus:7d} "
        f"avg_cell={avg_cell:8.0f} build={t_build:6.2f}s knn_join={t_join:6.2f}s"
        f"{rec}"
    )
    assigned.unpersist()


def run_ann_occupancy(spark, sf_dir: str, n_centroids: int, label: str) -> None:
    """Occupancy-aware probing on the clustered corpus (VERDICT r11
    item 6), COST-MATCHED to the fixed-4-probe row: measure the
    average corpus fraction fixed-4 actually scans per query, set
    ``coverage`` to exactly that fraction, and compare recall@5 at
    equal average candidate work. Fixed-count probing overspends on
    dense queries and starves sparse ones; cutting by cumulative
    occupancy reallocates the same budget."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        ivf_assigned,
        ivf_centroids,
        ivf_probes_expr,
        topk_bruteforce,
        topk_ivf,
    )
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, n_centroids=n_centroids)
    assigned = ivf_assigned(emb, cents).persist()
    n_corpus = assigned.count()
    counts = {r["cid"]: r["count"] for r in assigned.groupBy("cid").count().collect()}
    sample = emb.filter(F.col("vec_id") % 200 == 3)

    # the corpus fraction fixed-4 scans, averaged over the sample
    cnt_arr = F.array(*[F.lit(int(counts.get(i, 0))) for i in range(len(cents))])
    f4 = (
        sample.select(
            F.explode(ivf_probes_expr("embedding", cents, 4)).alias("cid"),
            F.col("vec_id"),
        )
        .select(F.element_at(cnt_arr, F.col("cid") + 1).alias("c"))
        .agg(F.sum("c"))
        .collect()[0][0]
    ) / (sample.count() * n_corpus)

    # ground truth OUTSIDE the timed window (run_ann's discipline —
    # the brute-force scan must not be misattributed to occupancy
    # probing), persisted so the recall join doesn't recompute it
    exact = (
        topk_bruteforce(emb, sample, k=5)
        .select("query_id", "neighbor_id")
        .persist()
    )
    n_exact = exact.count()
    occ = topk_ivf(
        emb, sample, k=5, centroids=cents, assigned_corpus=assigned,
        coverage=f4,
        cell_counts=[int(counts.get(i, 0)) for i in range(len(cents))],
    ).select("query_id", "neighbor_id")
    t0 = time.perf_counter()
    occ.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    n_hit = exact.join(occ, ["query_id", "neighbor_id"]).count()
    print(
        f"  [{label}] coverage={f4:.4f} (matched to fixed-4's scanned "
        f"fraction) recall@5={n_hit / max(n_exact, 1):.3f} "
        f"({n_hit}/{n_exact}) search_wall={dt:6.2f}s"
    )
    exact.unpersist()
    assigned.unpersist()


def run_ann_drift(
    spark, train_dir: str, probe_dir: str, label: str
) -> None:
    """STALE-QUANTIZER drift scenario (r12 verdict item 5): centroids
    Lloyd-trained on yesterday's corpus (the 1x clustered draw), the
    search serving today's — 10x bigger AND with the Zipf weights
    rotated across the same cluster centers, so the dense clusters the
    quantizer equalized went sparse and vice versa. Geometry static,
    occupancy drifted: the r12 finding (a data-adapted quantizer
    already equalizes occupancy, occupancy probing not worth a default
    switch) was measured with the quantizer trained ON the probed
    corpus; this measures the option's actual use case, where
    refreshing the C cell counts is a metadata scan but re-running
    Lloyd is a full re-index.

    Protocol: fixed-4 recall@5 vs occupancy recall@5 at coverage
    matched to fixed-4's measured scanned fraction — same stale
    centroids, same average candidate work, counts from the CURRENT
    inverted file."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        derived_ivf_cells,
        ivf_assigned,
        ivf_centroids,
        ivf_probes_expr,
        topk_bruteforce,
        topk_ivf,
    )

    train = spark.read.parquet(os.path.join(train_dir, "embeddings.parquet"))
    probe = spark.read.parquet(os.path.join(probe_dir, "embeddings.parquet"))
    # the quantizer was sized and trained when the corpus was the 1x
    # draw — both stay frozen while the corpus drifts
    n_cells = derived_ivf_cells(train.count())
    cents = ivf_centroids(train, n_centroids=n_cells)

    assigned = ivf_assigned(probe, cents).persist()
    n_corpus = assigned.count()
    counts = {
        r["cid"]: r["count"] for r in assigned.groupBy("cid").count().collect()
    }
    cell_counts = [int(counts.get(i, 0)) for i in range(len(cents))]
    sample = probe.filter(F.col("vec_id") % 200 == 3)
    n_sample = sample.count()

    # the corpus fraction fixed-4 scans under the DRIFTED occupancy
    cnt_arr = F.array(*[F.lit(c) for c in cell_counts])
    f4 = (
        sample.select(
            F.explode(ivf_probes_expr("embedding", cents, 4)).alias("cid")
        )
        .select(F.element_at(cnt_arr, F.col("cid") + 1).alias("c"))
        .agg(F.sum("c"))
        .collect()[0][0]
    ) / (n_sample * n_corpus)

    exact = (
        topk_bruteforce(probe, sample, k=5)
        .select("query_id", "neighbor_id")
        .persist()
    )
    n_exact = exact.count()

    def recall(approx) -> str:
        hits = exact.join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        ).count()
        return f"{hits / max(n_exact, 1):.3f} ({hits}/{n_exact})"

    fixed = topk_ivf(
        probe, sample, k=5, centroids=cents, assigned_corpus=assigned,
        n_probe=4,
    )
    occ = topk_ivf(
        probe, sample, k=5, centroids=cents, assigned_corpus=assigned,
        coverage=f4, cell_counts=cell_counts,
    )
    print(
        f"  [{label}] cells={n_cells} corpus={n_corpus} "
        f"queries={n_sample} matched_coverage={f4:.4f}\n"
        f"    fixed-4    recall@5={recall(fixed)}\n"
        f"    occupancy  recall@5={recall(occ)}"
    )
    exact.unpersist()
    assigned.unpersist()


def run_staged12(spark, sf_dir: str, label: str, target_cell: int = 256) -> None:
    """Round-12 staged queries at Nx: the curation funnel (its stages
    are the already-measured dedup machinery plus two hash equi-joins
    and one token aggregate — honest expectation ~the cleaned-corpus
    row) and radius search through the two-level index at the
    constant-population geometry (the scale path; the staged query's
    own 3x4-cell pin is an oracle contract, not a deployment shape)."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.catalog.corpus_stats import (
        corpus_curation_funnel_q,
    )
    from incubyte_vaccination_data_pipeline_spark.catalog.similarity import (
        RANGE_THRESHOLD,
    )
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        ivf_centroids,
        ivf_two_level_assign,
        ivf_two_level_centroids,
        radius_two_level,
    )
    from incubyte_vaccination_data_pipeline_spark.shared_cache import (
        release_shared_state,
    )
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )

    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        corpus_curation_funnel_q(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        runs.append(time.perf_counter() - t0)
    print(
        f"  [{label}] corpus_curation_funnel cold={runs[0]:6.2f}s "
        f"warm={min(runs[1:]):6.2f}s"
    )

    emb = read_table(spark, sf_dir, "embeddings")
    t0 = time.perf_counter()
    n = emb.count()
    coarse_n, fine = _const_pop_geometry(n, target_cell)
    coarse = ivf_centroids(emb, n_centroids=coarse_n)
    fc = ivf_two_level_centroids(emb, coarse, fine, refine_fine=1).persist()
    fc.count()
    inv = ivf_two_level_assign(
        emb, coarse, fine, assign_m=1, fine_centroids=fc
    ).persist()
    inv.count()
    t_build = time.perf_counter() - t0
    npc = max(2, coarse_n // 2)
    npf = max(4, (coarse_n * fine) // 4)
    queries = emb.filter(F.col("vec_id") % 20 == 3)  # 5% query set
    t0 = time.perf_counter()
    # same probe-frame regime rule as run_ann_two_level_search
    bcast = (n // 20) * npf <= 2_000_000
    n_rows = radius_two_level(
        queries, coarse, fc, inv, fine,
        threshold=RANGE_THRESHOLD, n_probe_coarse=npc, n_probe_fine=npf,
        broadcast_probes=bcast,
    ).count()
    t_radius = time.perf_counter() - t0
    print(
        f"  [{label}] radius_two_level cells={coarse_n}x{fine} "
        f"rows>=thr={n_rows:8d} build={t_build:6.2f}s "
        f"radius={t_radius:6.2f}s"
    )
    fc.unpersist()
    inv.unpersist()
    release_shared_state(sf_dir)


def build_clustered_corpus(
    spark, factor: int, n_clusters: int = 40, weight_shift: int = 0
) -> str:
    """A deliberately CLUSTERED Nx embedding corpus — the honest
    worst case the near-uniform stress corpus cannot exercise
    (SCALE.md's recall-certificate caveat): ``n_clusters`` md5-seeded
    unit centers with ZIPF-imbalanced populations (size ~ 1/rank — a
    few dense clusters own most of the corpus, a long tail is barely
    covered) and tight Gaussian spread (sigma 0.15), so IVF cells
    both split dense clusters and starve tail ones. Deterministic
    (fixed numpy seed), same schema as the testdata embeddings.

    ``weight_shift`` rotates the Zipf weights across the (identical)
    cluster centers: cluster ``c`` gets weight rank ``(c + shift) %
    n_clusters``. Shift 0 is the original draw; a non-zero shift is
    the DRIFTED twin — same geometry, dense clusters went sparse and
    vice versa — for the stale-quantizer scenario."""
    import numpy as np

    n_total = 2000 * factor
    rng = np.random.default_rng(7)
    dims = 64
    centers = rng.standard_normal((n_clusters, dims))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    weights = 1.0 / (1.0 + (np.arange(n_clusters) + weight_shift) % n_clusters)
    sizes = np.floor(weights / weights.sum() * n_total).astype(int)
    sizes[np.argmax(weights)] += n_total - sizes.sum()
    rows = []
    vid = 0
    for c in range(n_clusters):
        noise = 0.15 * rng.standard_normal((sizes[c], dims))
        vecs = centers[c] + noise
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        for v in vecs:
            rows.append((vid, [float(x) for x in v], f"c{c}"))
            vid += 1
    root = tempfile.mkdtemp(prefix=f"ivdp-clustered{factor}x-")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label string"
    ).repartition(8).write.mode("overwrite").parquet(
        os.path.join(root, "embeddings.parquet")
    )
    return root


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--keep", action="store_true")
    ap.add_argument(
        "--keep-pinned",
        action="store_true",
        help="keep the pinned small-SF config (dedup_simhash_hamming) "
        "in the table at factor > 10 despite its documented saturation",
    )
    ap.add_argument(
        "--skip",
        default="",
        help="comma-separated query names to exclude (e.g. the 32-bit "
        "dedup_simhash_hamming at factors past 10, where its saturated "
        "band buckets alone would dominate the run)",
    )
    ap.add_argument(
        "--sections",
        default="dedup,simhash,ann,staged,staged12",
        help="comma-separated subset of {dedup,simhash,ann,staged,staged12,"
        "clustered,drift} to run (e.g. --sections ann re-measures the "
        "recall certificate without re-paying the ~10-min dedup table; "
        "clustered runs the worst-case Zipf-clustered recall row; drift "
        "runs the stale-quantizer fixed-vs-occupancy comparison)",
    )
    args = ap.parse_args()
    sections = {x for x in args.sections.split(",") if x}
    skip = {q for q in args.skip.split(",") if q}
    if args.factor > 10 and not args.keep_pinned:
        # past 10x the query whose small-SF pin is the DOCUMENTED
        # saturation case would dominate the run (32-bit simhash at
        # 184s/63x) — the operator-default width covers the path, so
        # auto-skip the pin unless --keep-pinned
        q = "dedup_simhash_hamming"
        if q not in skip:
            skip.add(q)
            print(f"(auto-skip at factor>{10}: {q} — pinned small-SF "
                  "config, documented saturation; --keep-pinned to keep)")
    if skip:
        DEDUP_QUERIES[:] = [q for q in DEDUP_QUERIES if q not in skip]
        print(f"(skipping: {sorted(skip)})")

    from incubyte_vaccination_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="ivdp-stress-batch")
    # clustered/drift build their own corpora — don't pay the base
    # scratch for a run that never reads it
    need_scratch = bool(sections - {"clustered", "drift"})
    scratch = build_scratch(spark, args.factor) if need_scratch else None
    try:
        if "dedup" in sections:
            # untimed session warmup: the first pass pays JVM/codegen/
            # scan warmup that would otherwise inflate the 1x colds and
            # invert the ratios (run_dedup_family releases the
            # per-corpus caches, so the timed 1x pass still pays every
            # index build)
            print("== session warmup (untimed 1x pass) ==")
            run_dedup_family(spark, BASE_SF)
            print(f"== dedup family, 1x ({BASE_SF}) ==")
            base = run_dedup_family(spark, BASE_SF)
            print(f"== dedup family, {args.factor}x ({scratch}) ==")
            big = run_dedup_family(spark, scratch)
            print(
                f"{'query':28s} {'1x cold':>8s} {'1x warm':>8s} "
                f"{str(args.factor) + 'x cold':>9s} "
                f"{str(args.factor) + 'x warm':>9s} "
                f"{'cold r':>7s} {'warm r':>7s}"
            )
            for name in DEDUP_QUERIES:
                bc, bw = base[name]
                gc, gw = big[name]
                rc = gc / bc if bc else float("inf")
                rw = gw / bw if bw else float("inf")
                print(
                    f"{name:28s} {bc:8.2f} {bw:8.2f} {gc:9.2f} {gw:9.2f} "
                    f"{rc:7.2f} {rw:7.2f}"
                )

        if "simhash" in sections:
            print("== SimHash banding (operators, corpus-tracking band width) ==")
            run_simhash(spark, BASE_SF, bits=32, label="1x, 32-bit/8-bit bands")
            if args.factor <= 10:
                # past 10x the saturated 32-bit config's output pairs
                # alone grow quadratically (measured 2.65M at 10x) — the
                # point is already made; only the tracked width matters
                run_simhash(spark, scratch, bits=32,
                            label=f"{args.factor}x, FIXED 32-bit/8-bit bands")
            run_simhash(spark, scratch, bits=None,
                        label=f"{args.factor}x, OPERATOR-DEFAULT width")

        if "staged" in sections:
            print("== substring dedup + BM25 text queries ==")
            run_staged_text(spark, BASE_SF)  # untimed session warmup
            base = run_staged_text(spark, BASE_SF)
            big = run_staged_text(spark, scratch)
            print(
                f"{'query':28s} {'1x cold':>8s} {'1x warm':>8s} "
                f"{str(args.factor) + 'x cold':>9s} "
                f"{str(args.factor) + 'x warm':>9s} "
                f"{'cold r':>7s} {'warm r':>7s}"
            )
            for name in TEXT_QUERIES:
                bc, bw = base[name]
                gc, gw = big[name]
                print(
                    f"{name:28s} {bc:8.2f} {bw:8.2f} {gc:9.2f} {gw:9.2f} "
                    f"{gc / bc if bc else float('inf'):7.2f} "
                    f"{gw / bw if bw else float('inf'):7.2f}"
                )

            print("== staged embedding-IVF dedup (operator-default cells) ==")
            run_emb_ivf_dedup(spark, BASE_SF, "1x warmup (discard)")
            run_emb_ivf_dedup(spark, BASE_SF, "1x")
            run_emb_ivf_dedup(spark, scratch, f"{args.factor}x")
            print("== embedding dedup, TWO-LEVEL constant-population cells ==")
            run_emb_ivf_dedup_two_level(spark, BASE_SF, "1x")
            run_emb_ivf_dedup_two_level(spark, scratch, f"{args.factor}x")
            print("== ANN search, TWO-LEVEL index (~25% probe budget) ==")
            run_ann_two_level_search(spark, BASE_SF, "1x")
            run_ann_two_level_search(spark, scratch, f"{args.factor}x")

        if "staged12" in sections:
            print("== round-12 staged (funnel + two-level radius) ==")
            run_staged12(spark, BASE_SF, "1x warmup (discard)")
            run_staged12(spark, BASE_SF, "1x")
            run_staged12(spark, scratch, f"{args.factor}x")

        if "clustered" in sections:
            from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
                derived_ivf_cells,
            )

            cl_root = build_clustered_corpus(spark, args.factor)
            try:
                n_cl = spark.read.parquet(
                    os.path.join(cl_root, "embeddings.parquet")
                ).count()
                cl_cells = derived_ivf_cells(n_cl)
                print("== ANN recall, Zipf-CLUSTERED corpus (worst case) ==")
                run_ann(
                    spark,
                    cl_root,
                    cl_cells,
                    f"{args.factor}x clustered, OPERATOR-DEFAULT "
                    f"cells={cl_cells}",
                    recall=True,
                    n_probe=None,
                )
                run_ann(
                    spark,
                    cl_root,
                    cl_cells,
                    f"{args.factor}x clustered, FIXED 4 probes",
                    recall=True,
                )
                run_ann_occupancy(
                    spark,
                    cl_root,
                    cl_cells,
                    f"{args.factor}x clustered, OCCUPANCY-matched budget",
                )
            finally:
                if args.keep:
                    print(f"clustered scratch kept at {cl_root}")
                else:
                    shutil.rmtree(cl_root, ignore_errors=True)

        if "drift" in sections:
            train_root = build_clustered_corpus(spark, 1)
            probe_root = build_clustered_corpus(
                spark, args.factor, weight_shift=13
            )
            try:
                print(
                    "== ANN recall, STALE quantizer (trained 1x, probing "
                    f"{args.factor}x weight-rotated) =="
                )
                run_ann_drift(
                    spark,
                    train_root,
                    probe_root,
                    f"stale cents, {args.factor}x drifted corpus",
                )
            finally:
                for root in (train_root, probe_root):
                    if args.keep:
                        print(f"drift scratch kept at {root}")
                    else:
                        shutil.rmtree(root, ignore_errors=True)

        if "ann" not in sections:
            return

        from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
            derived_ivf_cells,
        )

        n_big = spark.read.parquet(
            os.path.join(scratch, "embeddings.parquet")
        ).count()
        tracked = derived_ivf_cells(n_big)
        print("== ANN k-NN JOIN (operators, corpus-tracking cells) ==")
        run_ann(spark, BASE_SF, 16, "1x warmup (discard)")
        run_ann(spark, BASE_SF, 16, "1x, 16 cells (catalog pin)", recall=True)
        run_ann(spark, scratch, 16, f"{args.factor}x, FIXED 16 cells")
        run_ann(
            spark,
            scratch,
            tracked,
            f"{args.factor}x, FIXED 4 probes, derived {tracked} cells",
            recall=True,
        )
        run_ann(
            spark,
            scratch,
            tracked,
            f"{args.factor}x, OPERATOR-DEFAULT cells={tracked}",
            recall=True,
            n_probe=None,
        )
    finally:
        if scratch is None:
            pass
        elif args.keep:
            print(f"scratch kept at {scratch}")
        else:
            shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
