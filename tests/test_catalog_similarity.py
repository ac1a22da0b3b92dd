"""Semantic pins for ANN queries (``catalog/similarity``) that the DuckDB
oracle sweep (tests/test_oracle.py) cannot state: k-NN join plan and
recall, radius-search subset-of-brute-force laws, occupancy probing,
oracle-generator byte identity, MIPS ranking, and the two-level /
hierarchical quantizer laws."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark import catalog
from incubyte_vaccination_data_pipeline_spark.catalog import similarity
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table


def test_knn_join_does_not_force_broadcast(spark, sf_dir):
    """The k-NN join's whole reason to exist: the query side is
    data-scale, so the candidate join must not FORCE a broadcast the
    way topk_ivf's F.broadcast hint does — at a tiny SF AQE may still
    CHOOSE to broadcast (correct adaptive behavior), but with the
    broadcast threshold disabled the join must degrade to a shuffle
    join (a hard-coded hint would override the threshold), while
    topk_ivf's hinted join must keep broadcasting under the same conf.
    Neither may ever be a cartesian product."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        knn = catalog.QUERIES["ann_knn_join"](spark, sf_dir)
        knn_plan = knn._jdf.queryExecution().executedPlan().toString()
        topk = catalog.QUERIES["ann_ivf_topk"](spark, sf_dir)
        topk_plan = topk._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in knn_plan, knn_plan
    assert "CartesianProduct" not in knn_plan, knn_plan
    assert "BroadcastHashJoin" in topk_plan, "hinted topk path changed shape"


def test_knn_join_every_query_ranked_contiguously(spark, sf_dir):
    """Each query id gets ranks 1..n with n <= k, no gaps, and every
    query vector (vec_id % 20 == 0, with at least one probed-cell
    neighbor) appears."""
    out = catalog.QUERIES["ann_knn_join"](spark, sf_dir)
    per = (
        out.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("rank").alias("rmin"),
            F.max("rank").alias("rmax"),
        )
        .collect()
    )
    assert per, "knn join returned nothing"
    for r in per:
        assert r["rmin"] == 1 and r["rmax"] == r["n"] <= similarity.KNN_JOIN_K
    n_queries = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.expr(similarity.KNN_JOIN_QUERY_PRED))
        .count()
    )
    # every query has non-empty probed cells on this corpus
    assert len(per) == n_queries


def test_knn_join_recall_vs_bruteforce(spark, sf_dir):
    """Recall floor for the k-NN join, same convention as the
    topk_lsh/topk_ivf pins: against exact brute force over the SAME
    query set, the IVF-bucketed join must (a) return only true corpus
    neighbors per query, and (b) keep aggregate top-k recall above the
    probe budget's deterministic floor (16 cells / probe 4 on the
    near-uniform synthetic vectors — clustered real embeddings score
    far higher)."""
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        topk_bruteforce,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(similarity.KNN_JOIN_QUERY_PRED))
    exact = topk_bruteforce(emb, queries, k=similarity.KNN_JOIN_K).collect()
    approx = catalog.QUERIES["ann_knn_join"](spark, sf_dir).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(approx_sets) <= set(exact_sets)
    total = sum(len(v) for v in exact_sets.values())
    hit = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    assert hit / total >= 0.35, f"knn join recall {hit / total:.3f}"


def test_adc_bounded_batch_guard(spark):
    """The topk_pq/topk_ivfpq driver-side LUT build enforces its
    bounded-batch docstring contract loudly instead of OOMing the
    driver on a data-scale query set (r8 verdict watch item)."""
    import pytest as _pytest

    from incubyte_vaccination_data_pipeline_spark.operators import similarity as sim

    orig = sim.MAX_ADC_QUERY_BATCH
    sim.MAX_ADC_QUERY_BATCH = 3
    try:
        rows = [(i, [float(i), 0.0, 0.0, 0.0]) for i in range(8)]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        with _pytest.raises(ValueError, match="bounded-batch"):
            sim.topk_pq(df, df, k=2, n_sub=2, n_codes=2)
    finally:
        sim.MAX_ADC_QUERY_BATCH = orig


def test_radius_ivf_subset_of_bruteforce_with_equal_scores(spark, sf_dir):
    """IVF radius search only PRUNES candidates: every returned pair
    must appear in the brute-force range result with the identical
    rounded cosine, and the planted high-similarity structure must
    survive the probe pruning (non-empty result)."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in catalog.QUERIES["ann_cosine_range"](spark, sf_dir).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.ann_radius_ivf_q(spark, sf_dir).collect()
    }
    assert ivf, "radius-IVF returned nothing — probe pruning too aggressive"
    assert set(ivf) <= set(brute)
    for pair, cos in ivf.items():
        assert cos == brute[pair], (pair, cos, brute[pair])


def test_hier_scored_ctes_shared_with_registered_rank_oracle():
    """The radius oracle reuses the hier-search oracle's
    probe chain verbatim: the rank oracle must be exactly that chain
    plus its rank tail (byte-level prefix check), so the two tails
    cannot diverge from the probe machinery."""

    chain = similarity._hier_scored_ctes()
    assert catalog.ORACLES["ann_ivf_hier_topk"].startswith(chain)
    assert catalog.ORACLES["ann_radius_ivf_hier"].startswith(chain)


def test_radius_hier_subset_of_bruteforce_with_equal_scores(spark, sf_dir):
    """The hierarchical radius search only PRUNES: every returned pair
    appears in the brute-force range result with the identical rounded
    cosine, and the result is non-empty (the probe budget keeps the
    planted structure)."""
    from incubyte_vaccination_data_pipeline_spark.catalog.similarity import (
        N_QUERY_VECTORS,
        RANGE_THRESHOLD,
    )
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        range_search,
    )
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )
    from pyspark.sql import functions as F

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECTORS)
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in range_search(emb, queries, RANGE_THRESHOLD).collect()
    }
    rows = similarity.ann_radius_ivf_hier_q(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert brute[(r["query_id"], r["neighbor_id"])] == r["cosine"]


def test_radius_hier_plan_drops_the_rank_window(spark, sf_dir):
    """The advertised property: the threshold tail replaces the
    per-query CANDIDATE rank window (the index machinery's own
    row_number windows — seeds, assignment, probe selection — are
    shared with the rank twin): the radius plan must carry exactly
    one fewer Window than ann_ivf_hier_topk, and no cartesian
    fallback."""
    import re


    def windows(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        return len(re.findall(r"\bWindow\b", plan))

    n_radius = windows(similarity.ann_radius_ivf_hier_q(spark, sf_dir))
    n_topk = windows(similarity.ann_ivf_hier_topk_q(spark, sf_dir))
    assert n_radius == n_topk - 1


def test_ivf_oracle_occupancy_param_byte_identity():
    """The oracle-generator rule: _ivf_oracle gained the
    occupancy_coverage param — every pre-existing rendering must stay
    byte-identical (three registered queries depend on it)."""
    from incubyte_vaccination_data_pipeline_spark.catalog.similarity import (
        _ivf_oracle,
    )

    want = {
        "default": "e7e9a66fc9d6c69d4e2e9d7fbb33493a83e1c3d6e88b825e"
                   "8ef1e55cfbbfe534",
        "pair": "30d3c18a9601f6b66c5d79c30bf08418f9c96cf7b073b06e"
                "b6321bf32abb665b",
        "radius": "591f95416eb5d16cea034326285af13af170ad41b2d82337"
                  "be7d575d8e6c15fe",
    }
    got = {
        "default": _ivf_oracle(),
        "pair": _ivf_oracle(pair_threshold=0.8, assign_m=2),
        "radius": _ivf_oracle(radius=0.25),
    }
    for key, text in got.items():
        assert hashlib.sha256(text.encode()).hexdigest() == want[key], key


def test_occupancy_differs_from_fixed_probe_where_cells_skew(spark, sf_dir):
    """The occupancy query is not a re-labelled ann_ivf_topk: on a
    skewed inverted file the per-query probe COUNTS must vary (some
    query probes != IVF_N_PROBE cells), while every returned pair is
    still exact (subset-of-bruteforce law with equal cosines)."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.catalog.similarity import (
        N_QUERY_VECTORS,
        _ivf_assigned_index,
        _ivf_index,
    )
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        occupancy_probes_expr,
        topk_bruteforce,
    )
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECTORS)
    cents = _ivf_index(spark, sf_dir)
    counts = {
        r["cid"]: r["count"]
        for r in _ivf_assigned_index(spark, sf_dir).groupBy("cid").count().collect()
    }
    cell_counts = [counts.get(i, 0) for i in range(len(cents))]
    lens = [
        len(r["p"])
        for r in queries.select(
            occupancy_probes_expr(
                "embedding", cents, cell_counts, coverage=similarity.OCC_COVERAGE
            ).alias("p")
        ).collect()
    ]
    assert min(lens) >= 1 and max(lens) <= len(cents)
    assert len(set(lens)) > 1, "all queries probed the same cell count"

    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in topk_bruteforce(emb, queries, k=emb.count()).collect()
    }
    for r in similarity.ann_ivf_occupancy_topk_q(spark, sf_dir).collect():
        assert brute[(r["query_id"], r["neighbor_id"])] == r["cosine"]


def test_occupancy_plan_shape(spark, sf_dir):
    """The occupancy cut is a per-row expression: the executed plan
    must stay the family shape — probe explode + broadcast candidate
    equi-join + one rank window; no cartesian, no extra shuffle from
    the cell-count attachment (counts are literals inside the
    expression, collected once at build)."""
    df = similarity.ann_ivf_occupancy_topk_q(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # operator lines render as "Window [..."; bare "Window" also
    # matches windowspecdefinition mentions inside expressions
    assert plan.count("Window [") == 1


def test_mips_ranking_laws_on_corpus(spark, sf_dir):
    """Per-query ranks contiguous from 1, dot non-increasing along the
    rank. (On THIS near-constant-norm synthetic corpus MIPS and cosine
    orders happen to coincide — the objective split is pinned on a
    constructed corpus below.)"""
    out = similarity.ann_mips_topk_q(spark, sf_dir).collect()
    assert out
    by_q = {}
    for row in out:
        by_q.setdefault(row["query_id"], []).append(row)
    for rows in by_q.values():
        rows.sort(key=lambda row: row["rank"])
        assert [row["rank"] for row in rows] == list(range(1, len(rows) + 1))
        for a, b in zip(rows, rows[1:]):
            assert a["dot"] >= b["dot"]


def test_mips_diverges_from_cosine_when_norms_vary(spark):
    """The objective split that justifies MIPS as its own query: a
    high-norm, less-aligned vector must win MIPS while the unit-norm
    aligned vector wins cosine."""
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        topk_bruteforce,
        topk_mips,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # the query
        (1, [0.9, 0.0, 0.0, 0.0]),   # perfectly aligned, small norm
        (2, [2.0, 2.0, 0.0, 0.0]),   # misaligned (cos ~0.707), big norm
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 0")
    mips_top = topk_mips(df, q, k=1).collect()[0]
    cos_top = topk_bruteforce(df, q, k=1).collect()[0]
    assert mips_top["neighbor_id"] == 2 and mips_top["dot"] == 2.0
    assert cos_top["neighbor_id"] == 1 and cos_top["cosine"] == 1.0


def test_two_level_assign_one_coarse_equals_flat_seeds(spark, sf_dir):
    """The hierarchy law: with ONE coarse cell, two-level assignment is
    bit-identical to flat assignment against the unrefined global seed
    set (same content-addressed seeds, same dot fold, same tie-break) —
    pins that level 2 implements exactly the flat semantics, only
    scoped per coarse cell."""
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        ivf_assign_expr,
        ivf_centroids,
        ivf_two_level_assign,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    n_fine = 9
    flat_seeds = ivf_centroids(emb, n_centroids=n_fine, refine_iters=0)
    flat = {
        row["vec_id"]: row["cid"]
        for row in emb.select(
            "vec_id", ivf_assign_expr("embedding", flat_seeds).alias("cid")
        ).collect()
    }
    # one coarse cell: any single unit centroid sends every vector to
    # coarse cell 0, so the fine seeds are the global smallest-md5 set
    one_coarse = [[1.0] + [0.0] * 63]
    two = {
        row["vec_id"]: row["cell"]
        for row in ivf_two_level_assign(
            emb, one_coarse, n_fine_per_coarse=n_fine
        ).collect()
    }
    assert two == flat


def test_two_level_cells_find_planted_exact_dups(spark, sf_dir):
    """End-to-end through the generalized pair operator: a two-level
    assignment frame (real coarse split) fed to
    cosine_near_dup_pairs_ivf(cells=...) still finds every planted
    exact-dup pair at cosine exactly 1.0 (a copy gets identical coarse
    AND fine cells), and returned cosines match brute force."""
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_ivf,
        ivf_centroids,
        ivf_two_level_assign,
    )

    base = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    copies = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    corpus = base.unionByName(copies)
    coarse = ivf_centroids(corpus, n_centroids=3)
    assigned = ivf_two_level_assign(
        corpus, coarse, n_fine_per_coarse=4, assign_m=2
    )
    pairs = {
        (row["vec_a"], row["vec_b"]): row["cosine"]
        for row in cosine_near_dup_pairs_ivf(
            corpus, threshold=0.99, cells=assigned
        ).collect()
    }
    planted = {(v, v + 1_000_000) for v in range(60)}
    assert planted <= set(pairs)
    assert all(pairs[p] == 1.0 for p in planted)
    brute = {
        (row["vec_a"], row["vec_b"]): row["cosine"]
        for row in cosine_near_dup_pairs(
            corpus, threshold=0.99, block_col=None
        ).collect()
    }
    assert set(pairs) <= set(brute)
    assert all(brute[p] == c for p, c in pairs.items())


def test_two_level_refined_equals_flat_lloyd(spark, sf_dir):
    """The hierarchy law EXTENDS through refinement: one coarse cell +
    one distributed groupwise Lloyd step is bit-identical to flat
    assignment against ivf_centroids(refine_iters=1) — same quantized
    integer means, same empty-cell seed fallback, same normalization
    and tie-breaks, computed distributed instead of driver-side."""
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        ivf_assign_expr,
        ivf_centroids,
        ivf_two_level_assign,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    n_fine = 9
    flat_cents = ivf_centroids(emb, n_centroids=n_fine, refine_iters=1)
    flat = {
        row["vec_id"]: row["cid"]
        for row in emb.select(
            "vec_id", ivf_assign_expr("embedding", flat_cents).alias("cid")
        ).collect()
    }
    two = {
        row["vec_id"]: row["cell"]
        for row in ivf_two_level_assign(
            emb,
            [[1.0] + [0.0] * 63],
            n_fine_per_coarse=n_fine,
            refine_fine=1,
        ).collect()
    }
    assert two == flat


def test_hier_search_probe_all_equals_bruteforce(spark, sf_dir):
    """Recall-1 law: one coarse cell + probing every fine cell makes
    the hierarchical search scan the whole corpus — the result must
    EQUAL exact brute-force top-k (same pairs, cosines, ranks)."""
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        ivf_two_level_assign,
        ivf_two_level_centroids,
        topk_bruteforce,
        topk_two_level,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    one_coarse = [[1.0] + [0.0] * 63]
    nf = 6
    fc = ivf_two_level_centroids(emb, one_coarse, nf, refine_fine=1)
    inv = ivf_two_level_assign(emb, one_coarse, nf, assign_m=1, fine_centroids=fc)
    queries = emb.filter(F.col("vec_id") < 5)
    hier = {
        (row["query_id"], row["rank"]): (row["neighbor_id"], row["cosine"])
        for row in topk_two_level(
            emb, queries, one_coarse, fc, inv, nf,
            k=10, n_probe_coarse=1, n_probe_fine=nf,
        ).collect()
    }
    brute = {
        (row["query_id"], row["rank"]): (row["neighbor_id"], row["cosine"])
        for row in topk_bruteforce(emb, queries, k=10).collect()
    }
    assert hier == brute


def test_hier_search_recall_and_score_exactness(spark, sf_dir):
    """At the pinned probe budget every returned cosine equals the
    brute-force score for the same pair (the index prunes, never
    rescores), and recall@10 stays above a honest floor on the
    near-uniform corpus."""
    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    brute = {
        (row["query_id"], row["neighbor_id"]): row["cosine"]
        for row in QUERIES["ann_bruteforce_topk"](spark, sf_dir).collect()
    }
    hier = {
        (row["query_id"], row["neighbor_id"]): row["cosine"]
        for row in similarity.ann_ivf_hier_topk_q(spark, sf_dir).collect()
    }
    assert hier
    hits = sum(1 for p in hier if p in brute)
    for pair, cos in hier.items():
        if pair in brute:
            assert cos == brute[pair]
    assert hits / len(brute) >= 0.25, f"recall collapsed: {hits}/{len(brute)}"
