"""Semantic pins that the DuckDB oracle sweep (tests/test_oracle.py)
cannot state for substring dedup and its removal plan, BM25 ranking,
embedding-IVF and two-level/hierarchical ANN search, MIPS ranking,
Holt-Winters and label propagation: hash-collision-freedom at test
scale, discrimination of the dup_heavy flag, ranking and coverage laws,
subset-of-brute-force laws, and plan shapes.  Each query is imported
from its domain module under ``catalog/``."""

from __future__ import annotations

from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.catalog import (
    dedup,
    events_ext,
    graph,
    similarity,
    text_ext,
)
from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
    substring_dup_stats,
)
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_substring_dedup_hash_equals_raw_shingles(spark, sf_dir):
    """The 64-bit (v1, v2) shingle key must be collision-free at test
    scale: recomputing the same statistics grouped by the RAW k-gram
    string (the arbitrarily-wide shuffle key the operator exists to
    avoid) gives identical rows."""
    docs = read_table(spark, sf_dir, "documents")
    hashed = {
        row["doc_id"]: (row["n_shingles"], row["dup_shingles"])
        for row in text_ext.text_substring_dedup_q(spark, sf_dir).collect()
    }
    words = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("words")
    ).filter(F.size("words") >= text_ext.SUBSTR_K)
    sh = words.select(
        "doc_id",
        F.expr(
            f"explode(transform(sequence(1, size(words) - {text_ext.SUBSTR_K - 1}),"
            f" i -> array_join(slice(words, i, {text_ext.SUBSTR_K}), ' ')))"
        ).alias("shingle"),
    )
    per = sh.groupBy("shingle", "doc_id").agg(F.count(F.lit(1)).alias("occ"))
    nd = per.groupBy("shingle").agg(F.count(F.lit(1)).alias("nd"))
    raw = {
        row["doc_id"]: (row["n"], row["d"])
        for row in per.join(nd, "shingle")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n"),
            F.sum(
                F.when(F.col("nd") >= text_ext.SUBSTR_MIN_DOCS, F.col("occ")).otherwise(
                    F.lit(0)
                )
            ).alias("d"),
        )
        .collect()
    }
    assert hashed == raw


def test_substring_dedup_flag_discriminates(spark, sf_dir):
    """The planted duplicate structure must make dup_heavy a real
    signal: some flagged, most not, bounds respected."""
    rows = text_ext.text_substring_dedup_q(spark, sf_dir).collect()
    assert rows
    heavy = [row for row in rows if row["dup_heavy"] == 1]
    assert 0 < len(heavy) < len(rows) / 2
    for row in rows:
        assert 0 <= row["dup_shingles"] <= row["n_shingles"]
        assert 0.0 <= row["dup_frac"] <= 1.0
        assert row["dup_heavy"] == int(row["dup_frac"] >= text_ext.SUBSTR_FLAG_FRAC)


def test_bm25_ranking_laws(spark, sf_dir):
    """Ranks contiguous from 1, scores non-increasing along the rank,
    matched-term count within [1, BM25_N_TERMS], and every returned
    document really contains at least one derived query term."""
    out = text_ext.text_bm25_topk_q(spark, sf_dir).collect()
    # every test corpus has well over BM25_TOP_K docs matching the
    # derived query terms, so the cut must return exactly top-K
    assert len(out) == text_ext.BM25_TOP_K
    ranks = sorted(row["rank"] for row in out)
    assert ranks == list(range(1, len(out) + 1))
    by_rank = sorted(out, key=lambda row: row["rank"])
    for a, b in zip(by_rank, by_rank[1:]):
        assert (a["bm25"], -a["doc_id"]) >= (b["bm25"], -b["doc_id"])
    assert all(1 <= row["n_query_terms"] <= text_ext.BM25_N_TERMS for row in out)

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.length("tok") >= text_ext.BM25_MIN_TOK_LEN)
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    qterms = {
        row["tok"]
        for row in tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "tok")
        .limit(text_ext.BM25_N_TERMS)
        .collect()
    }
    assert len(qterms) == text_ext.BM25_N_TERMS
    assert all(len(t) >= text_ext.BM25_MIN_TOK_LEN for t in qterms)
    doc_terms = {
        row["doc_id"]: row["ts"]
        for row in tf.filter(F.col("tok").isin(list(qterms)))
        .groupBy("doc_id")
        .agg(F.collect_set("tok").alias("ts"))
        .collect()
    }
    for row in out:
        assert row["doc_id"] in doc_terms
        assert len(doc_terms[row["doc_id"]]) == row["n_query_terms"]


def test_substring_dedup_operator_edge_short_docs(spark):
    """Documents with fewer than k words contribute no k-gram and are
    absent; a corpus of two identical long docs reports dup_frac 1.0
    on both."""
    df = spark.createDataFrame(
        [
            (1, "a b c"),  # < k words: absent
            (2, "one two three four five six seven eight nine"),
            (3, "one two three four five six seven eight nine"),
            (4, "totally different words with no overlap at all here now"),
        ],
        "doc_id long, text string",
    )
    out = {row["doc_id"]: row for row in substring_dup_stats(df).collect()}
    assert set(out) == {2, 3, 4}
    assert out[2]["dup_frac"] == 1.0 and out[3]["dup_frac"] == 1.0
    assert out[2]["dup_heavy"] == 1
    assert out[4]["dup_shingles"] == 0 and out[4]["dup_heavy"] == 0


def test_substring_dedup_plan_shape(spark, sf_dir):
    """100 TB posture: the corpus-wide shuffles ride the two decoded
    bigint halves — the raw k-word shingle string never appears in a
    hashpartitioning key — and no join degrades to a nested loop or
    cartesian; the documents scan reads only (doc_id, text)."""
    import re

    plan = _plan(
        text_ext.text_substring_dedup_q(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "shingle" not in m.group(1), (
            "shingle string must be hashed to (v1, v2) before any shuffle"
        )
    scan = plan[plan.index("Scan parquet") :]
    read_cols = re.match(r"Scan parquet \[([^\]]*)\]", scan).group(1).split(",")
    assert sorted(c.split("#")[0] for c in read_cols if c) == ["doc_id", "text"]


def test_bm25_plan_shape(spark, sf_dir):
    """100 TB posture: the 5-term query frame and 1-row stats broadcast
    (>=2 BroadcastHashJoins; the single nested-loop is the 1-row stats
    cross join), and the global top-20 is TakeOrderedAndProject — a
    per-partition heap, never a single-partition global sort."""
    from incubyte_vaccination_data_pipeline_spark.catalog.text_ext import (
        text_bm25_topk_q,
    )

    plan = _plan(text_bm25_topk_q(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_embedding_ivf_subset_of_bruteforce_with_equal_scores(spark, sf_dir):
    """Cell blocking only PRUNES: every returned pair appears in the
    all-pairs brute-force result with the identical rounded cosine,
    and top-2-of-16-cells keeps a substantial fraction of the
    threshold tail on this near-uniform corpus (measured 0.56-0.57 at
    sf0.001/sf0.01 — the tail pairs are weakly-similar noise, the
    hardest case for content blocking; exact dups are recall-1 by
    construction, pinned below)."""
    from incubyte_vaccination_data_pipeline_spark.catalog.similarity import (
        NEAR_DUP_THRESHOLD,
    )
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    brute = {
        (row["vec_a"], row["vec_b"]): row["cosine"]
        for row in cosine_near_dup_pairs(
            emb, threshold=NEAR_DUP_THRESHOLD, block_col=None
        ).collect()
    }
    ivf = {
        (row["vec_a"], row["vec_b"]): row["cosine"]
        for row in dedup.dedup_embedding_ivf_q(spark, sf_dir).collect()
    }
    assert ivf, "IVF pair generation returned nothing"
    assert set(ivf) <= set(brute)
    for pair, cos in ivf.items():
        assert cos == brute[pair], (pair, cos, brute[pair])
    assert len(ivf) / len(brute) >= 0.5


def test_embedding_ivf_planted_exact_dups_recall_one(spark, sf_dir):
    """An exact duplicate vector always shares ALL its cells with its
    copy, so multi-assignment cell blocking finds every planted
    exact-dup pair with cosine exactly 1.0 — the property that makes
    this the semantic-dedup scale path (true dups are clustered; the
    probabilistic loss lives in the weakly-similar tail only)."""
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs_ivf,
        ivf_centroids,
    )

    base = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    copies = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    corpus = base.unionByName(copies)
    cents = ivf_centroids(corpus, n_centroids=8)
    pairs = {
        (row["vec_a"], row["vec_b"]): row["cosine"]
        for row in cosine_near_dup_pairs_ivf(
            corpus, cents, threshold=0.99, assign_m=2
        ).collect()
    }
    planted = {(v, v + 1_000_000) for v in range(50)}
    assert planted <= set(pairs)
    assert all(pairs[p] == 1.0 for p in planted)


def test_substring_dup_stats_random_corpora_vs_reference(spark):
    """30 random corpora (tiny per-corpus vocabularies force heavy
    within-corpus 8-gram collisions — the worst case for the counting
    logic; per-corpus token prefixes keep gram spaces disjoint so one
    Spark job checks all 30) against a pure-Python reference."""
    import random
    from collections import defaultdict

    k = 8
    rng = random.Random(20260816)
    rows = []
    expected = {}
    for c in range(30):
        vocab = [f"c{c}w{j}" for j in range(rng.randint(2, 6))]
        docs = {}
        for d in range(rng.randint(1, 8)):
            doc_id = c * 1000 + d
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 18))]
            docs[doc_id] = words
            rows.append((doc_id, " ".join(words)))
        gram_docs = defaultdict(set)
        for doc_id, ws in docs.items():
            for i in range(len(ws) - k + 1):
                gram_docs[tuple(ws[i : i + k])].add(doc_id)
        for doc_id, ws in docs.items():
            n = len(ws) - k + 1
            if n <= 0:
                continue
            dup = sum(
                1
                for i in range(n)
                if len(gram_docs[tuple(ws[i : i + k])]) >= 2
            )
            expected[doc_id] = (n, dup)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        row["doc_id"]: (row["n_shingles"], row["dup_shingles"])
        for row in substring_dup_stats(df, k=k).collect()
    }
    assert got == expected


def test_holt_winters_pure_periodic_series_is_exact(spark):
    """On a perfectly periodic zero-trend series the classic seeding is
    EXACT: l0 = mean of the first period = the base level, s_i = the
    true seasonal offsets, so every subsequent step observes
    y_t - s_{t-7} = base exactly — level stays put, trend stays 0, the
    seasonal array never moves, and every one-step forecast equals the
    next actual. Pins the recurrence wiring (slot arithmetic, seeding,
    forecast slot) with no tolerance at all."""
    import datetime

    base = 1000
    pattern = [0, 210, -140, 70, -280, 350, -210]  # sums to 0
    rows = []
    for t in range(21):
        day = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=t)
        cents = base + pattern[t % 7]
        rows.append(("periodic", day, cents / 100.0))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    # reuse the query's pipeline by substituting the events read
    # (r15: the daily aggregate comes from events_ext.shared_daily_cents,
    # so the patch target moved there; the per-(app, dir) cache entry for
    # the synthetic "ignored" dir is keyed apart from real corpora)
    import unittest.mock as mock

    with mock.patch(
        "incubyte_vaccination_data_pipeline_spark.catalog.events_ext.read_table",
        return_value=df,
    ):
        out = sorted(
            events_ext.events_holt_winters_q(spark, "ignored").collect(),
            key=lambda row: row["day"],
        )
    assert len(out) == 21 - events_ext.HW_PERIOD
    for i, row in enumerate(out):
        t = i + events_ext.HW_PERIOD
        assert row["level"] == float(base)
        assert row["trend"] == 0.0
        assert row["season"] == float(pattern[t % 7])
        assert row["forecast_next"] == float(base + pattern[(t + 1) % 7])


def test_label_propagation_refines_components(spark, sf_dir):
    """LPA laws: every node of the edge frame gets exactly one
    community; the community label is itself a node id in the same
    connected component (labels only flow along edges, so a community
    can never span two components); and the labeling is non-trivial
    (more than one community, fewer communities than nodes)."""
    from incubyte_vaccination_data_pipeline_spark.catalog.graph import (
        _copurchase_components,
        _copurchase_pairs,
    )

    lpa = {
        row["node"]: row["community"]
        for row in graph.graph_label_propagation_q(spark, sf_dir).collect()
    }
    pairs = _copurchase_pairs(spark, sf_dir)
    nodes = {
        row["n"]
        for row in pairs.select(F.col("pa").alias("n"))
        .unionByName(pairs.select(F.col("pb").alias("n")))
        .distinct()
        .collect()
    }
    assert set(lpa) == nodes
    comp = {
        row["node"]: row["component_id"]
        for row in _copurchase_components(spark, sf_dir).collect()
    }
    for node, community in lpa.items():
        assert community in nodes
        assert comp[community] == comp[node], (node, community)
    n_comm = len(set(lpa.values()))
    assert 1 < n_comm < len(nodes)


def test_removal_plan_coverage_laws(spark, sf_dir):
    """Interval-union laws against the position stats: a doc with no
    duplicated positions covers 0 words; a doc with d >= 1 duplicated
    positions covers between k (one position) and min(n_words, k*d)
    (disjoint positions) words; and the removal fraction is the exact
    covered/n_words ratio."""
    stats = {
        row["doc_id"]: row["dup_shingles"]
        for row in text_ext.text_substring_dedup_q(spark, sf_dir).collect()
    }
    plan = text_ext.text_substring_removal_plan_q(spark, sf_dir).collect()
    assert {row["doc_id"] for row in plan} == set(stats)
    k = text_ext.SUBSTR_K
    for row in plan:
        d = stats[row["doc_id"]]
        c = row["covered_words"]
        if d == 0:
            assert c == 0
        else:
            assert k <= c <= min(row["n_words"], k * d)
        assert row["removal_frac"] == round(c / row["n_words"], 6)
    assert any(row["covered_words"] > 0 for row in plan)
    assert any(row["covered_words"] == 0 for row in plan)


def test_removal_plan_full_duplicate_covers_everything(spark):
    """Two identical docs: every word sits in a duplicated 8-gram, so
    coverage is total and removal_frac is exactly 1.0; a unique doc in
    the same corpus covers nothing."""
    from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
        substring_dup_coverage,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "ten fresh words nothing shared with any other doc here")],
        "doc_id long, text string",
    )
    out = {row["doc_id"]: row for row in substring_dup_coverage(df).collect()}
    assert out[1]["covered_words"] == out[1]["n_words"] == 10
    assert out[1]["removal_frac"] == 1.0
    assert out[2]["removal_frac"] == 1.0
    assert out[3]["covered_words"] == 0 and out[3]["removal_frac"] == 0.0


def test_holt_winters_plan_two_shuffles_no_join(spark, sf_dir):
    """100 TB posture: the whole recursion folds inside the per-type
    array — the executed plan carries exactly the two keyed
    aggregations (daily rollup, per-type collect) and NO join."""
    import re

    plan = _plan(events_ext.events_holt_winters_q(spark, sf_dir))
    # upper bound, not ==: AQE/upgrade Exchange coalescing must not
    # redden this; the load-bearing claim is "no third shuffle, no join"
    assert plan.count("Exchange") <= 2
    assert not re.findall(r"\w*Join\w*", plan)


def test_lpa_plan_equi_joins_only(spark, sf_dir):
    """Both propagation rounds are equi joins on the dst key — no
    cartesian or nested-loop fallback at any scale."""
    plan = _plan(graph.graph_label_propagation_q(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_removal_plan_plan_shape(spark, sf_dir):
    """Same shuffle contract as the stats query: the raw shingle string
    never rides a shuffle, no nested-loop/cartesian joins, documents
    scan pruned to (doc_id, text)."""
    import re

    plan = _plan(text_ext.text_substring_removal_plan_q(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "shingle" not in m.group(1)
    scan = plan[plan.index("Scan parquet") :]
    read_cols = re.match(r"Scan parquet \[([^\]]*)\]", scan).group(1).split(",")
    assert sorted(c.split("#")[0] for c in read_cols if c) == ["doc_id", "text"]


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
