"""Semantic pins for relational, sampling and drift queries
(``catalog/relational``, ``catalog/relational_ext``,
``catalog/quality``) that the DuckDB oracle sweep (tests/test_oracle.py)
cannot state: sketch bounds, hand-computed fixtures, randomized
reference checks and plan shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark import catalog
from incubyte_vaccination_data_pipeline_spark.catalog import (
    quality,
    relational,
    relational_ext,
)
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table


def test_cms_bound_and_psi_semantics(spark, sf_dir):
    """CM estimates must dominate true counts on every reported row;
    PSI must be positive for the drifted status column (the mutation
    moves ~1% of statuses to 'X') and ~0 for the untouched price."""
    cms = relational.agg_heavy_hitters_cms(spark, sf_dir).collect()
    assert len(cms) > 0 and all(r["bound_holds"] for r in cms)
    assert all(r["cm_estimate"] >= r["true_n"] for r in cms)

    psi = {r["col"]: r for r in
           quality.quality_psi_drift_orders(spark, sf_dir).collect()}
    assert psi["o_orderstatus"]["psi"] > 0.0005, "status drift must register"
    # price distribution is untouched by the mutation (only keys drop /
    # duplicate) — PSI stays near zero
    assert abs(psi["o_totalprice"]["psi"]) < 0.01


def test_rfm_quartiles_sum_and_champions(spark, sf_dir):
    """NTILE(4) buckets are balanced (sizes differ by <=1) and the
    champion rule matches a recomputation from the output scores."""
    fn = catalog.QUERIES["orders_rfm_segmentation"]
    rows = fn(spark, sf_dir).collect()
    from collections import Counter

    for col in ("r_score", "f_score", "m_score"):
        sizes = Counter(r[col] for r in rows)
        assert set(sizes) == {1, 2, 3, 4}
        assert max(sizes.values()) - min(sizes.values()) <= 1
    for r in rows:
        want = (
            "champion" if r["r_score"] == 4 and r["f_score"] == 4
            else "recent" if r["r_score"] == 4
            else "loyal" if r["f_score"] == 4
            else "lost" if r["r_score"] == 1 and r["f_score"] == 1
            else "regular"
        )
        assert r["segment"] == want


def test_cohort_ltv_hand_computed(spark, seed_table, tmp_path):
    """Two customers: one acquired in Q1 with two orders, one in Q3
    with one order — cohort totals and per-customer LTV by hand."""
    import datetime as dt

    rows = [
        (1, 10, dt.date(2020, 2, 1), 100.0),
        (2, 10, dt.date(2020, 8, 1), 50.0),   # later order, same Q1 cohort
        (3, 20, dt.date(2020, 2, 2), 30.0),   # second Q1 customer
        (4, 30, dt.date(2020, 7, 1), 40.0),   # Q3 cohort
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderdate date,"
        " o_totalprice double",
    )
    seed_table(str(tmp_path), "orders", orders)
    fn = catalog.QUERIES["orders_cohort_ltv"]
    out = {r["cohort_q"]: r for r in fn(spark, str(tmp_path)).collect()}
    q1, q3 = dt.date(2020, 1, 1), dt.date(2020, 7, 1)
    assert out[q1]["n_customers"] == 2 and out[q1]["n_orders"] == 3
    assert out[q1]["total_value"] == 180.0  # 100 + 50 + 30
    assert out[q1]["ltv_per_customer"] == 90.0
    assert out[q3]["n_customers"] == 1 and out[q3]["total_value"] == 40.0


def test_kcenter_radius_monotone_and_distinct(spark, sf_dir):
    """k-center's defining property: the selection radius (max-min
    distance) is non-increasing round over round, centers are distinct,
    and rank 0 is the min-id seed with radius 0."""
    rows = sorted(
        (r["center_rank"], r["vec_id"], r["min_dist2"])
        for r in catalog.QUERIES["sample_kcenter_coreset"](spark, sf_dir).collect()
    )
    assert len(rows) == relational_ext.KCENTER_K
    assert rows[0][0] == 0 and rows[0][2] == 0.0
    min_id = read_table(spark, sf_dir, "embeddings").agg(
        F.min("vec_id")
    ).first()[0]
    assert rows[0][1] == min_id
    ids = [r[1] for r in rows]
    assert len(set(ids)) == len(ids)
    radii = [r[2] for r in rows[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:])), radii
    assert radii[-1] > 0


def test_kcenter_fuzz_vs_numpy_reference(spark):
    """Randomized cross-check of kcenter_coreset against an independent
    numpy greedy farthest-first implementation: selected ids, order,
    and radii (to 1e-9) must match on random float32 corpora — the
    float-fold determinism claim, pinned against a third
    implementation (the DuckDB oracle being the second)."""
    import numpy as np

    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        kcenter_coreset,
    )

    for seed in (3, 41):
        rng = np.random.default_rng(seed)
        n, dims, k = 60, 8, 5
        vecs = rng.standard_normal((n, dims)).astype(np.float32)
        ids = list(range(100, 100 + n))

        # reference: float64 greedy farthest-first, min-id seed,
        # lowest-id tie-break
        v64 = vecs.astype(np.float64)
        chosen = [0]  # index of min id (ids ascending)
        mind = ((v64 - v64[0]) ** 2).sum(axis=1)
        expected = [(0, ids[0], 0.0)]
        for r in range(1, k):
            mind[chosen] = -1.0  # exclude already-chosen
            best = int(np.argmax(mind))  # first max = lowest index/id
            expected.append((r, ids[best], float(mind[best])))
            chosen.append(best)
            mind = np.minimum(mind, ((v64 - v64[best]) ** 2).sum(axis=1))

        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in zip(ids, vecs)],
            "vec_id bigint, embedding array<float>",
        )
        got = kcenter_coreset(df, k=k)
        assert [(r, i) for r, i, _ in got] == [(r, i) for r, i, _ in expected], (
            seed,
            got,
            expected,
        )
        for (_, _, gd), (_, _, ed) in zip(got, expected):
            assert abs(gd - ed) < 1e-9, (seed, gd, ed)


def test_kcenter_guard_paths(spark):
    """ADVICE r8: empty input raises a clear ValueError (not a bare
    IndexError from an empty collect); k exceeding the distinct-row
    count returns every row as a center instead of raising."""
    import pytest as _pytest

    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        kcenter_coreset,
    )

    schema = "vec_id bigint, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    with _pytest.raises(ValueError, match="empty"):
        kcenter_coreset(empty, k=3)

    three = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])], schema
    )
    centers = kcenter_coreset(three, k=8)
    assert [c[1] for c in centers[:1]] == [1]  # min-id seed
    assert sorted(c[1] for c in centers) == [1, 2, 3]
    assert len(centers) == 3  # stopped at the distinct-row count


def test_interval_overlap_sweep_plan_shape(spark, sf_dir):
    """The sweep's whole claim: ONE lineitem scan, ONE keyed window,
    NO join anywhere (the enumeration path is output-bound; the count
    is not). Cross-algorithm value equality vs the O(n^2) join oracle
    is covered by the parametrized oracle test."""
    plan = catalog.QUERIES["join_interval_overlap"](
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, "events must come from one scan"
    assert "Join" not in plan, "the sweep must not enumerate pairs"
    assert "CartesianProduct" not in plan


def test_interval_overlap_fuzz_vs_bruteforce(spark):
    """Randomized sweep-vs-bruteforce: per-key unordered overlapping
    pair counts on random integer intervals must equal the O(n^2)
    Python count, including duplicate intervals, touching endpoints
    (inclusive overlap), and keys with zero overlaps (omitted)."""
    import itertools
    import random

    from incubyte_vaccination_data_pipeline_spark.catalog.relational import (
        _sweep_overlap_counts,
    )

    for seed in (5, 99):
        rng = random.Random(seed)
        rows = []
        for key in range(6):
            for _ in range(rng.randrange(0, 25)):
                s = rng.randrange(0, 60)
                rows.append((key, s, s + rng.randrange(0, 8)))
        expected = {}
        for key in range(6):
            ivs = [(s, r) for k, s, r in rows if k == key]
            n = sum(
                1
                for (s1, r1), (s2, r2) in itertools.combinations(ivs, 2)
                if s1 <= r2 and s2 <= r1
            )
            if n:
                expected[key] = n
        import datetime as dt

        base = dt.date(2024, 1, 1)
        df = spark.createDataFrame(
            [
                (k, base + dt.timedelta(days=s), base + dt.timedelta(days=r))
                for k, s, r in rows
            ],
            "k bigint, s date, r date",
        )
        got = {
            row["suppkey"]: row["n_overlapping_pairs"]
            for row in _sweep_overlap_counts(df, key_col="k").collect()
        }
        assert got == expected, (seed, got, expected)


def test_stratified_exact_budgets(spark, sf_dir):
    """Per-stratum counts are EXACTLY ceil(frac x stratum size) —
    computed independently from the raw table — and the sample is
    deterministic across runs (content-hash order)."""
    import math

    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )

    sizes = {
        r["lang"]: r["count"]
        for r in read_table(spark, sf_dir, "documents")
        .groupBy("lang").count().collect()
    }
    rows = relational_ext.sample_stratified_exact_q(spark, sf_dir).collect()
    got = {}
    for r in rows:
        got[r["lang"]] = got.get(r["lang"], 0) + 1
        assert 1 <= r["rn"] <= math.ceil(relational_ext.STRAT_FRAC * sizes[r["lang"]])
    assert got == {
        lang: math.ceil(relational_ext.STRAT_FRAC * n) for lang, n in sizes.items()
    }
    again = {(r["doc_id"], r["rn"]) for r in
             relational_ext.sample_stratified_exact_q(spark, sf_dir).collect()}
    assert again == {(r["doc_id"], r["rn"]) for r in rows}
