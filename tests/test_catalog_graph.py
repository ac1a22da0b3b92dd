"""Semantic pins for graph queries (``catalog/graph``) that the DuckDB
oracle sweep (tests/test_oracle.py) cannot state: triangle-count laws on
planted graphs, k-core fixpoint subsets, label-propagation laws, and
plan shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark import catalog
from incubyte_vaccination_data_pipeline_spark.catalog import graph


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_triangle_counts_planted_graph(spark):
    """Planted structure: K4 on {1,2,3,4} (four triangles — each node
    in exactly 3), one pendant edge (5 in no triangle, absent from the
    result), and a disjoint K3 {6,7,8} (each node in exactly 1). Also
    pins the global law sum(n_triangles) == 3 x #triangles."""
    from incubyte_vaccination_data_pipeline_spark.operators.graph_metrics import (
        triangle_counts,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(
        k4 + [(4, 5), (6, 7), (6, 8), (7, 8)], "lo int, hi int"
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 6: 1, 7: 1, 8: 1}
    assert sum(got.values()) == 3 * 5  # 4 triangles in K4 + 1 in K3


def test_triangle_counts_duplicate_edges_ignored(spark):
    """The edge set is distinct-ed: multi-edges (a part pair sharing
    several orders) must not inflate counts."""
    from incubyte_vaccination_data_pipeline_spark.operators.graph_metrics import (
        triangle_counts,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (1, 3), (1, 3)], "lo int, hi int"
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_counts_canonicalizes_reversed_edges(spark):
    """Defensive canonicalization (least/greatest before distinct): a
    reversed row, a bidirectional pair, and a self-loop must collapse
    to the same K3 as the canonical edge list — not double degrees,
    break wedge closure, or close a 'triangle' through a loop."""
    from incubyte_vaccination_data_pipeline_spark.operators.graph_metrics import (
        triangle_counts,
    )

    edges = spark.createDataFrame(
        # K3 with (2,1) reversed, (1,3)+(3,1) bidirectional, (2,2) loop
        [(2, 1), (2, 3), (1, 3), (3, 1), (2, 2)],
        "lo int, hi int",
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_plan_equi_joins_only(spark, sf_dir):
    """Wedge generation and closure are equi-joins on src / (lo, hi)
    — no cartesian or broadcast-NLJ fallback at any scale."""
    df = graph.graph_triangle_per_node_q(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_per_node_triangles_sum_to_three_times_global(spark, sf_dir):
    """The cross-query law binding the per-node decomposition
    to the global count over the SAME shared edge frame:
    every triangle has exactly three corners."""
    per_node = graph.graph_triangle_per_node_q(spark, sf_dir)
    total = sum(r["n_triangles"] for r in per_node.collect())
    global_row = catalog.QUERIES["graph_triangle_count"](
        spark, sf_dir
    ).collect()[0]
    assert total == 3 * global_row["n_triangles"]


def test_kcore_planted_graph_and_fixpoint_subset(spark, sf_dir):
    """Planted: K4 plus a tail 4-5-6 hanging off node 4. The 3-core
    is exactly K4 (each node degree 3); the tail peels in two rounds
    (6 first, then 5... actually 5 and 6 both drop round 1 — degrees
    1 and 2 < 3 — and 4's degree falls to 3, staying). Fixed-round
    peel must SUPERSET the fixpoint core on the shared co-purchase
    graph (the upper-approximation law), and reversed/duplicate/loop
    edges canonicalize like triangle_counts."""
    from incubyte_vaccination_data_pipeline_spark.catalog.graph import (
        _copurchase_pairs,
    )
    from incubyte_vaccination_data_pipeline_spark.operators.graph_metrics import (
        kcore,
    )
    from pyspark.sql import functions as F

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(
        k4 + [(5, 4), (5, 6), (2, 1), (3, 3)],  # reversed dup + loop
        "lo int, hi int",
    )
    got = {r["node"]: r["degree"] for r in kcore(edges, 3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # fixed-round approximation supersets the fixpoint on real data
    real = _copurchase_pairs(spark, sf_dir).select(
        F.col("pa").alias("lo"), F.col("pb").alias("hi")
    )
    fixed = {r["node"] for r in kcore(real, graph.KCORE_K,
                                      max_rounds=graph.KCORE_ROUNDS).collect()}
    fix = {r["node"] for r in kcore(real, graph.KCORE_K).collect()}
    assert fix <= fixed
    assert fix, "fixpoint core empty at test SF"


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


def test_lpa_plan_equi_joins_only(spark, sf_dir):
    """Both propagation rounds are equi joins on the dst key — no
    cartesian or nested-loop fallback at any scale."""
    plan = _plan(graph.graph_label_propagation_q(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
