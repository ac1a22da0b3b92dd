"""Distributed graph metrics over edge-list DataFrames.

``triangle_counts`` implements the canonical scalable triangle
enumeration: orient every undirected edge from its lower to its higher
endpoint under the (degree, id) total order, generate wedges only from
each node's OUT-neighbors, and close them against the canonical edge
set. Degree ordering bounds every out-degree by O(sqrt(m)), so wedge
volume is O(m^1.5) worst case (vs O(sum deg^2) for naive wedge
generation, which a power-law hub makes quadratic) — the shape that
survives a 100 TB co-occurrence graph. Every step is a keyed
equi-join or aggregate; nothing is collected.

Reference parity: the reference has no graph tooling; this extends
the engine's graph family (PageRank, label propagation) with the
standard clustering/cohesion primitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.plans.checkpoints import (
    durable_checkpoint,
)


def triangle_counts(
    edges: DataFrame, u_col: str = "lo", v_col: str = "hi"
) -> DataFrame:
    """Per-node triangle participation counts over an undirected
    simple graph given as an edge list. Edges are canonicalized
    defensively (least/greatest before distinct), so reversed or
    bidirectional input rows collapse to one undirected edge instead
    of silently doubling degrees and breaking wedge closure — the
    caller does NOT have to pre-sort endpoints. Self-loops (u == v)
    are dropped (a loop is not an edge of a simple graph and would
    otherwise close spurious "triangles" through itself). Returns
    (node, n_triangles) for every node in at least one triangle; each
    triangle contributes 1 to each of its three corners (so
    sum(n_triangles) = 3 x #triangles).

    Uniqueness: a triangle is emitted exactly once, at its minimum
    corner under the (degree, node-id) order — both wedge arms point
    "up" the order, and the closing edge is checked against the
    canonical (u < v by id) set, so orientation of the third edge is
    irrelevant."""
    # lineage discipline (the graph_triangle_count precedent): pairs
    # is referenced three times (degree build, wedge closure, via
    # oriented) and oriented twice (both wedge arms) — without the
    # lazy checkpoints Spark re-derives the distinct + degree joins
    # per self-join branch, multiplying the most expensive upstream
    # aggregation for any caller whose edge frame isn't already
    # materialized
    pairs = durable_checkpoint(
        edges.select(
            F.least(F.col(u_col), F.col(v_col)).alias("lo"),
            F.greatest(F.col(u_col), F.col(v_col)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct(),
        eager=False,
    )
    deg = (
        pairs.select(F.col("lo").alias("node"))
        .unionAll(pairs.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    up = (F.col("dl") < F.col("dh")) | (
        (F.col("dl") == F.col("dh")) & (F.col("lo") < F.col("hi"))
    )
    oriented = durable_checkpoint(
        pairs.join(deg.select(F.col("node").alias("lo"), F.col("d").alias("dl")), "lo")
        .join(deg.select(F.col("node").alias("hi"), F.col("d").alias("dh")), "hi")
        .select(
            F.when(up, F.col("lo")).otherwise(F.col("hi")).alias("src"),
            F.when(up, F.col("hi")).otherwise(F.col("lo")).alias("dst"),
        ),
        eager=False,
    )
    e1 = oriented.select("src", F.col("dst").alias("b"))
    e2 = oriented.select("src", F.col("dst").alias("c"))
    # wedge arms ordered by id so each unordered out-pair appears once;
    # the closing edge is looked up in canonical id order, which is
    # exactly (least, greatest) of (b, c)
    wedges = (
        e1.join(e2, "src")
        .filter(F.col("b") < F.col("c"))
        .select(
            "src", F.col("b").alias("lo"), F.col("c").alias("hi")
        )
    )
    tri = wedges.join(pairs, ["lo", "hi"])
    corners = (
        tri.select(F.col("src").alias("node"))
        .unionAll(tri.select(F.col("lo").alias("node")))
        .unionAll(tri.select(F.col("hi").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def kcore(
    edges: DataFrame,
    k: int,
    u_col: str = "lo",
    v_col: str = "hi",
    max_rounds: int | None = None,
) -> DataFrame:
    """The k-core of an undirected simple graph: iteratively peel
    nodes of degree < ``k`` until none remain (the standard density
    decomposition — a node survives iff it has >= k neighbors that
    ALSO survive; the cohesion primitive between connected components
    (k=1) and cliques). Returns (node, degree) over the surviving
    subgraph, degree computed AFTER the final peel.

    ``max_rounds=None`` runs to the fixpoint: each round is one
    degree aggregate + one semi-join on each endpoint, lineage
    truncated per round with ``durable_checkpoint`` (reliable
    checkpoint on clusters — the ``duplicate_clusters`` loop
    discipline), driver work bounded to one edge-count per round. A
    fixed ``max_rounds=m`` leaves the plan fully lazy (no counts, no
    checkpoints) — m peels are an UPPER approximation of the core
    (supersets it); the catalog pins a small m so its DuckDB oracle
    is a fixed CTE pipeline, exactly the LPA_ROUNDS precedent.

    Edges are canonicalized defensively like :func:`triangle_counts`
    (least/greatest, self-loops dropped, distinct).

    Scale: every round is keyed aggregates and equi-joins; the edge
    frame only shrinks. Peel-round count on real graphs is small
    (O(log n) typical); a 100 TB co-occurrence graph runs the
    fixpoint path with the checkpoint dir set.
    """
    cur = (
        edges.select(
            F.least(F.col(u_col), F.col(v_col)).alias("lo"),
            F.greatest(F.col(u_col), F.col(v_col)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )

    def _degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("lo").alias("node"))
            .unionAll(e.select(F.col("hi").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    def _peel(e: DataFrame) -> DataFrame:
        keep = _degrees(e).filter(F.col("degree") >= k).select("node")
        return e.join(
            keep.select(F.col("node").alias("lo")), "lo", "left_semi"
        ).join(keep.select(F.col("node").alias("hi")), "hi", "left_semi")

    if max_rounds is not None:
        for _ in range(max_rounds):
            cur = _peel(cur)
        return _degrees(cur)

    cur = durable_checkpoint(cur)
    n = cur.count()
    while True:
        nxt = durable_checkpoint(_peel(cur))
        m = nxt.count()
        if m == n:
            return _degrees(nxt)
        cur, n = nxt, m
