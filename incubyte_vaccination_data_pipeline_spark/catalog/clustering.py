"""Embedding clustering: deterministic Lloyd's k-means over the
``embeddings`` table — the domain-clustering / corpus-mixture operator
(cluster-then-sample is how large pretraining corpora balance topical
coverage).

Determinism strategy (same family as ``graph_pagerank_customer_supplier``):
every float component is quantized once to integer micro-units
(``floor(x * 2^20)`` — exact in double for |x| ≤ ~2000), after which
**all** distances, argmins and centroid updates are integer
arithmetic whose results are order-independent, so DuckDB can restate
the unrolled iterations and both engines agree bit-for-bit (a float
version could never hash-match across engines). Centroid means use
``floor(sum/count)`` computed in double — exact while ``|sum| < 2^53``
(10⁹ vectors × 2²¹ quantized magnitude still fits).

Plan shape (per iteration):
- assignment: quantized components (``posexplode`` once) equi-joined
  to the 8×64-row centroid frame **on the component index** — the
  centroid side is broadcast, so the K-way distance evaluation is
  map-side with partial aggregation; the per-(vector, cluster)
  distance reduce is the one keyed shuffle, argmin is ``min_by``.
- update: per-(cluster, component) integer mean — a second keyed
  shuffle over n×64 rows.
Init is data-deterministic: clusters seed from the K lowest
``vec_id`` embeddings. Two Lloyd iterations are unrolled; the output
is per-cluster size, quantized inertia, and a centroid checksum.

100 TB posture: cost is the canonical k-means n·K·d per iteration,
all map-side behind broadcast; shuffles are keyed reduces that AQE
sizes. No driver-side collect anywhere — centroids live in a
DataFrame end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.catalog.registry import query
from incubyte_vaccination_data_pipeline_spark.plans.checkpoints import (
    durable_checkpoint,
)
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

_K = 8
_SCALE = 1 << 20  # quantization: floor(x * 2^20), exact in double


def _assign(qcomp: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest centroid per vector: broadcast the centroid component
    frame, join on component index, reduce squared distance per
    (vec_id, cluster), argmin via min_by with cluster-id tie-break."""
    d = (
        qcomp.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "cluster")
        .agg(F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))).alias("d"))
    )
    # min_by with deterministic tie-break: pack (d, cluster) into a
    # struct and take the minimum — struct ordering is lexicographic
    best = d.groupBy("vec_id").agg(
        F.min(F.struct("d", "cluster")).alias("m")
    )
    return best.select(
        "vec_id", F.col("m.cluster").alias("cluster"), F.col("m.d").alias("d")
    )


def _update(qcomp: DataFrame, assign: DataFrame) -> DataFrame:
    """New centroids: component-wise floor-mean of each cluster's
    members (exact integer result via double floor)."""
    return (
        qcomp.join(assign.select("vec_id", "cluster"), "vec_id")
        .groupBy("cluster", "pos")
        .agg(
            F.floor(
                F.sum("q").cast("double") / F.count(F.lit(1))
            ).cast("bigint").alias("c")
        )
    )


_ORACLE = f"""
    WITH qcomp AS (
        SELECT vec_id, i.i AS pos,
               CAST(floor(embedding[i.i] * {_SCALE}) AS BIGINT) AS q
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS i) i
    ),
    cent0 AS (
        SELECT vec_id AS cluster, pos, q AS c FROM qcomp WHERE vec_id < {_K}
    ),
    d1 AS (
        SELECT v.vec_id, c.cluster,
               SUM((v.q - c.c) * (v.q - c.c)) AS d
        FROM qcomp v JOIN cent0 c ON v.pos = c.pos
        GROUP BY v.vec_id, c.cluster
    ),
    a1 AS (
        SELECT vec_id, cluster, d FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY d, cluster) AS rn
            FROM d1) WHERE rn = 1
    ),
    cent1 AS (
        SELECT a.cluster, v.pos,
               CAST(floor(CAST(SUM(v.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        FROM qcomp v JOIN a1 a ON v.vec_id = a.vec_id
        GROUP BY a.cluster, v.pos
    ),
    d2 AS (
        SELECT v.vec_id, c.cluster,
               SUM((v.q - c.c) * (v.q - c.c)) AS d
        FROM qcomp v JOIN cent1 c ON v.pos = c.pos
        GROUP BY v.vec_id, c.cluster
    ),
    a2 AS (
        SELECT vec_id, cluster, d FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY d, cluster) AS rn
            FROM d2) WHERE rn = 1
    ),
    cent2 AS (
        SELECT a.cluster, v.pos,
               CAST(floor(CAST(SUM(v.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        FROM qcomp v JOIN a2 a ON v.vec_id = a.vec_id
        GROUP BY a.cluster, v.pos
    )
    SELECT a.cluster,
           COUNT(*) AS n_members,
           CAST(SUM(a.d) AS BIGINT) AS inertia_q,
           CAST(MAX(cs.checksum) AS BIGINT) AS centroid_checksum
    FROM a2 a
    JOIN (SELECT cluster, SUM(c) AS checksum FROM cent2 GROUP BY cluster) cs
      ON a.cluster = cs.cluster
    GROUP BY a.cluster
"""


@query("kmeans_embeddings_lloyd", oracle=_ORACLE)
def kmeans_embeddings_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations in exact quantized-integer
    arithmetic; returns per-cluster size, inertia, and a centroid
    checksum (8 rows)."""
    emb = read_table(spark, sf_dir, "embeddings")
    qcomp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x").cast("double") * _SCALE).cast("bigint").alias("q"),
    )
    # the quantized long-form frame feeds 2 assignments + 2 updates;
    # persist the ~n*64-row intermediate so the unrolled iterations
    # don't re-scan and re-explode the source each time
    qcomp = durable_checkpoint(qcomp, eager=False)

    cent0 = qcomp.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cluster"), "pos", F.col("q").alias("c")
    )
    a1 = _assign(qcomp, cent0)
    cent1 = _update(qcomp, a1)
    a2 = _assign(qcomp, cent1)
    cent2 = _update(qcomp, a2)

    checksums = cent2.groupBy("cluster").agg(F.sum("c").alias("checksum"))
    return (
        a2.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"), F.sum("d").alias("inertia_q"))
        .join(checksums, "cluster")
        .select(
            "cluster",
            "n_members",
            "inertia_q",
            F.col("checksum").alias("centroid_checksum"),
        )
    )


# --- PCA power iteration -------------------------------------------------
#
# Dominant principal component of the (mean-centered, quantized)
# embedding matrix via two power-method iterations v -> X^T (X v),
# entirely in BIGINT arithmetic so both engines agree bit-for-bit.
#
# Exact floor division that matches across engines: Spark's `div` and
# DuckDB's `//` disagree on negative operands (trunc vs floor), so we
# use fdiv(a, b) = (a - pmod(a, b)) / b with pmod = ((a % b) + b) % b —
# `%` has identical C semantics in both engines and the subtraction
# makes the division exact.
#
# Magnitude budget (sf0.1: n = 5000, d = 64): centered q ≤ 2^22,
# v normalized to ±2^10 ⇒ w = Σ_d cq·v ≤ 2^38, rescaled by 2^18 to
# ≤ 2^20 ⇒ v' = Σ_n cq·w' ≤ n·2^42 ≈ 2^54 < 2^63 worst-case (the
# realistic bound is far lower — random-sign terms cancel to ~√n·typ).
# The normalize step computes v·2^10 before dividing, so the loud
# (ANSI / DuckDB overflow error, never silent corruption) ceiling is
# |v| < 2^53; at larger n grow the 2^18 rescale shift with log2(n) —
# the arithmetic stays BIGINT-exact, only the constant changes.

_V_SCALE = 1024          # eigenvector components normalized to ±2^10
_W_SHIFT = 262144        # 2^18 rescale between the two half-steps


def _fdiv(a: str, b: str) -> str:
    return f"(({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) / ({b})"


_PCA_ORACLE = f"""
    WITH qcomp AS (
        SELECT vec_id, i.i AS pos,
               CAST(floor(embedding[i.i] * {_SCALE}) AS BIGINT) AS q
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS i) i
    ),
    centered AS (
        SELECT vec_id, pos,
               q - CAST(floor(CAST(SUM(q) OVER (PARTITION BY pos) AS DOUBLE)
                              / COUNT(*) OVER (PARTITION BY pos)) AS BIGINT)
                   AS cq
        FROM qcomp
    ),
    v0 AS (SELECT DISTINCT pos, CAST({_V_SCALE} AS BIGINT) AS v FROM centered),
    w1 AS (
        SELECT c.vec_id,
               CAST({_fdiv("SUM(c.cq * v.v)", str(_W_SHIFT))} AS BIGINT) AS w
        FROM centered c JOIN v0 v ON c.pos = v.pos
        GROUP BY c.vec_id
    ),
    v1 AS (
        SELECT c.pos, CAST(SUM(c.cq * w.w) AS BIGINT) AS v
        FROM centered c JOIN w1 w ON c.vec_id = w.vec_id
        GROUP BY c.pos
    ),
    v1n AS (
        SELECT pos,
               CAST({_fdiv(f"v * {_V_SCALE}", "(SELECT MAX(ABS(v)) FROM v1)")}
                    AS BIGINT) AS v
        FROM v1
    ),
    w2 AS (
        SELECT c.vec_id,
               CAST({_fdiv("SUM(c.cq * v.v)", str(_W_SHIFT))} AS BIGINT) AS w
        FROM centered c JOIN v1n v ON c.pos = v.pos
        GROUP BY c.vec_id
    ),
    v2 AS (
        SELECT c.pos, CAST(SUM(c.cq * w.w) AS BIGINT) AS v
        FROM centered c JOIN w2 w ON c.vec_id = w.vec_id
        GROUP BY c.pos
    )
    SELECT pos,
           CAST({_fdiv(f"v * {_V_SCALE}", "(SELECT MAX(ABS(v)) FROM v2)")}
                AS BIGINT) AS component
    FROM v2
"""


@query("embedding_pca_power_iteration", oracle=_PCA_ORACLE)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power-method iterations ``v → Xᵀ(Xv)`` toward the dominant
    principal component of the mean-centered quantized embeddings —
    the whitening / dimensionality-analysis primitive, exact in
    BIGINT so DuckDB restates it bit-for-bit. (Convergence rate is
    λ2/λ1 per iteration — production runs more iterations, each the
    same two-join half-step pair; the iteration count here is pinned
    so the oracle can unroll it. `tests/test_semantics.py` checks the
    result against a float numpy reference of the same iterations and
    that the Rayleigh quotient increases.)

    Plan shape per half-step: one equi-join against a tiny broadcast
    frame (the 64-row ``v`` or the per-vector ``w``) + one keyed
    aggregate — never a d×d covariance materialization (that is the
    n·d² trap; the matrix-free form is n·d per iteration). The
    centered component frame is checkpointed once and feeds all four
    half-steps. Returns the 64 normalized eigenvector components.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    qcomp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x").cast("double") * _SCALE).cast("bigint").alias("q"),
    )
    wpos = Window.partitionBy("pos")
    centered = durable_checkpoint(
        qcomp.select(
            "vec_id",
            "pos",
            (
                F.col("q")
                - F.floor(
                    F.sum("q").over(wpos).cast("double") / F.count(F.lit(1)).over(wpos)
                ).cast("bigint")
            ).alias("cq"),
        ),
        eager=False,
    )

    def half_down(v: DataFrame) -> DataFrame:
        """w = fdiv(Σ_pos cq·v, 2^18) per vector (v is ≤64 rows)."""
        return (
            centered.join(F.broadcast(v), "pos")
            .groupBy("vec_id")
            .agg(F.sum(F.col("cq") * F.col("v")).alias("s"))
            .select(
                "vec_id",
                F.expr(_fdiv("s", str(_W_SHIFT))).cast("bigint").alias("w"),
            )
        )

    def half_up(w: DataFrame) -> DataFrame:
        """v' = Σ_vec cq·w per component."""
        return (
            centered.join(w, "vec_id")
            .groupBy("pos")
            .agg(F.sum(F.col("cq") * F.col("w")).cast("bigint").alias("v"))
        )

    def normalize(v: DataFrame) -> DataFrame:
        vmax = v.agg(F.max(F.abs(F.col("v"))).alias("vmax"))
        return (
            v.join(F.broadcast(vmax))
            .select(
                "pos",
                F.expr(_fdiv(f"v * {_V_SCALE}", "vmax")).cast("bigint").alias("v"),
            )
        )

    v0 = centered.select("pos").distinct().select(
        "pos", F.lit(_V_SCALE).cast("bigint").alias("v")
    )
    v1n = normalize(half_up(half_down(v0)))
    v2 = half_up(half_down(v1n))
    return normalize(v2).select("pos", F.col("v").alias("component"))
