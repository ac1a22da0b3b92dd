"""Warehouse reconciliation + integrity checks.

``snapshot_diff_orders`` is the table-diff/CDC-reconciliation
operator: given two snapshots of the same keyed table, classify every
key as added / removed / changed (with the changed column set) —
what a pipeline runs after a backfill or a replicated load to prove
the copy. The "new" snapshot is derived deterministically from the
testdata (no extra inputs): some keys flip status, some are deleted,
some appear with new ids, so every branch is exercised and both
engines can restate the same derivation.

``integrity_check_star_schema`` is the Deequ-style referential
integrity suite: one row per foreign-key edge of the star schema with
its orphan count (anti-join semantics) plus key-uniqueness checks —
all as map-side-combinable aggregates over equi-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.catalog.registry import query
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

#: deterministic snapshot mutation rates (modulus chosen so each
#: class is non-empty at every sf and both engines derive identically)
_CHANGE_MOD = 97
_DELETE_MOD = 101
_ADD_MOD = 103
_ADD_OFFSET = 3_000_000


_NEW_SNAPSHOT_SQL = f"""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % {_CHANGE_MOD} = 0 THEN 'X'
                ELSE o_orderstatus END AS o_orderstatus,
           o_totalprice
    FROM orders
    WHERE o_orderkey % {_DELETE_MOD} <> 0
    UNION ALL
    SELECT o_orderkey + {_ADD_OFFSET}, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % {_ADD_MOD} = 0
"""


def _new_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministically mutated second snapshot (Spark side of
    ``_NEW_SNAPSHOT_SQL``) — shared by the keyed diff and the PSI
    drift monitor (``quality_psi_drift_orders``)."""
    base = read_table(spark, sf_dir, "orders")
    kept = base.filter(F.col("o_orderkey") % _DELETE_MOD != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % _CHANGE_MOD == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    added = base.filter(F.col("o_orderkey") % _ADD_MOD == 0).select(
        (F.col("o_orderkey") + _ADD_OFFSET).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    return kept.unionByName(added)


@query(
    "snapshot_diff_orders",
    oracle=f"""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    new AS ({_NEW_SNAPSHOT_SQL})
    SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_kind,
           old.o_orderstatus AS old_status,
           new.o_orderstatus AS new_status
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE old.o_orderkey IS NULL
       OR new.o_orderkey IS NULL
       OR old.o_orderstatus <> new.o_orderstatus
       OR old.o_totalprice <> new.o_totalprice
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed table diff between two snapshots: added / removed /
    changed rows only (unchanged keys drop out). One full-outer
    equi-join on the key — the single-shuffle reconciliation shape
    that scales to any pair of co-partitioned snapshots; with both
    sides bucketed on the key (``write_bucketed_warehouse``) the
    exchange disappears entirely."""
    old = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = _new_snapshot(spark, sf_dir)
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    ok, nk = F.col("o.o_orderkey"), F.col("n.o_orderkey")
    kind = (
        F.when(ok.isNull(), F.lit("added"))
        .when(nk.isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return joined.filter(
        ok.isNull()
        | nk.isNull()
        | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus"))
        | (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
    ).select(
        F.coalesce(ok, nk).alias("o_orderkey"),
        kind.alias("change_kind"),
        F.col("o.o_orderstatus").alias("old_status"),
        F.col("n.o_orderstatus").alias("new_status"),
    )


#: (name, child table, child key, parent table, parent key)
_FK_EDGES = [
    ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]

_PK_CHECKS = [
    ("customer.custkey unique", "customer", "c_custkey"),
    ("orders.orderkey unique", "orders", "o_orderkey"),
    ("part.partkey unique", "part", "p_partkey"),
    ("supplier.suppkey unique", "supplier", "s_suppkey"),
]


def _integrity_oracle() -> str:
    parts = []
    for name, child, ck, parent, pk in _FK_EDGES:
        parts.append(
            f"""
            SELECT '{name}' AS check_name,
                   (SELECT COUNT(*) FROM {child}) AS n_rows,
                   (SELECT COUNT(*) FROM {child}
                    WHERE {ck} IS NULL
                       OR {ck} NOT IN (SELECT {pk} FROM {parent})) AS n_violations
            """
        )
    for name, table, key in _PK_CHECKS:
        parts.append(
            f"""
            SELECT '{name}' AS check_name,
                   (SELECT COUNT(*) FROM {table}) AS n_rows,
                   (SELECT COUNT(*) FROM
                      (SELECT {key} FROM {table} GROUP BY {key} HAVING COUNT(*) > 1)
                   ) AS n_violations
            """
        )
    return " UNION ALL ".join(parts)


@query("integrity_check_star_schema", oracle=_integrity_oracle())
def integrity_check_star_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity suite over the star schema: every
    foreign-key edge reports its orphan count, and every primary key
    its duplicate count. One summary row per check; zero everywhere on
    intact data, so any non-zero is a load-corruption signal the
    pipeline gates on.

    Plan shape: ONE pass per child table. All FK edges of a table
    resolve in the same scan — each parent's key set broadcast-left-
    joins a presence flag onto the child, and one wide aggregate
    counts every edge's missing flags at once (lineitem's three edges
    cost one scan, not three). PK duplicate checks stay two-level
    aggregates. The per-check rows reshape from the wide aggregate
    via a one-row explode, same as the column profiler."""
    from collections import defaultdict

    by_child: dict[str, list] = defaultdict(list)
    for name, child, ck, parent, pk in _FK_EDGES:
        by_child[child].append((name, ck, parent, pk))

    rows: list[DataFrame] = []
    for child, edges in by_child.items():
        c = read_table(spark, sf_dir, child)
        flagged = c.select(*[ck for _, ck, _, _ in edges])
        flags = []
        for i, (name, ck, parent, pk) in enumerate(edges):
            p = (
                read_table(spark, sf_dir, parent)
                .select(F.col(pk).alias(f"__pk{i}"))
                .distinct()
                .withColumn(f"__hit{i}", F.lit(True))
            )
            flagged = flagged.join(
                F.broadcast(p), flagged[ck] == F.col(f"__pk{i}"), "left"
            )
            flags.append(
                F.sum(
                    (~F.coalesce(F.col(f"__hit{i}"), F.lit(False))).cast("bigint")
                ).alias(f"__viol{i}")
            )
        wide = flagged.agg(F.count(F.lit(1)).alias("__rows"), *flags)
        checks = F.array(
            *[
                F.struct(
                    F.lit(name).alias("check_name"),
                    F.col("__rows").alias("n_rows"),
                    F.col(f"__viol{i}").alias("n_violations"),
                )
                for i, (name, _, _, _) in enumerate(edges)
            ]
        )
        rows.append(wide.select(F.explode(checks).alias("p")).select("p.*"))

    for name, table, key in _PK_CHECKS:
        # r14 (guide §2.4): n_rows = sum of per-key counts, so the
        # duplicate check and the row count ride ONE scan + ONE keyed
        # shuffle — the previous shape paid a second full scan and a
        # crossJoin of two single-row aggregates per table
        t = read_table(spark, sf_dir, table)
        per_key = t.groupBy(key).agg(F.count(F.lit(1)).alias("__c"))
        rows.append(
            per_key.agg(
                F.coalesce(F.sum("__c"), F.lit(0)).alias("n_rows"),
                F.count(F.when(F.col("__c") > 1, 1)).alias("n_violations"),
            ).select(F.lit(name).alias("check_name"), "n_rows", "n_violations")
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@query(
    "quality_expectations_check",
    oracle="""
    WITH m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) AS n_keys,
               CAST(COUNT(o_custkey) AS DOUBLE) AS n_cust,
               CAST(COUNT(CASE WHEN o_orderstatus IN ('F','O','P')
                          THEN 1 END) AS DOUBLE) AS n_dom,
               CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS min_price,
               CAST(date_part('year', MAX(o_orderdate)) AS DOUBLE) AS max_year
        FROM orders
    ),
    fk AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS orphans
        FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_custkey IS NULL
    )
    SELECT r.rule, r.metric, r.passed FROM m, fk, LATERAL (VALUES
        ('row_count_min_100',          m.n,               m.n >= 100),
        ('orderkey_unique',            m.n_keys,          m.n_keys = m.n),
        ('custkey_complete',           m.n_cust / m.n,    m.n_cust = m.n),
        ('status_in_domain',           m.n_dom / m.n,     m.n_dom = m.n),
        ('totalprice_positive',        m.min_price,       m.min_price > 0),
        ('orderdate_fresh_2001',       m.max_year,        m.max_year >= 2001),
        ('custkey_fk_orphans_zero',    fk.orphans,        fk.orphans = 0)
    ) AS r(rule, metric, passed)
    """,
)
def quality_expectations_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ/Great-Expectations-style constraint suite over the
    orders table: one row per EXPECTATION (not per statistic — the
    difference from ``profile_orders_columns``) with its measured
    metric and a hard pass/fail boolean — the data contract a
    pipeline gates deploys on. Rules: minimum volume, primary-key
    uniqueness, completeness, categorical domain, value range,
    freshness, and referential integrity (the FK check shares shape
    with ``integrity_check_star_schema`` but gates rather than
    reports).

    Plan shape: ONE scan computes six of the seven metrics as a
    single aggregate row (count/distinct/conditional aggregates all
    map-side combinable); the FK orphan count is the only join, an
    anti-join-shaped left join against the broadcast customer key
    set; the rule table is a 7-row literal expansion of the two
    aggregate rows — metrics scale is O(1) rows regardless of data
    scale, exactly what a quality gate must cost at 100 TB."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").select("c_custkey")
    m = orders.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.countDistinct("o_orderkey").cast("double").alias("n_keys"),
        F.count("o_custkey").cast("double").alias("n_cust"),
        F.count(
            F.when(F.col("o_orderstatus").isin("F", "O", "P"), F.lit(1))
        ).cast("double").alias("n_dom"),
        F.min(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("min_price"),
        F.year(F.max("o_orderdate")).cast("double").alias("max_year"),
    )
    fk = (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("double").alias("orphans"))
    )
    j = m.crossJoin(F.broadcast(fk))
    rules = F.array(
        F.struct(
            F.lit("row_count_min_100").alias("rule"),
            F.col("n").alias("metric"),
            (F.col("n") >= 100).alias("passed"),
        ),
        F.struct(
            F.lit("orderkey_unique").alias("rule"),
            F.col("n_keys").alias("metric"),
            (F.col("n_keys") == F.col("n")).alias("passed"),
        ),
        F.struct(
            F.lit("custkey_complete").alias("rule"),
            (F.col("n_cust") / F.col("n")).alias("metric"),
            (F.col("n_cust") == F.col("n")).alias("passed"),
        ),
        F.struct(
            F.lit("status_in_domain").alias("rule"),
            (F.col("n_dom") / F.col("n")).alias("metric"),
            (F.col("n_dom") == F.col("n")).alias("passed"),
        ),
        F.struct(
            F.lit("totalprice_positive").alias("rule"),
            F.col("min_price").alias("metric"),
            (F.col("min_price") > 0).alias("passed"),
        ),
        F.struct(
            F.lit("orderdate_fresh_2001").alias("rule"),
            F.col("max_year").alias("metric"),
            (F.col("max_year") >= 2001).alias("passed"),
        ),
        F.struct(
            F.lit("custkey_fk_orphans_zero").alias("rule"),
            F.col("orphans").alias("metric"),
            (F.col("orphans") == 0).alias("passed"),
        ),
    )
    return j.select(F.explode(rules).alias("r")).select(
        F.col("r.rule").alias("rule"),
        F.col("r.metric").alias("metric"),
        F.col("r.passed").alias("passed"),
    )


_DP_HEX = "0123456789abcdef"
#: md5-derived 16-bit bucket of the group label under the dp-v1 salt —
#: Spark's conv(hex, 16, 10) restated positionally for DuckDB (the
#: split_train_val_test strpos recipe).
_DP_BUCKET_SQL = (
    "((strpos('{hex}', substring(md5('dp-v1' || o_orderpriority), 1, 1)) - 1) * 4096"
    " + (strpos('{hex}', substring(md5('dp-v1' || o_orderpriority), 2, 1)) - 1) * 256"
    " + (strpos('{hex}', substring(md5('dp-v1' || o_orderpriority), 3, 1)) - 1) * 16"
    " + (strpos('{hex}', substring(md5('dp-v1' || o_orderpriority), 4, 1)) - 1))"
).format(hex=_DP_HEX)

#: Laplace scale b = sensitivity / epsilon = 1 / 0.5
_DP_EPSILON = 0.5
_DP_SCALE = 1.0 / _DP_EPSILON


@query(
    "quality_dp_noisy_release",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority, COUNT(*) AS n_true,
               ({_DP_BUCKET_SQL} + 0.5) / 65536.0 AS u
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_true,
           {_DP_EPSILON} AS epsilon,
           ROUND(-{_DP_SCALE} * sign(u - 0.5)
                 * ln(1 - 2 * abs(u - 0.5)), 6) AS noise,
           ROUND(n_true - {_DP_SCALE} * sign(u - 0.5)
                 * ln(1 - 2 * abs(u - 0.5)), 6) AS noisy_count
    FROM g
    """,
)
def quality_dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Laplace mechanism) with
    DETERMINISTIC noise — the privacy-preserving stats-release shape a
    training-data pipeline uses to publish corpus composition without
    leaking individual rows. Per group: noisy_count = count +
    Laplace(b), b = sensitivity/epsilon = 1/0.5, drawn by inverse CDF
    ``-b * sign(u-1/2) * ln(1 - 2|u-1/2|)`` from a content-addressed
    uniform u = (md5_bucket(salt||group) + 0.5) / 2^16 — so the
    mechanism is auditable and replayable cross-engine (a production
    release would use a sealed random seed instead of the group hash;
    the arithmetic is identical). u can never be exactly 0.5 (integer
    bucket + half), so the log argument stays in (0, 1].

    Plan shape: ONE map-side-combinable count aggregate; the noise is
    a scalar expression on the 5 aggregated rows — zero extra
    shuffles, O(groups) output. n_true is emitted only so the oracle
    can value-check the mechanism end to end; a real release drops it.
    """
    orders = read_table(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_true"))
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dp-v1"), F.col("o_orderpriority"))), 1, 4), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(65536.0)
    noise = (
        F.lit(-_DP_SCALE)
        * F.signum(u - F.lit(0.5))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    return g.select(
        "o_orderpriority",
        "n_true",
        F.lit(_DP_EPSILON).alias("epsilon"),
        F.round(noise, 6).alias("noise"),
        F.round(F.col("n_true") + noise, 6).alias("noisy_count"),
    )


@query(
    "quality_benford_check",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit
        FROM orders
    ),
    g AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit),
    t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM g)
    SELECT g.digit, g.n_obs,
           ROUND(log10(1.0 + 1.0 / g.digit), 6) AS p_expected,
           ROUND((CAST(g.n_obs AS DOUBLE)
                  - CAST(t.n AS DOUBLE) * log10(1.0 + 1.0 / g.digit))
                 * (CAST(g.n_obs AS DOUBLE)
                    - CAST(t.n AS DOUBLE) * log10(1.0 + 1.0 / g.digit))
                 / (CAST(t.n AS DOUBLE) * log10(1.0 + 1.0 / g.digit)), 6)
               AS chi2_contribution
    FROM g, t
    """,
)
def quality_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order amounts — the
    fabricated-data / fraud screen auditors run on financial columns:
    observed first-digit counts vs the Benford expectation
    log10(1 + 1/d), with each digit's chi-square contribution.
    The first digit comes from the DECIMAL STRING of integer cents
    (``substr(cast(cents as string), 1, 1)``) — exact on both engines,
    where a log10-based digit extraction would gamble on float
    boundaries. Expected probabilities and chi-square run in one fixed
    float op sequence over exact integer counts, rounded at 6dp.

    Scale: one scan, one 9-group map-side-combinable aggregate, the
    grand total broadcast back as a one-row frame — O(1) output."""
    orders = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    g = (
        orders.select(
            F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    # 9-row frame feeds both the grand total and the output projection
    g = g.localCheckpoint(eager=False)
    t = g.agg(F.sum("n_obs").cast("bigint").alias("n"))
    p = "log10(1.0D + 1.0D / digit)"
    dev = f"(cast(n_obs as double) - cast(n as double) * {p})"
    return g.crossJoin(F.broadcast(t)).select(
        "digit",
        "n_obs",
        F.round(F.expr(p), 6).alias("p_expected"),
        F.round(
            F.expr(f"{dev} * {dev} / (cast(n as double) * {p})"), 6
        ).alias("chi2_contribution"),
    )


# --- distribution drift -------------------------------------------------
#
# PSI per column between the orders snapshot and the deterministically
# mutated second snapshot: the distribution-drift monitor that catches
# silent upstream changes a keyed diff cannot (same keys, shifted
# distribution). Bins are fixed integer buckets, counts are exact
# BIGINTs, and PSI's log-ratio is computed once from those integers
# (Laplace-smoothed), so the rounded double agrees across engines. One
# scan per snapshot side, two tiny aggregates.

_PRICE_BIN = 60000
_N_PRICE_BINS = 10

_PSI_ORACLE = f"""
    WITH old_bins AS (
        SELECT 'o_orderstatus' AS col, o_orderstatus AS bin,
               COUNT(*) AS n
        FROM orders GROUP BY 2
        UNION ALL
        SELECT 'o_totalprice',
               CAST(LEAST({_N_PRICE_BINS - 1},
                          CAST(FLOOR(o_totalprice / 60000) AS BIGINT))
                    AS VARCHAR),
               COUNT(*)
        FROM orders GROUP BY 2
    ),
    new_snap AS ({_NEW_SNAPSHOT_SQL}),
    new_bins AS (
        SELECT 'o_orderstatus' AS col, o_orderstatus AS bin,
               COUNT(*) AS n
        FROM new_snap GROUP BY 2
        UNION ALL
        SELECT 'o_totalprice',
               CAST(LEAST({_N_PRICE_BINS - 1},
                          CAST(FLOOR(o_totalprice / 60000) AS BIGINT))
                    AS VARCHAR),
               COUNT(*)
        FROM new_snap GROUP BY 2
    ),
    joined AS (
        SELECT COALESCE(o.col, w.col) AS col,
               COALESCE(o.bin, w.bin) AS bin,
               COALESCE(o.n, 0) AS n_old,
               COALESCE(w.n, 0) AS n_new
        FROM old_bins o FULL OUTER JOIN new_bins w
          ON o.col = w.col AND o.bin = w.bin
    ),
    totals AS (
        SELECT col, bin, n_old, n_new,
               SUM(n_old) OVER (PARTITION BY col) AS t_old,
               SUM(n_new) OVER (PARTITION BY col) AS t_new,
               COUNT(*) OVER (PARTITION BY col) AS k
        FROM joined
    )
    SELECT col,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           round(SUM(
               ((n_new + 1.0) / (t_new + k) - (n_old + 1.0) / (t_old + k))
               * ln(((n_new + 1.0) / (t_new + k))
                    / ((n_old + 1.0) / (t_old + k)))
           ), 6) AS psi
    FROM totals
    GROUP BY col
"""


@query("quality_psi_drift_orders", _PSI_ORACLE)
def quality_psi_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column PSI between the two snapshots; exact integer bin
    counts, Laplace-smoothed log-ratio computed once at the end."""
    orders = read_table(spark, sf_dir, "orders")
    new_snap = _new_snapshot(spark, sf_dir)

    def bins(df: DataFrame) -> DataFrame:
        price_bin = F.least(
            F.lit(_N_PRICE_BINS - 1),
            F.floor(F.col("o_totalprice") / _PRICE_BIN).cast("bigint"),
        ).cast("string")
        status = df.groupBy(
            F.lit("o_orderstatus").alias("col"),
            F.col("o_orderstatus").alias("bin"),
        ).agg(F.count(F.lit(1)).alias("n"))
        price = df.groupBy(
            F.lit("o_totalprice").alias("col"), price_bin.alias("bin")
        ).agg(F.count(F.lit(1)).alias("n"))
        return status.unionByName(price)

    old_b = bins(orders).withColumnRenamed("n", "n_old")
    new_b = bins(new_snap).withColumnRenamed("n", "n_new")
    joined = old_b.join(new_b, ["col", "bin"], "full").select(
        "col",
        "bin",
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    w = Window.partitionBy("col")
    t = joined.select(
        "col",
        "n_old",
        "n_new",
        F.sum("n_old").over(w).alias("t_old"),
        F.sum("n_new").over(w).alias("t_new"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    p_new = (F.col("n_new") + 1.0) / (F.col("t_new") + F.col("k"))
    p_old = (F.col("n_old") + 1.0) / (F.col("t_old") + F.col("k"))
    return t.groupBy("col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.round(F.sum((p_new - p_old) * F.log(p_new / p_old)), 6).alias("psi"),
    )
