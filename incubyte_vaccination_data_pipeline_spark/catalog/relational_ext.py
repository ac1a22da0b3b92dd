"""Second wave of relational breadth: the remaining TPC-H query shapes
expressible over the testdata star schema (Q7/Q10/Q14/Q19/Q22 — the
lineitem table has no commit/receipt dates or ship modes, so Q4/Q12/Q21
shapes are out of reach), statistical-moment aggregates, value window
functions, UNPIVOT, array-function coverage over ``documents``, and
batch hopping windows over ``events``.

Determinism conventions as in ``vax.py``/``relational.py``: decimal
money math cast to double only after aggregation, explicit tie-breaks
on every LIMIT, ``round(.., 6)`` on any statistic whose merge order
differs across engines, ANSI-safe element access (``F.get`` instead of
``element_at`` so empty arrays yield NULL, not an error, under the
driver gate's ANSI session).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.plans.checkpoints import (
    durable_checkpoint,
)

from incubyte_vaccination_data_pipeline_spark.catalog.registry import query
from incubyte_vaccination_data_pipeline_spark.operators.sampling import (
    split_bucket_expr,
    split_bucket_sql,
)
from incubyte_vaccination_data_pipeline_spark.shared_cache import shared
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

_DEC = "decimal(18,2)"


def _dec(col: str):
    return F.col(col).cast(_DEC)


def _revenue():
    return _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))


_REVENUE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           date_part('year', l_shipdate) AS ship_year,
           CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    WHERE cn.n_name <> sn.n_name
      AND date_part('year', l_shipdate) BETWEEN 2000 AND 2001
    GROUP BY cn.n_name, sn.n_name, date_part('year', l_shipdate)
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume (customer nation !=
    supplier nation) by ship year. Scale posture: nation broadcasts
    onto BOTH the customer and supplier maps before the fact joins, so
    the only shuffles are the lineitem-orders and fact-dimension
    equi-joins; the inequality predicate runs post-join on two tiny
    string columns."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")

    nat_c = nation.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    )
    nat_s = nation.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    cust = customer.join(
        F.broadcast(nat_c), customer.c_nationkey == nat_c.cnk
    ).select("c_custkey", "cust_nation")
    supp = supplier.join(
        F.broadcast(nat_s), supplier.s_nationkey == nat_s.snk
    ).select("s_suppkey", "supp_nation")

    ship_year = F.year(F.col("l_shipdate").cast("date")).cast("bigint")
    return (
        li.filter(ship_year.between(2000, 2001))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", ship_year.alias("ship_year"))
        .agg(
            F.sum(_revenue()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, c_mktsegment,
           CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND date_part('year', o_orderdate) = 2000
      AND date_part('quarter', o_orderdate) = 4
    GROUP BY c_custkey, c_name, c_mktsegment
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue on returned
    items in one quarter. The returnflag and date predicates are
    scan-side (pushed to parquet) so the join inputs are pre-pruned;
    the final top-20 is TakeOrderedAndProject over the aggregate."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    od = F.col("o_orderdate").cast("date")
    orders_q4 = orders.filter((F.year(od) == 2000) & (F.quarter(od) == 4))
    return (
        li.join(orders_q4, li.l_orderkey == orders_q4.o_orderkey)
        .join(customer, orders_q4.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT ROUND(
               CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REVENUE_SQL} END)
                    AS DOUBLE) * 100.0
               / CAST(SUM({_REVENUE_SQL}) AS DOUBLE), 6) AS promo_pct,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE date_part('year', l_shipdate) = 2000
      AND date_part('month', l_shipdate) = 9
    GROUP BY ALL
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one month — a single
    global aggregate over a fact-dimension join with a conditional
    numerator (sum-over-sum in decimal, divided in double)."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    sd = F.col("l_shipdate").cast("date")
    rev = _revenue()
    return (
        li.filter((F.year(sd) == 2000) & (F.month(sd) == 9))
        .join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev)).cast("double")
                * F.lit(100.0)
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q19_or_predicates",
    oracle=f"""
    SELECT CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    GROUP BY ALL
    """,
)
def q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive predicates spanning
    both join sides. Catalyst extracts the common single-side
    implications (brand IN (...), size <= 15, quantity <= 30) as
    pushable pre-join filters; the full OR runs post-join."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#12") & size.between(1, 5) & qty.between(1, 11))
        | ((brand == "Brand#23") & size.between(1, 10) & qty.between(10, 20))
        | ((brand == "Brand#3") & size.between(1, 15) & qty.between(20, 30))
    )
    return joined.filter(cond).agg(
        F.sum(_revenue()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q22_inactive_high_balance",
    oracle="""
    WITH thr AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_bal
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer, thr
    WHERE c_acctbal > thr.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND date_part('year', o_orderdate) = 2001)
    GROUP BY c_mktsegment
    """,
)
def q22_inactive_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no 2001
    orders (global-average scalar subquery + anti join), by market
    segment. The 1-row average broadcasts; the anti join's build side
    is the year-pruned custkey projection of orders."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.year(F.col("o_orderdate").cast("date")) == 2001
    )
    thr = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
                "avg_bal"
            )
        )
    )
    return (
        customer.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
    )


@query(
    "agg_stats_moments",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           ROUND(stddev_samp(l_quantity), 6) AS qty_stddev,
           ROUND(var_samp(l_quantity), 6) AS qty_var,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-moment aggregates (stddev/variance/correlation/
    covariance) — single-pass central-moment sketches that merge
    map-side (Welford updates on both engines). Inputs are chosen
    small-magnitude (quantity 1..50, discount 0..0.1) so the 6-dp
    round absorbs merge-order float noise; skewness/kurtosis are
    excluded because Spark reports population moments where DuckDB
    bias-corrects (documented divergence, not an engine gap)."""
    li = read_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.stddev_samp(q), 6).alias("qty_stddev"),
        F.round(F.var_samp(q), 6).alias("qty_var"),
        F.round(F.corr(q, F.col("l_extendedprice")), 6).alias("qty_price_corr"),
        F.round(F.covar_samp(q, F.col("l_discount")), 6).alias("qty_disc_covar"),
    )


@query(
    "window_first_last_nth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey) OVER w AS last_order,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_order,
           COUNT(*) OVER w AS n_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window functions (first/last/nth over the full-partition
    frame) — each customer's first, latest, and second order alongside
    every order row."""
    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("date"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
        F.count(F.lit(1)).over(w).alias("n_orders"),
    )


@query(
    "unpivot_part_measures",
    oracle="""
    SELECT p_partkey, measure, value
    FROM (SELECT p_partkey,
                 CAST(p_retailprice AS DOUBLE) AS retailprice,
                 CAST(p_size AS DOUBLE) AS size
          FROM part)
    UNPIVOT (value FOR measure IN (retailprice, size))
    """,
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long melt): per-part measures as (measure,
    value) rows — the inverse of the pivot query, a pure narrow
    transform (no shuffle)."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    ).unpivot("p_partkey", ["retailprice", "size"], "measure", "value")


@query(
    "array_functions_tokens",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           toks[1] AS first_token,
           toks[-1] AS last_token,
           list_contains(toks, 'the') AS has_the,
           list_aggregate(list_transform(toks, x -> length(x)), 'max')
               AS longest_len,
           array_to_string(list_sort(list_distinct(toks))[1:3], '-')
               AS top3_sorted
    FROM t
    """,
)
def array_functions_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over tokenized documents: size/distinct/
    element access/contains/transform-max/sort-slice-join. Element
    access uses ``F.get`` (NULL on out-of-range) so the plan is
    ANSI-mode safe; all outputs are scalars (array-typed output columns
    stringify differently across engines)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    d = docs.select("doc_id", toks.alias("toks"))
    return d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.get("toks", 0).alias("first_token"),
        F.get("toks", F.size("toks") - 1).alias("last_token"),
        F.array_contains("toks", "the").alias("has_the"),
        F.array_max(F.transform("toks", F.length)).alias("longest_len"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct("toks")), 1, 3), "-"
        ).alias("top3_sorted"),
    )


@query(
    "events_hopping_window",
    oracle="""
    WITH slots AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes',
               CAST(value AS DECIMAL(18,2))
        FROM events
    )
    SELECT window_start,
           COUNT(*) AS n_events,
           CAST(SUM(v) AS DOUBLE) AS total_value
    FROM slots
    GROUP BY window_start
    """,
)
def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows in batch: 10-minute windows every 5
    minutes, so each event lands in exactly window/slide = 2 slots.
    The oracle expresses the same thing as a UNION ALL of the two
    5-minute-offset tumbling assignments."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window(F.col("ts"), "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_events", "total_value"
        )
    )


@query(
    "sample_stratified_orders",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)
          <= CASE WHEN o_orderpriority = '1-URGENT' THEN '33' ELSE '0c' END
    """,
)
def sample_stratified_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: ~20% of URGENT orders, ~5%
    of everything else, by content hash of the key — per-stratum rates
    for experiment splits where the rare stratum must be oversampled.
    Same scale posture as ``sample_hash_deterministic``: the predicate
    is a scan-side filter (no shuffle, no materialized full table) and
    identical rows on every engine/run, unlike TABLESAMPLE."""
    orders = read_table(spark, sf_dir, "orders")
    bucket = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2)
    cutoff = F.when(
        F.col("o_orderpriority") == "1-URGENT", F.lit("33")
    ).otherwise(F.lit("0c"))
    return orders.filter(bucket <= cutoff).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


@query(
    "basket_part_pairs",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= 2
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in
    >= 2 orders (the frequent-itemset/candidate-pair shape), via the
    single-scan map-side pair expansion
    (``operators/cooccur.py:cooccurrence_pairs`` — ONE keyed shuffle
    on the basket key, pairs generated JVM-side from the in-memory
    basket array; identical multiset to the classic self-join, same
    bounded k^2/2 per-basket fan-out, ~40% faster measured). Never a
    cross product."""
    from incubyte_vaccination_data_pipeline_spark.operators.cooccur import (
        cooccurrence_pairs,
    )

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = cooccurrence_pairs(li, "l_orderkey", "l_partkey")
    return (
        pairs.select(
            F.col("lo").alias("part_a"), F.col("hi").alias("part_b")
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@query(
    "window_percent_rank_cume",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position window functions (percent_rank / cume_dist)
    per priority — completes the ranking-window family next to
    row_number/rank/ntile. Single keyed shuffle; ties on o_totalprice
    get identical ranks in both engines by definition."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "scd2_priority_history",
    oracle="""
    WITH log AS (
        SELECT o_custkey AS cust_i, o_orderdate, o_orderkey, o_orderpriority
        FROM orders
    ),
    flagged AS (
        SELECT *,
               CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM
                         o_orderpriority THEN 1 ELSE 0 END AS chg
        FROM log
        WINDOW w AS (PARTITION BY cust_i ORDER BY o_orderdate, o_orderkey)
    ),
    versioned AS (
        SELECT *,
               SUM(chg) OVER (PARTITION BY cust_i
                              ORDER BY o_orderdate, o_orderkey
                              ROWS UNBOUNDED PRECEDING) AS version
        FROM flagged
    ),
    collapsed AS (
        SELECT cust_i, CAST(version AS INT) AS version,
               MIN(o_orderpriority) AS priority,
               MIN(o_orderdate) AS effective_from,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM versioned GROUP BY cust_i, version
    )
    SELECT cust_i, version, priority, effective_from,
           lead(effective_from) OVER (PARTITION BY cust_i ORDER BY version)
               AS effective_to,
           (lead(effective_from) OVER (PARTITION BY cust_i ORDER BY version)
               IS NULL) AS is_current,
           n_orders
    FROM collapsed
    """,
)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from a change log: each
    customer's order stream collapses into priority *versions* (runs
    of consecutive equal values), with effective_from / effective_to
    validity windows and an is_current flag — the MERGE-free SCD2
    pattern for append-only warehouses.

    Plan shape: ONE cust_i shuffle serves everything. The
    change-detection lag, the running version sum, the per-version
    collapse (grouping on (cust_i, version) is clustered by the
    cust_i hash partitioning, so no second exchange), and the
    effective_to lead all reuse the same partitioning; Catalyst plans
    exactly one Exchange (pinned in tests/test_plans.py). Ordering is
    deterministic via the (o_orderdate, o_orderkey) tie-break."""
    orders = read_table(spark, sf_dir, "orders")
    wo = Window.partitionBy("cust_i").orderBy("o_orderdate", "o_orderkey")
    log = orders.select(
        F.col("o_custkey").alias("cust_i"),
        "o_orderdate",
        "o_orderkey",
        "o_orderpriority",
    )
    flagged = log.withColumn(
        "chg",
        F.when(
            ~F.lag("o_orderpriority").over(wo).eqNullSafe(F.col("o_orderpriority")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    versioned = flagged.withColumn(
        "version",
        F.sum("chg").over(wo.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    collapsed = versioned.groupBy("cust_i", "version").agg(
        F.min("o_orderpriority").alias("priority"),
        F.min("o_orderdate").alias("effective_from"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    wv = Window.partitionBy("cust_i").orderBy("version")
    eff_to = F.lead("effective_from").over(wv)
    return collapsed.select(
        "cust_i",
        "version",
        "priority",
        "effective_from",
        eff_to.alias("effective_to"),
        eff_to.isNull().alias("is_current"),
        "n_orders",
    )


#: Column profile targets: (column, render) where render pins the
#: cross-engine string form (doubles go through DECIMAL(18,2) so both
#: engines print identical text).
_PROFILE_COLS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "decimal"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "string"),
]


def _profile_oracle() -> str:
    parts = []
    for col, kind in _PROFILE_COLS:
        expr = f"CAST({col} AS DECIMAL(18,2))" if kind == "decimal" else col
        parts.append(
            f"""
            SELECT '{col}' AS column_name,
                   COUNT(*) AS n_rows,
                   COUNT(*) - COUNT({col}) AS n_nulls,
                   COUNT(DISTINCT {col}) AS n_distinct,
                   CAST(MIN({expr}) AS VARCHAR) AS min_value,
                   CAST(MAX({expr}) AS VARCHAR) AS max_value
            FROM orders
            """
        )
    return " UNION ALL ".join(parts)


@query("profile_orders_columns", oracle=_profile_oracle())
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality profile of the orders table: one row
    per column with row/null/distinct counts and min/max (rendered as
    text; doubles pass through DECIMAL(18,2) so both engines print the
    same string), vs. the oracle's n_columns scans.

    Plan shape: TWO narrow passes instead of one expand. A wide
    aggregate computes counts/nulls/min/max for every column in one
    scan (no distinct aggregates, so no expand), and the distinct
    counts come from a melted (column_name, value) frame aggregated
    two-level like any token count — map-side combine collapses each
    column to its distinct values before the shuffle. The naive
    single-agg form with six exact countDistincts planned via Spark's
    expand (7x row duplication through one aggregate: measured 3.7s
    at sf0.1 vs 1.3s for this shape). The distinct branch compares
    raw CAST(col AS STRING) renderings (injective per value), not the
    2-dp money rendering, so distinct counts equal the oracle's
    COUNT(DISTINCT col) on raw values."""
    orders = read_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col, kind in _PROFILE_COLS:
        rendered = (
            F.col(col).cast("decimal(18,2)") if kind == "decimal" else F.col(col)
        )
        aggs += [
            F.sum(F.col(col).isNull().cast("bigint")).alias(f"{col}__nulls"),
            F.min(rendered).cast("string").alias(f"{col}__min"),
            F.max(rendered).cast("string").alias(f"{col}__max"),
        ]
    wide = orders.agg(*aggs)
    melted = F.array(
        *[
            F.struct(
                F.lit(col).alias("column_name"),
                F.col(col).cast("string").alias("v"),
            )
            for col, _ in _PROFILE_COLS
        ]
    )
    dist = (
        orders.select(F.explode(melted).alias("p"))
        .select("p.column_name", "p.v")
        .filter(F.col("v").isNotNull())
        .groupBy("column_name", "v")
        .agg(F.lit(1))
        .groupBy("column_name")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(col).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{col}__nulls").alias("n_nulls"),
                F.col(f"{col}__min").alias("min_value"),
                F.col(f"{col}__max").alias("max_value"),
            )
            for col, _ in _PROFILE_COLS
        ]
    )
    tall = wide.select(F.explode(rows).alias("p")).select("p.*")
    return tall.join(F.broadcast(dist), "column_name").select(
        "column_name", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value"
    )


@query(
    "scd2_asof_lookup",
    oracle="""
    WITH log AS (
        SELECT o_custkey AS cust_i, o_orderdate, o_orderkey, o_orderpriority
        FROM orders
    ),
    flagged AS (
        SELECT *,
               CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM
                         o_orderpriority THEN 1 ELSE 0 END AS chg
        FROM log
        WINDOW w AS (PARTITION BY cust_i ORDER BY o_orderdate, o_orderkey)
    ),
    versioned AS (
        SELECT *,
               SUM(chg) OVER (PARTITION BY cust_i
                              ORDER BY o_orderdate, o_orderkey
                              ROWS UNBOUNDED PRECEDING) AS version
        FROM flagged
    ),
    collapsed AS (
        SELECT cust_i, CAST(version AS INT) AS version,
               MIN(o_orderpriority) AS priority,
               MIN(o_orderdate) AS effective_from
        FROM versioned GROUP BY cust_i, version
    ),
    history AS (
        SELECT cust_i, version, priority, effective_from,
               lead(effective_from) OVER (PARTITION BY cust_i ORDER BY version)
                   AS effective_to
        FROM collapsed
    )
    SELECT o.o_orderkey, o.o_custkey AS cust_i, o.o_orderdate,
           h.version, h.priority,
           (h.effective_to IS NULL) AS is_current_version
    FROM orders o
    JOIN history h
      ON o.o_custkey = h.cust_i
     AND o.o_orderdate >= h.effective_from
     AND (h.effective_to IS NULL OR o.o_orderdate < h.effective_to)
    """,
)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the type-2 dimension: every order
    resolves the priority version valid AT ITS DATE — the consumption
    half of the SCD2 pattern (``scd2_priority_history`` is the build
    half). Version intervals tile [first_order_date, inf) half-open
    per customer, so every order matches exactly one version.

    Plan shape: the history build reuses its single cust_i shuffle;
    the lookup is an equi-join on the customer key with the validity
    window as a post-join filter — per-customer version counts are
    small and bounded, so the fan-out before the filter is bounded
    (the standard SCD2 probe; a range-join optimizer hint would kick
    in for pathological version counts)."""
    from incubyte_vaccination_data_pipeline_spark.catalog.registry import QUERIES as _Q

    history = _Q["scd2_priority_history"](spark, sf_dir)
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("cust_i"), "o_orderdate"
    )
    h = history.select(
        "cust_i", "version", "priority", "effective_from", "effective_to"
    )
    eff_to = F.col("effective_to")
    return (
        orders.join(h, "cust_i")
        .filter(
            (F.col("o_orderdate") >= F.col("effective_from"))
            & (eff_to.isNull() | (F.col("o_orderdate") < eff_to))
        )
        .select(
            "o_orderkey",
            "cust_i",
            "o_orderdate",
            "version",
            "priority",
            eff_to.isNull().alias("is_current_version"),
        )
    )


@query(
    "join_bloom_runtime_filter",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS revenue
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000
    GROUP BY o_orderpriority
    """,
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime join filter (semi-join reduction): the
    selective customer predicate's key set is sketched into a fixed
    2 KiB deterministic Bloom bitmap (md5-sliced bit positions,
    ``operators/bloom.py``) and pushed as a pure scan-side
    ``might_contain`` predicate on the orders fact BEFORE the join —
    the explicit form of Spark's own ``InjectRuntimeFilter`` rule,
    which at 100 TB kills most non-matching fact rows before any
    exchange. No false negatives by construction, so the oracle
    states the PLAIN join: the Bloom-pruned result must equal it
    bit-for-bit (false positives are removed by the exact broadcast
    join). Plan guard: the forall bit-test sits in the fact scan
    stage; the dim side is a BroadcastHashJoin.
    """
    from incubyte_vaccination_data_pipeline_spark.operators.bloom import (
        bloom_filtered_join,
    )

    cust = (
        read_table(spark, sf_dir, "customer")
        .filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000))
        .select("c_custkey")
    )
    orders = read_table(spark, sf_dir, "orders")
    return (
        bloom_filtered_join(orders, cust, "o_custkey", "c_custkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("revenue"),
        )
    )


_Z_BITS = 16          # per-dimension resolution of the Morton code
_Z_FILE_LOG2 = 4      # 2^4 = 16 planned files per layout

_MORTON_SQL_SPARK = (
    f"aggregate(sequence(0, {_Z_BITS - 1}), cast(0 as bigint),"
    " (acc, i) -> acc"
    " + shiftleft(cast((shiftright(xn, i) & 1) as bigint), 2*i)"
    " + shiftleft(cast((shiftright(yn, i) & 1) as bigint), 2*i + 1))"
)


@query(
    "layout_zorder_zonemap",
    oracle=f"""
    WITH base AS (
        SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS od,
               date_diff('day', DATE '2000-01-01',
                         CAST(o_orderdate AS DATE)) AS dd
        FROM orders
    ),
    b AS (
        SELECT MIN(ck) AS mnx, MAX(ck) AS mxx,
               MIN(dd) AS mny, MAX(dd) AS mxy
        FROM base
    ),
    n AS (
        SELECT ck, od,
               ((ck - mnx) * 65535) // GREATEST(mxx - mnx, 1) AS xn,
               ((dd - mny) * 65535) // GREATEST(mxy - mny, 1) AS yn
        FROM base, b
    ),
    z AS (
        SELECT ck, od, yn,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(0, {_Z_BITS}),
                       i -> (CAST((xn >> i) & 1 AS BIGINT) << (2*i))
                            + (CAST((yn >> i) & 1 AS BIGINT) << (2*i + 1)))),
                   (a, v) -> a + v) AS zv
        FROM n
    ),
    f AS (
        SELECT 'zorder' AS layout,
               CAST(zv >> {2 * _Z_BITS - _Z_FILE_LOG2} AS INTEGER) AS file_id,
               ck, od
        FROM z
        UNION ALL
        SELECT 'linear' AS layout,
               CAST(yn >> {_Z_BITS - _Z_FILE_LOG2} AS INTEGER) AS file_id,
               ck, od
        FROM z
    )
    SELECT layout, file_id, COUNT(*) AS n_rows,
           MIN(ck) AS min_custkey, MAX(ck) AS max_custkey,
           MIN(od) AS min_date, MAX(od) AS max_date,
           MAX(ck) - MIN(ck) AS custkey_span,
           date_diff('day', MIN(od), MAX(od)) AS date_span_days
    FROM f
    GROUP BY layout, file_id
    """,
)
def layout_zorder_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data-layout planner with zone-map
    statistics — the ``OPTIMIZE ZORDER BY`` pattern of 100 TB lake
    formats, stated as a pure scan expression: both clustering
    dimensions (customer key, order date) normalize to 16-bit rank
    space via exact integer arithmetic against a one-row min/max
    aggregate (broadcast — the sanctioned one-row crossJoin), their
    bits interleave into a 32-bit Morton code, and the planned file
    is the code's top-4-bit prefix. NO global sort: fixed z-prefix
    ranges are the ``repartitionByRange`` keys a layout rewrite would
    write with, so file assignment parallelizes like any projection.
    The output is each planned file's zone map (min/max of BOTH
    dimensions) for the z-order layout next to the naive date-linear
    layout: linear files are tight on date but span the full customer
    range (a customer-key predicate prunes nothing), z-order files
    bound BOTH spans (either predicate prunes ~sqrt fraction of
    files) — the measurable pay-off the semantics test pins.
    The write-path twin is ``operators/partitioning.py:zorder_layout``
    (repartitionByRange on the interleaved key, real parquet files,
    file-skipping asserted in
    ``test_zorder_layout_skips_files_in_both_dimensions``); this
    query is its driver-value-checked planning surface.
    """
    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderdate").cast("date").alias("od"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("2000-01-01"))
        .cast("bigint")
        .alias("dd"),
    )
    bounds = base.agg(
        F.min("ck").alias("mnx"),
        F.max("ck").alias("mxx"),
        F.min("dd").alias("mny"),
        F.max("dd").alias("mxy"),
    )
    n = base.crossJoin(F.broadcast(bounds)).select(
        "ck",
        "od",
        F.expr("((ck - mnx) * 65535) div greatest(mxx - mnx, 1)").alias("xn"),
        F.expr("((dd - mny) * 65535) div greatest(mxy - mny, 1)").alias("yn"),
    )
    z = n.select("ck", "od", "yn", F.expr(_MORTON_SQL_SPARK).alias("zv"))
    f = z.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(
                        f"cast(shiftright(zv, {2 * _Z_BITS - _Z_FILE_LOG2}) as int)"
                    ).alias("file_id"),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.expr(
                        f"cast(shiftright(yn, {_Z_BITS - _Z_FILE_LOG2}) as int)"
                    ).alias("file_id"),
                ),
            )
        ).alias("lf"),
        "ck",
        "od",
    )
    return (
        f.groupBy(F.col("lf.layout").alias("layout"), F.col("lf.file_id").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ck").alias("min_custkey"),
            F.max("ck").alias("max_custkey"),
            F.min("od").alias("min_date"),
            F.max("od").alias("max_date"),
            (F.max("ck") - F.min("ck")).alias("custkey_span"),
            F.datediff(F.max("od"), F.min("od")).cast("bigint").alias("date_span_days"),
        )
    )


@query(
    "agg_bitmap_exact_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_distinct_customers,
           COUNT(DISTINCT o_custkey // 64) AS n_buckets
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bucket bitmaps — the
    roaring-bitmap-style scale path between plain COUNT(DISTINCT)
    (shuffles every distinct (group, key) pair) and HLL
    (``agg_approx_count_distinct`` — O(1) memory but approximate):
    keys chunk into 64-wide buckets, each map task ORs local
    ``1 << (key % 64)`` masks per (group, bucket), the shuffle
    carries one 8-byte word per populated bucket (64x fewer rows
    than distinct keys, map-side-combined by ``bit_or``), and the
    exact cardinality is the popcount sum. Both aggregation stages
    are associative single-pass — no Expand, no per-key state — and
    the bitmap words union across partitions/engines/days
    identically, which is why warehouse engines persist exactly this
    structure as an incremental distinct-count index. Output also
    reports the populated-bucket count (the bitmap's footprint —
    what a capacity planner sizes).
    """
    orders = read_table(spark, sf_dir, "orders")
    words = (
        orders.select(
            "o_orderpriority",
            F.expr("o_custkey div 64").alias("__bucket"),
            F.expr("shiftleft(cast(1 as bigint), cast(o_custkey % 64 as int))").alias(
                "__m"
            ),
        )
        .groupBy("o_orderpriority", "__bucket")
        .agg(F.expr("bit_or(__m)").alias("__bm"))
    )
    return words.groupBy("o_orderpriority").agg(
        F.sum(F.bit_count("__bm")).alias("n_distinct_customers"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


def _scd2_hist_sql(col: str, alias: str) -> str:
    """DuckDB CTE text building the run-length version history of
    ``col`` over each customer's order stream — the scd2_priority_history
    recipe parameterized by column, emitting
    (cust_i, val, effective_from, effective_to)."""
    return f"""{alias} AS (
        SELECT cust_i, val, effective_from,
               lead(effective_from) OVER (
                   PARTITION BY cust_i ORDER BY version) AS effective_to
        FROM (
            SELECT cust_i, version, MIN({col}) AS val,
                   MIN(o_orderdate) AS effective_from
            FROM (
                SELECT *, SUM(chg) OVER (
                        PARTITION BY cust_i
                        ORDER BY o_orderdate, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS version
                FROM (
                    SELECT o_custkey AS cust_i, o_orderdate, o_orderkey,
                           {col},
                           CASE WHEN lag({col}) OVER (
                                    PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
                                IS DISTINCT FROM {col}
                                THEN 1 ELSE 0 END AS chg
                    FROM orders
                )
            )
            GROUP BY cust_i, version
        )
    )"""


@query(
    "scd2_interval_align",
    oracle=f"""
    WITH {_scd2_hist_sql('o_orderpriority', 'h1')},
    {_scd2_hist_sql('o_orderstatus', 'h2')}
    SELECT h1.cust_i,
           GREATEST(h1.effective_from, h2.effective_from) AS valid_from,
           CASE WHEN h1.effective_to IS NULL THEN h2.effective_to
                WHEN h2.effective_to IS NULL THEN h1.effective_to
                ELSE LEAST(h1.effective_to, h2.effective_to) END AS valid_to,
           h1.val AS priority,
           h2.val AS status,
           (h1.effective_to IS NULL AND h2.effective_to IS NULL)
               AS is_current
    FROM h1 JOIN h2 ON h1.cust_i = h2.cust_i
    WHERE (h1.effective_to IS NULL OR h1.effective_to > h2.effective_from)
      AND (h2.effective_to IS NULL OR h2.effective_to > h1.effective_from)
    """,
)
def scd2_interval_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal timeline ALIGNMENT of two type-2 histories — the
    interval-algebra join behind 'state of ALL slowly-changing
    attributes at every moment': each customer's priority-version
    timeline and status-version timeline intersect into segments,
    every segment carrying the (priority, status) pair valid
    throughout it. Because both inputs tile [first_order, inf)
    half-open per customer, the pairwise interval overlaps exactly
    tile the shared timeline — no gaps, no double-cover (pinned in a
    semantics test).

    Plan shape: both histories build from the SAME single cust_i
    shuffle recipe as ``scd2_priority_history``; the align is ONE
    equi-join on the customer key with the overlap condition as a
    post-join filter — per-customer version counts are small and
    bounded, so the k1 x k2 fan-out before the filter is bounded
    (the standard temporal-join plan; a range-join optimizer would
    bin on time buckets if version counts were pathological). Output
    rows per customer = k1 + k2 - 1 segments."""
    orders = read_table(spark, sf_dir, "orders")

    def history(col: str) -> DataFrame:
        wo = Window.partitionBy("cust_i").orderBy("o_orderdate", "o_orderkey")
        log = orders.select(
            F.col("o_custkey").alias("cust_i"), "o_orderdate", "o_orderkey", col
        )
        flagged = log.withColumn(
            "chg",
            F.when(~F.lag(col).over(wo).eqNullSafe(F.col(col)), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        versioned = flagged.withColumn(
            "version",
            F.sum("chg").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
        )
        collapsed = versioned.groupBy("cust_i", "version").agg(
            F.min(col).alias("val"), F.min("o_orderdate").alias("effective_from")
        )
        wv = Window.partitionBy("cust_i").orderBy("version")
        return collapsed.select(
            "cust_i",
            "val",
            "effective_from",
            F.lead("effective_from").over(wv).alias("effective_to"),
        )

    h1 = history("o_orderpriority").alias("h1")
    h2 = history("o_orderstatus").alias("h2")
    f1, t1 = F.col("h1.effective_from"), F.col("h1.effective_to")
    f2, t2 = F.col("h2.effective_from"), F.col("h2.effective_to")
    overlap = (t1.isNull() | (t1 > f2)) & (t2.isNull() | (t2 > f1))
    return (
        h1.join(h2, F.col("h1.cust_i") == F.col("h2.cust_i"))
        .filter(overlap)
        .select(
            F.col("h1.cust_i").alias("cust_i"),
            F.greatest(f1, f2).alias("valid_from"),
            F.when(t1.isNull(), t2)
            .when(t2.isNull(), t1)
            .otherwise(F.least(t1, t2))
            .alias("valid_to"),
            F.col("h1.val").alias("priority"),
            F.col("h2.val").alias("status"),
            (t1.isNull() & t2.isNull()).alias("is_current"),
        )
    )


_RANGE_BUCKETS = 16
_RANGE_QS = [i / _RANGE_BUCKETS for i in range(1, _RANGE_BUCKETS)]


@query(
    "layout_range_boundaries",
    oracle=f"""
    WITH b AS (
        SELECT list_transform(
                   quantile_cont(CAST(o_custkey AS DOUBLE),
                                 [{', '.join(str(q) for q in _RANGE_QS)}]),
                   x -> round(x, 6)) AS bs
        FROM orders
    ),
    assigned AS (
        SELECT o_custkey AS ck,
               list_reduce(list_prepend(0,
                   list_transform(bs,
                       bd -> CASE WHEN CAST(o_custkey AS DOUBLE) > bd
                                  THEN 1 ELSE 0 END)),
                   (x, y) -> x + y) AS bucket
        FROM orders, b
    )
    SELECT CAST(bucket AS INT) AS bucket,
           COUNT(*) AS n_rows,
           MIN(ck) AS min_custkey,
           MAX(ck) AS max_custkey
    FROM assigned GROUP BY bucket
    """,
)
def layout_range_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth range-partition boundary planner — the
    ``repartitionByRange`` planning surface made exact and auditable:
    Spark's RangePartitioner SAMPLES boundaries (nondeterministic,
    skew-sensitive); this states them as exact interpolated
    1/16-quantiles of the partition key (the ``agg_percentiles``
    cross-engine parity recipe), then validates the plan by assigning
    every row to its planned file and reporting per-file row counts
    and key ranges — near-equal n_rows (equi-depth) with tight,
    disjoint [min, max] key ranges (1-D zone maps; the range sibling
    of ``layout_zorder_zonemap``'s 2-D layout).

    Plan shape: one aggregate computes the 15-boundary array (the
    exact percentile is a sort-based single aggregate; at 100 TB the
    documented trade is approx_percentile's one-pass sketch — the
    boundary CONSUMER is identical either way), broadcast as a
    one-row frame; assignment is a pure scan-side fold over the
    literal-free boundary array — no per-row join, no global sort;
    the final rollup is one 16-group aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    # r14 note: the sorted-array quantile form (operators/quantiles)
    # that won 2-2.8x on the PER-GROUP percentile queries was
    # A/B-tested here and LOST (0.56 -> 0.75 s interleaved): with one
    # global group the collected array concentrates all 150k values
    # through a single final task, while percentile's map buffer
    # merges more cheaply — kept the percentile aggregate.
    qs = ", ".join(f"{q}D" for q in _RANGE_QS)
    b = orders.agg(
        F.expr(
            f"transform(percentile(cast(o_custkey as double), array({qs})),"
            f" x -> round(x, 6))"
        ).alias("bs")
    )
    assigned = orders.crossJoin(F.broadcast(b)).select(
        F.col("o_custkey").alias("ck"),
        F.expr(
            "aggregate(bs, 0, (acc, bd) ->"
            " acc + (case when cast(o_custkey as double) > bd"
            "        then 1 else 0 end))"
        ).alias("bucket"),
    )
    return assigned.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ck").alias("min_custkey"),
        F.max("ck").alias("max_custkey"),
    )


@query(
    "set_bitmap_audience_overlap",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders
               WHERE EXTRACT(year FROM o_orderdate) = 1996),
         b AS (SELECT DISTINCT o_custkey AS k FROM orders
               WHERE EXTRACT(year FROM o_orderdate) = 1997),
         i AS (SELECT k FROM a INTERSECT SELECT k FROM b),
         u AS (SELECT k FROM a UNION SELECT k FROM b)
    SELECT (SELECT COUNT(*) FROM a) AS n_1996,
           (SELECT COUNT(*) FROM b) AS n_1997,
           (SELECT COUNT(*) FROM i) AS n_both,
           (SELECT COUNT(*) FROM u) AS n_either,
           (SELECT COUNT(*) FROM a) - (SELECT COUNT(*) FROM i)
               AS n_only_1996,
           (SELECT COUNT(*) FROM b) - (SELECT COUNT(*) FROM i)
               AS n_only_1997,
           ROUND((SELECT COUNT(*) FROM i) * 1.0
                 / (SELECT COUNT(*) FROM u), 6) AS jaccard
    """,
)
def set_bitmap_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set algebra between two audiences (1996 vs 1997 buyers)
    via bucket bitmaps — the audience-overlap primitive behind
    retention/churn dashboards, done WITHOUT materializing either
    distinct set or joining them. One scan computes, per 64-key
    bucket, a conditional mask for each side; ``bit_or`` merges them
    map-side; intersection/union/difference are then BITWISE AND/OR on
    the co-grouped words and every cardinality is a popcount sum. The
    shuffle carries at most two 8-byte words per populated bucket —
    independent of how many orders reference a customer, and the
    bitwise algebra is exactly how roaring-bitmap audience stores
    (Druid/ClickHouse/Pinot) evaluate segment overlap at 100 TB. The
    oracle restates the semantics with an INDEPENDENT algorithm
    (DISTINCT + INTERSECT/UNION), so the hash match certifies the
    bitmap arithmetic end to end. Jaccard = |A&B| / |A|B| rounded to
    6dp (a ratio of exact integers)."""
    orders = read_table(spark, sf_dir, "orders")
    m = "shiftleft(cast(1 as bigint), cast(o_custkey % 64 as int))"
    sel = orders.where(
        "o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'"
    ).select(
        F.expr("o_custkey div 64").alias("__bucket"),
        F.expr(f"CASE WHEN year(o_orderdate) = 1996 THEN {m} ELSE 0 END").alias(
            "__ma"
        ),
        F.expr(f"CASE WHEN year(o_orderdate) = 1997 THEN {m} ELSE 0 END").alias(
            "__mb"
        ),
    )
    words = sel.groupBy("__bucket").agg(
        F.expr("bit_or(__ma)").alias("wa"), F.expr("bit_or(__mb)").alias("wb")
    )
    counts = words.agg(
        F.sum(F.bit_count("wa")).alias("n_1996"),
        F.sum(F.bit_count("wb")).alias("n_1997"),
        F.sum(F.bit_count(F.expr("wa & wb"))).alias("n_both"),
        F.sum(F.bit_count(F.expr("wa | wb"))).alias("n_either"),
    )
    return counts.select(
        "n_1996",
        "n_1997",
        "n_both",
        "n_either",
        (F.col("n_1996") - F.col("n_both")).alias("n_only_1996"),
        (F.col("n_1997") - F.col("n_both")).alias("n_only_1997"),
        F.round(F.col("n_both") / F.col("n_either"), 6).alias("jaccard"),
    )


#: the scd2_priority_history build restated as a DuckDB CTE chain,
#: ending in ``hist(cust_i, version, priority, effective_from,
#: effective_to, n_orders)`` — shared text for merge-style oracles.
_SCD2_HIST_CTES = """
    log AS (
        SELECT o_custkey AS cust_i, o_orderdate, o_orderkey, o_orderpriority
        FROM orders
    ),
    flagged AS (
        SELECT *,
               CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM
                         o_orderpriority THEN 1 ELSE 0 END AS chg
        FROM log
        WINDOW w AS (PARTITION BY cust_i ORDER BY o_orderdate, o_orderkey)
    ),
    versioned AS (
        SELECT *,
               SUM(chg) OVER (PARTITION BY cust_i
                              ORDER BY o_orderdate, o_orderkey
                              ROWS UNBOUNDED PRECEDING) AS version
        FROM flagged
    ),
    collapsed AS (
        SELECT cust_i, CAST(version AS INT) AS version,
               MIN(o_orderpriority) AS priority,
               MIN(o_orderdate) AS effective_from,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM versioned GROUP BY cust_i, version
    ),
    hist AS (
        SELECT cust_i, version, priority, effective_from,
               lead(effective_from) OVER (PARTITION BY cust_i ORDER BY version)
                   AS effective_to,
               n_orders
        FROM collapsed
    )
"""

#: deterministic CDC batch: these customers get an escalation record
#: effective strictly after every order date in the corpus
_MERGE_MOD = 37
_MERGE_TS = "2002-01-01 00:00:00"
_MERGE_PRIORITY = "X-ESCALATED"


@query(
    "incremental_scd2_merge",
    oracle=f"""
    WITH {_SCD2_HIST_CTES}
    SELECT cust_i, version, priority, effective_from,
           CASE WHEN cust_i % {_MERGE_MOD} = 0 AND effective_to IS NULL
                THEN TIMESTAMP '{_MERGE_TS}' ELSE effective_to END
               AS effective_to,
           CASE WHEN cust_i % {_MERGE_MOD} = 0 THEN FALSE
                ELSE effective_to IS NULL END AS is_current,
           n_orders
    FROM hist
    UNION ALL
    SELECT cust_i, version + 1, '{_MERGE_PRIORITY}',
           TIMESTAMP '{_MERGE_TS}', NULL, TRUE, CAST(0 AS BIGINT)
    FROM hist WHERE cust_i % {_MERGE_MOD} = 0 AND effective_to IS NULL
    """,
)
def incremental_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 MERGE (dimension maintenance): apply a CDC change batch to
    a type-2 dimension — close each affected customer's current
    version (effective_to = change timestamp, is_current = false) and
    append the new current version — the warehouse MERGE INTO ...
    WHEN MATCHED/NOT MATCHED pattern. The change batch is derived
    deterministically (every {mod}th customer escalates at a
    timestamp after the whole corpus) so both engines replay it; a
    production run would broadcast-join the actual CDC table instead
    of the inline predicate, with an identical downstream shape.

    Plan shape: the history builds once (one cust_i shuffle), then the
    merge is a SINGLE-PASS ``inline`` fan-out — each row maps to a
    1-element array (pass-through / closed) or 2-element array
    (closed + successor), so there is NO self-union re-running the
    history subtree and NO join: at 100 TB the merge costs one extra
    narrow stage over the dimension, which is why engines implement
    MERGE as a row-level outer fan-out rather than a rewrite-by-union.
    """
    from incubyte_vaccination_data_pipeline_spark.catalog.registry import QUERIES as _Q

    history = _Q["scd2_priority_history"](spark, sf_dir)
    keep = (
        "named_struct('version', version, 'priority', priority,"
        " 'effective_from', effective_from, 'effective_to', {eff_to},"
        " 'is_current', {cur}, 'n_orders', n_orders)"
    )
    ts = f"TIMESTAMP_NTZ'{_MERGE_TS}'"
    succ = (
        f"named_struct('version', version + 1, 'priority', '{_MERGE_PRIORITY}',"
        f" 'effective_from', {ts},"
        " 'effective_to', CAST(NULL AS TIMESTAMP_NTZ),"
        " 'is_current', true, 'n_orders', CAST(0 AS BIGINT))"
    )
    fanout = (
        f"CASE WHEN cust_i % {_MERGE_MOD} = 0 AND effective_to IS NULL THEN"
        f" array({keep.format(eff_to=ts, cur='false')}, {succ})"
        f" ELSE array({keep.format(eff_to='effective_to', cur='is_current')})"
        " END"
    )
    return history.select("cust_i", F.expr(fanout).alias("__rows")).select(
        "cust_i", F.expr("inline(__rows)")
    )


@query(
    "orders_pareto_abc",
    oracle="""
    WITH cr AS (
        SELECT o_custkey AS cust_i,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM orders GROUP BY o_custkey
    ),
    c AS (
        SELECT cust_i, rev_cents,
               CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, cust_i
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_cents,
               CAST(SUM(rev_cents) OVER () AS BIGINT) AS total_cents
        FROM cr
    )
    SELECT cust_i, rev_cents, cum_cents,
           CASE WHEN cum_cents * 10 <= total_cents * 5 THEN 'A'
                WHEN cum_cents * 10 <= total_cents * 8 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """,
)
def orders_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification of customers by cumulative revenue
    share (A = first 50% of revenue, B = next 30%, C = tail) — the
    80/20 curation primitive behind "which sources carry the corpus"
    and inventory ABC analysis. The cumulative sum over the GLOBAL
    revenue-descending order is the scale hazard: a plain
    ``Window.orderBy`` with no partition key is a single-task sort, so
    this reuses the distributed prefix-sum operator
    (``operators/prefix.py``): range partition by (-revenue, customer)
    — the explicit tie-break keeps the order total without composite-
    key magnitude assumptions — per-range running sums, a
    partition-TOTALS collect bounded by the range count, broadcast
    offsets back. Class boundaries compare exact integers
    (``cum*10 <= total*5``) — no float share, so the A/B edge cannot
    flip between engines. Revenue sums in integer cents (double money
    summation is merge-order-dependent)."""
    from incubyte_vaccination_data_pipeline_spark.operators.prefix import global_cumsum

    orders = read_table(spark, sf_dir, "orders")
    cr = orders.groupBy(F.col("o_custkey").alias("cust_i")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias(
            "rev_cents"
        )
    )
    cr = cr.withColumn("__neg_rev", -F.col("rev_cents"))
    cum = global_cumsum(cr, ["__neg_rev", "cust_i"], "rev_cents", out_col="cum_cents")
    total = cr.agg(F.sum("rev_cents").alias("total_cents"))
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            "cust_i",
            "rev_cents",
            "cum_cents",
            F.when(
                F.col("cum_cents") * 10 <= F.col("total_cents") * 5, F.lit("A")
            )
            .when(F.col("cum_cents") * 10 <= F.col("total_cents") * 8, F.lit("B"))
            .otherwise(F.lit("C"))
            .alias("abc_class"),
        )
    )


_HIST_BUCKETS = 8


def _hist_ranked_index(spark: SparkSession, sf_dir: str):
    """The per-corpus (ranked frame, total N) pair behind the
    histogram — the eager distributed-prefix pass amortizes like any
    table statistic."""
    from incubyte_vaccination_data_pipeline_spark.operators.prefix import (
        global_cumsum,
    )

    def build():
        orders = read_table(spark, sf_dir, "orders")
        v = orders.select(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
            F.col("o_orderkey").alias("k"),
            F.lit(1).cast("bigint").alias("__one"),
        )
        ranked, n = global_cumsum(
            v, ["cents", "k"], "__one", out_col="rnk", return_total=True
        )
        return (ranked.persist(), n)

    return shared(spark, sf_dir, "hist_ranked", build)


@query(
    "stats_equiheight_histogram",
    oracle=f"""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey AS k
        FROM orders
    ),
    r AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, k) AS rnk,
               (SELECT COUNT(*) FROM v) AS n
        FROM v
    )
    SELECT CAST(((rnk - 1) * {_HIST_BUCKETS}) // n AS INT) AS bucket,
           COUNT(*) AS n_rows,
           MIN(cents) AS lo_cents,
           MAX(cents) AS hi_cents,
           CAST(COUNT(DISTINCT cents) AS BIGINT) AS ndv
    FROM r GROUP BY 1
    """,
)
def stats_equiheight_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style equi-height column histogram with per-bucket NDV
    — the CBO statistic behind selectivity estimation (Spark's
    ``ANALYZE TABLE .. FOR COLUMNS`` builds exactly this shape) and
    the zone-map audit for range layouts. Every order lands in one of
    {_HIST_BUCKETS} height-balanced buckets by its GLOBAL rank in
    (price, orderkey) order; per bucket: row count (equal by
    construction, +-1), [lo, hi] bounds, and exact NDV.

    The global rank is the scale hazard: ``ROW_NUMBER`` over one
    ordering with no partition key is a single-task sort, so the rank
    comes from the distributed prefix sum (``operators/prefix.py`` —
    range partition by the sort key, per-range running count, driver
    prefix over the partition TOTALS, broadcast offsets). The row
    count N rides the SAME driver prefix (``return_total`` — the
    offsets pass already sums every partition total), so bucket
    assignment is pure integer arithmetic on the rank against a
    literal (``(rnk-1)*B div N`` — no boundary-value comparisons, so
    duplicate prices cannot make engines disagree; round 8: this
    replaced a second orders scan + one-row broadcast join per
    execution), and the rollup is one {_HIST_BUCKETS}-group
    map-side-combinable aggregate. Money ranks as integer cents with
    an explicit orderkey tie-break (a float sort key with ties would
    make within-tie rank engine-dependent).

    The ranked frame is a build-once per-corpus structure (ANALYZE
    stats are computed once per table version, not per query): the
    eager prefix pass — range-partition sampling, materialization,
    totals collect — runs once per (app, corpus) in the shared cache
    and warm calls pay only the bucket rollup, the same amortization
    convention as the ANN indexes and graph labelings."""
    ranked, n = _hist_ranked_index(spark, sf_dir)
    return (
        ranked.select(
            "cents",
            F.expr(f"cast(((rnk - 1) * {_HIST_BUCKETS}) div {n} as int)").alias(
                "bucket"
            ),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
            F.countDistinct("cents").alias("ndv"),
        )
    )


_KMV_K = 64
_KMV_H = 1 << 60  # hash domain: 60-bit md5-derived keys


def _kmv_hash_sql(instr_fn: str) -> str:
    """60-bit hash from the md5 of the salted customer key: two 32-bit
    positional decodes packed as d1 * 2^28 + d2 mod 2^28 (stays under
    2^60; bigint-safe). Engine-portable — only the position function
    name differs (Spark ``instr``, DuckDB ``strpos``)."""
    from incubyte_vaccination_data_pipeline_spark.operators.dedup import md5_half_decode_sql

    d1 = md5_half_decode_sql("m", 1, instr_fn=instr_fn)
    d2 = md5_half_decode_sql("m", 9, instr_fn=instr_fn)
    return f"({d1} * cast(268435456 as bigint) + {d2} % cast(268435456 as bigint))"


def _kmv_ranked(sel: DataFrame) -> DataFrame:
    """The UN-checkpointed distinct-hash + per-segment rank frame the
    sketch's two branches share (the query checkpoints it; exposed so
    the plan guard can assert the SEG-partitioned window on the real
    lineage — a lazy checkpoint swaps the logical plan to a LogicalRDD
    immediately, hiding the window from every post-checkpoint plan)."""
    hashed = (
        sel.select(
            "seg",
            F.md5(F.concat(F.lit("kmv-v1"), F.col("ck").cast("string"))).alias("m"),
        )
        .select("seg", F.expr(_kmv_hash_sql("instr")).alias("h"))
        .distinct()
    )
    return hashed.withColumn(
        "r", F.row_number().over(Window.partitionBy("seg").orderBy("h"))
    )



def _shared_kmv_frames(spark: SparkSession, sf_dir: str):
    """The (sel, ranked) sketch-input frames built once per (app,
    corpus): the segment membership and its ranked 60-bit hashes are
    per TABLE VERSION structures (the stats_equiheight_histogram
    convention — ANALYZE-style, not per query). Both were already
    localCheckpointed per call because two branches consume each
    (Spark self-joins duplicate the subtree: without the checkpoint
    the hashed->distinct->window pipeline ran twice per execution,
    measured 2x at sf0.1); keying the SAME checkpointed frames per
    corpus keeps every downstream analyzed plan (and the plan
    fingerprint) byte-identical while dropping the per-call rebuild.
    Size: distinct (seg, customer) pairs — compact at any corpus
    scale."""

    def build():
        orders = read_table(spark, sf_dir, "orders")
        sel = (
            orders.filter(F.year("o_orderdate").isin(1996, 1997))
            .select(
                F.year("o_orderdate").cast("int").alias("seg"),
                F.col("o_custkey").alias("ck"),
            )
            .distinct()
        )
        sel = durable_checkpoint(sel, eager=False)  # feeds sketch + exact branches
        ranked = durable_checkpoint(_kmv_ranked(sel), eager=False)
        return sel, ranked

    return shared(spark, sf_dir, "kmv_frames", build)


@query(
    "agg_kmv_theta_sketch",
    oracle=f"""
    WITH sel AS (
        SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS seg,
               o_custkey AS ck
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1997)
    ),
    hashed AS (
        SELECT DISTINCT seg, {_kmv_hash_sql("strpos")} AS h
        FROM (SELECT seg, md5('kmv-v1' || CAST(ck AS VARCHAR)) AS m FROM sel)
    ),
    ranked AS (
        SELECT seg, h, ROW_NUMBER() OVER (PARTITION BY seg ORDER BY h) AS r
        FROM hashed
    ),
    stats AS (
        SELECT seg, COUNT(*) AS n,
               CASE WHEN COUNT(*) >= {_KMV_K}
                    THEN MAX(CASE WHEN r = {_KMV_K} THEN h END)
                    ELSE {_KMV_H} END AS theta,
               CASE WHEN COUNT(*) >= {_KMV_K} THEN {_KMV_K} - 1
                    ELSE COUNT(*) END AS nv
        FROM ranked GROUP BY seg
    ),
    thetas AS (
        SELECT MAX(CASE WHEN seg = 1996 THEN theta END) AS theta_a,
               MAX(CASE WHEN seg = 1997 THEN theta END) AS theta_b,
               MAX(CASE WHEN seg = 1996 THEN nv END) AS nv_a,
               MAX(CASE WHEN seg = 1997 THEN nv END) AS nv_b
        FROM stats
    ),
    retained AS (
        SELECT r.seg, r.h FROM ranked r JOIN stats s ON r.seg = s.seg
        WHERE r.h < s.theta
    ),
    merged AS (
        SELECT h,
               MAX(CASE WHEN seg = 1996 THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN seg = 1997 THEN 1 ELSE 0 END) AS in_b,
               ROW_NUMBER() OVER (ORDER BY h) AS mr
        FROM retained GROUP BY h
    ),
    mstats AS (
        SELECT t.theta_a, t.theta_b, t.nv_a, t.nv_b,
               LEAST(t.theta_a, t.theta_b,
                     CASE WHEN (SELECT COUNT(*) FROM merged) >= {_KMV_K}
                          THEN (SELECT MAX(CASE WHEN mr = {_KMV_K} THEN h END)
                                FROM merged)
                          ELSE {_KMV_H} END) AS theta_u,
               LEAST(t.theta_a, t.theta_b) AS theta_i
        FROM thetas t
    ),
    vcounts AS (
        SELECT s.*,
               (SELECT COUNT(*) FROM merged WHERE h < s.theta_u) AS nv_u,
               (SELECT COUNT(*) FROM merged
                WHERE in_a = 1 AND in_b = 1 AND h < s.theta_i) AS nv_i
        FROM mstats s
    ),
    exacts AS (
        SELECT COUNT(DISTINCT CASE WHEN seg = 1996 THEN ck END) AS n_exact_1996,
               COUNT(DISTINCT CASE WHEN seg = 1997 THEN ck END) AS n_exact_1997
        FROM sel
    )
    SELECT {_KMV_K} AS k, e.n_exact_1996, e.n_exact_1997,
           v.theta_a, v.theta_b,
           ROUND(CAST(v.nv_a AS DOUBLE) * CAST({_KMV_H} AS DOUBLE)
                 / CAST(v.theta_a AS DOUBLE), 6) AS est_1996,
           ROUND(CAST(v.nv_b AS DOUBLE) * CAST({_KMV_H} AS DOUBLE)
                 / CAST(v.theta_b AS DOUBLE), 6) AS est_1997,
           ROUND(CAST(v.nv_u AS DOUBLE) * CAST({_KMV_H} AS DOUBLE)
                 / CAST(v.theta_u AS DOUBLE), 6) AS est_union,
           ROUND(CAST(v.nv_i AS DOUBLE) * CAST({_KMV_H} AS DOUBLE)
                 / CAST(v.theta_i AS DOUBLE), 6) AS est_intersect,
           CAST(v.nv_i AS BIGINT) AS n_retained_intersect
    FROM vcounts v, exacts e
    """,
)
def agg_kmv_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta sketch with SET OPERATIONS — the sketch sibling of
    ``set_bitmap_audience_overlap``: estimate the distinct 1996 / 1997
    buyer audiences, their UNION, and their INTERSECTION from k=64
    minimum hash values per side. HLL (``agg_approx_count_distinct``)
    cannot intersect; theta sketches can — this is the
    Druid/DataSketches audience-overlap primitive. Per segment,
    theta = the k-th smallest 60-bit hash (or the full domain when the
    segment is smaller than k — exact mode, where the estimate
    degenerates to the true count); estimate = |values below theta| *
    H / theta; union clips theta to min of both sides and the merged
    k-th; intersection counts common values below min(theta_a,
    theta_b). Everything is DETERMINISTIC (md5-derived hashes, integer
    thetas, one fixed float op sequence rounded at 6dp), so the oracle
    replays the complete sketch algebra — no tolerance certificate.

    Scale design: the shuffle carries DISTINCT (segment, hash) pairs
    (map-side combinable distinct), the per-segment k-min selection is
    a bounded top-k, and every downstream frame is at most 2k rows —
    the sketch property that makes audience overlap O(k) state per
    segment at 100 TB (a production run keeps the k-min set as a typed
    aggregation buffer; the estimator algebra here is identical).
    The merged-rank window runs on that <=2k-row frame — bounded by
    construction, like the driver prefix over partition totals."""
    sel, ranked = _shared_kmv_frames(spark, sf_dir)
    stats = ranked.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.when(F.col("r") == _KMV_K, F.col("h"))).alias("kth"),
    ).select(
        "seg",
        F.when(F.col("n") >= _KMV_K, F.col("kth"))
        .otherwise(F.lit(_KMV_H))
        .alias("theta"),
        F.when(F.col("n") >= _KMV_K, F.lit(_KMV_K - 1))
        .otherwise(F.col("n"))
        .alias("nv"),
    )
    thetas = stats.agg(
        F.max(F.when(F.col("seg") == 1996, F.col("theta"))).alias("theta_a"),
        F.max(F.when(F.col("seg") == 1997, F.col("theta"))).alias("theta_b"),
        F.max(F.when(F.col("seg") == 1996, F.col("nv"))).alias("nv_a"),
        F.max(F.when(F.col("seg") == 1997, F.col("nv"))).alias("nv_b"),
    )
    retained = (
        ranked.join(F.broadcast(stats), "seg")
        .filter(F.col("h") < F.col("theta"))
        .select("seg", "h")
    )
    # <=2k rows; feeds kth + both counts
    merged = durable_checkpoint(
        retained.groupBy("h")
        .agg(
            F.max(F.when(F.col("seg") == 1996, 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("seg") == 1997, 1).otherwise(0)).alias("in_b"),
        )
        .withColumn(
            "mr", F.row_number().over(Window.partitionBy(F.lit(1)).orderBy("h"))
        ),
        eager=False,
    )
    mtop = merged.agg(
        F.count(F.lit(1)).alias("n_m"),
        F.max(F.when(F.col("mr") == _KMV_K, F.col("h"))).alias("kth_m"),
    )
    row0 = (
        thetas.crossJoin(F.broadcast(mtop))
        .select(
            "theta_a",
            "theta_b",
            "nv_a",
            "nv_b",
            F.least(
                F.col("theta_a"),
                F.col("theta_b"),
                F.when(F.col("n_m") >= _KMV_K, F.col("kth_m")).otherwise(
                    F.lit(_KMV_H)
                ),
            ).alias("theta_u"),
            F.least(F.col("theta_a"), F.col("theta_b")).alias("theta_i"),
        )
    )
    vcounts = (
        merged.crossJoin(F.broadcast(row0))
        .agg(
            F.first("theta_a").alias("theta_a"),
            F.first("theta_b").alias("theta_b"),
            F.first("nv_a").alias("nv_a"),
            F.first("nv_b").alias("nv_b"),
            F.first("theta_u").alias("theta_u"),
            F.first("theta_i").alias("theta_i"),
            F.sum(F.when(F.col("h") < F.col("theta_u"), 1).otherwise(0)).alias(
                "nv_u"
            ),
            F.sum(
                F.when(
                    (F.col("in_a") == 1)
                    & (F.col("in_b") == 1)
                    & (F.col("h") < F.col("theta_i")),
                    1,
                ).otherwise(0)
            ).alias("nv_i"),
        )
    )
    exacts = sel.agg(
        F.countDistinct(F.when(F.col("seg") == 1996, F.col("ck"))).alias(
            "n_exact_1996"
        ),
        F.countDistinct(F.when(F.col("seg") == 1997, F.col("ck"))).alias(
            "n_exact_1997"
        ),
    )
    est = (
        lambda nv, th: F.round(
            F.col(nv).cast("double")
            * F.lit(_KMV_H).cast("double")
            / F.col(th).cast("double"),
            6,
        )
    )
    return (
        vcounts.crossJoin(F.broadcast(exacts))
        .select(
            F.lit(_KMV_K).alias("k"),
            "n_exact_1996",
            "n_exact_1997",
            "theta_a",
            "theta_b",
            est("nv_a", "theta_a").alias("est_1996"),
            est("nv_b", "theta_b").alias("est_1997"),
            est("nv_u", "theta_u").alias("est_union"),
            est("nv_i", "theta_i").alias("est_intersect"),
            F.col("nv_i").cast("bigint").alias("n_retained_intersect"),
        )
    )


_WRES_N = 100
_WRES_BUCKET = split_bucket_sql("CAST(o_orderkey AS VARCHAR)", "wres-v1")


@query(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(floor(ln(({_WRES_BUCKET} + 0.5) / 65536.0)
                          / CAST(ROUND(o_totalprice * 100) AS BIGINT)
                          * 1152921504606846976.0) AS BIGINT) AS qkey
        FROM orders
    )
    SELECT o_orderkey, cents, qkey
    FROM keyed
    ORDER BY qkey DESC, o_orderkey
    LIMIT {_WRES_N}
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample (Efraimidis–Spirakis A-ES): draw
    {n} orders with inclusion probability proportional to order value,
    WITHOUT knowing the total weight — each row gets the key
    u^(1/w) (monotone-equivalently ln(u)/w, used here), and the sample
    is simply the top-k keys. u is a content-addressed uniform
    ((md5_bucket(salt||key) + 0.5) / 2^16 — the DP-release recipe), so
    the draw is replayable cross-engine; keys are quantized
    (floor(x * 2^60)) before comparison so a 1-ulp libm-vs-JVM ``ln``
    difference cannot reorder the sample except exactly at a floor
    boundary (the perplexity-quantization precedent), and ties break
    on the order key.

    Scale design: this is THE distributed weighted-sampling shape —
    one scan, per-partition partial top-k merged on the driver
    (``TakeOrderedAndProject``), no shuffle, no global sort, no
    normalizing-constant pass; k rows of state per partition. A
    production multi-epoch sampler varies the salt per draw."""
    orders = read_table(spark, sf_dir, "orders")
    u = (
        split_bucket_expr("o_orderkey", "wres-v1").cast("double") + F.lit(0.5)
    ) / F.lit(65536.0)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    keyed = orders.select(
        "o_orderkey",
        cents.alias("cents"),
        F.floor(
            F.log(u) / cents.cast("double") * F.lit(1152921504606846976.0)
        ).cast("bigint").alias("qkey"),
    )
    return keyed.orderBy(F.desc("qkey"), "o_orderkey").limit(_WRES_N)


_RULES_TOP = 100


def _shared_basket_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (order, part) basket-membership frame built once
    per (app, corpus): it is the basket MODEL of the table version
    (the same ANALYZE-style convention as the KMV and histogram
    frames), it was already localCheckpointed per call because three
    branches consume it, and the distinct is the query's dominant
    per-call shuffle. Same checkpointed lineage -> analyzed plan and
    plan fingerprint byte-identical (verified)."""

    def build():
        return durable_checkpoint(
            read_table(spark, sf_dir, "lineitem")
            .select(
                F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
            )
            .distinct(),
            eager=False,
        )

    return shared(spark, sf_dir, "basket_frame", build)


@query(
    "basket_association_rules",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    nb AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM b),
    items AS (SELECT pk, COUNT(*) AS n_item FROM b GROUP BY pk),
    pairs AS (
        SELECT a.pk AS part_a, c.pk AS part_b, COUNT(*) AS n_ab
        FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    )
    SELECT p.part_a, p.part_b, p.n_ab,
           ia.n_item AS n_a, ib.n_item AS n_b, nb.n_baskets,
           ROUND(CAST(p.n_ab AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE), 6)
               AS support,
           ROUND(CAST(p.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE), 6)
               AS conf_a_to_b,
           ROUND(CAST(p.n_ab AS DOUBLE) / CAST(ib.n_item AS DOUBLE), 6)
               AS conf_b_to_a,
           ROUND(CAST(p.n_ab AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
                 / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)), 6)
               AS lift
    FROM pairs p
    JOIN items ia ON p.part_a = ia.pk
    JOIN items ib ON p.part_b = ib.pk
    CROSS JOIN nb
    ORDER BY lift DESC, p.part_a, p.part_b
    LIMIT {_RULES_TOP}
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (support / confidence / lift) over order
    baskets — the Apriori candidate-pair scoring step that turns
    ``basket_part_pairs``'s raw co-occurrence into actionable rules.
    Baskets are DISTINCT (order, part) so counts are order-level (a
    repeated part in one order is one basket membership); pair counts
    come from the single-scan map-side expansion
    (``operators/cooccur.py`` — one keyed shuffle, never a self-join
    on the fact); item supports and the basket total reuse the SAME
    checkpointed distinct frame (one scan feeds all three branches).
    Ratios are fixed-op-order doubles rounded at 6dp over exact
    integer counts, so both engines agree bit-for-bit; top-{top}
    by (lift, part_a, part_b) is fully tie-broken.

    Scale posture: the item-support table is vocabulary-bounded
    (|parts|), so it broadcasts to the pair frame; the basket total is
    a one-row broadcast; the only data-scale shuffles are the distinct
    and the basket groupBy. The support>=2 gate bounds rule output the
    same way the frequent-itemset threshold does in Apriori."""
    from incubyte_vaccination_data_pipeline_spark.operators.cooccur import (
        cooccurrence_pairs,
    )

    li = _shared_basket_frame(spark, sf_dir)
    pairs = (
        cooccurrence_pairs(li, "ok", "pk")
        .groupBy(F.col("lo").alias("part_a"), F.col("hi").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    items = li.groupBy("pk").agg(F.count(F.lit(1)).alias("n_item"))
    nb = li.agg(F.countDistinct("ok").alias("n_baskets"))
    ia = items.select(F.col("pk").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = items.select(F.col("pk").alias("part_b"), F.col("n_item").alias("n_b"))
    d = lambda c: F.col(c).cast("double")
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            "n_baskets",
            F.round(d("n_ab") / d("n_baskets"), 6).alias("support"),
            F.round(d("n_ab") / d("n_a"), 6).alias("conf_a_to_b"),
            F.round(d("n_ab") / d("n_b"), 6).alias("conf_b_to_a"),
            F.round(
                d("n_ab") * d("n_baskets") / (d("n_a") * d("n_b")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(_RULES_TOP)
    )


_KM_CENSOR_M = 3  # last order within 3 months of corpus end => censored


@query(
    "orders_survival_retention",
    oracle=f"""
    WITH c AS (
        SELECT o_custkey,
               MIN(EXTRACT(year FROM o_orderdate) * 12
                   + EXTRACT(month FROM o_orderdate)) AS f,
               MAX(EXTRACT(year FROM o_orderdate) * 12
                   + EXTRACT(month FROM o_orderdate)) AS l
        FROM orders GROUP BY o_custkey
    ),
    g AS (SELECT MAX(l) AS gmax FROM c),
    life AS (
        SELECT CAST(c.l - c.f AS BIGINT) AS k,
               (g.gmax - c.l) <= {_KM_CENSOR_M} AS cens
        FROM c, g
    ),
    grp AS (
        SELECT k,
               CAST(SUM(CASE WHEN cens THEN 0 ELSE 1 END) AS BIGINT)
                   AS churned,
               CAST(SUM(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT)
                   AS censored
        FROM life GROUP BY k
    ),
    risk AS (
        SELECT k, churned, censored,
               CAST(SUM(churned + censored) OVER (
                   ORDER BY k DESC ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS n_at_risk
        FROM grp
    ),
    arr AS (
        SELECT list(struct_pack(k := k, d := churned, n := n_at_risk)
                    ORDER BY k) AS a
        FROM risk
    ),
    x AS (
        SELECT a, unnest(range(1, len(a) + 1)) AS i FROM arr
    )
    SELECT a[i].k AS k, a[i].n AS n_at_risk, a[i].d AS churned,
           (SELECT censored FROM risk r WHERE r.k = a[i].k) AS censored,
           ROUND(list_reduce(
               list_transform(a[1:i],
                              e -> 1.0 - CAST(e.d AS DOUBLE)
                                   / CAST(e.n AS DOUBLE)),
               (acc, f) -> acc * f), 6) AS survival
    FROM x
    """,
)
def orders_survival_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of customer lifetimes (months from
    first to last order), WITH right-censoring: customers still
    ordering within {m} months of the corpus end are censored — they
    leave the at-risk pool without counting as churn, the estimator
    detail naive retention curves get wrong. S(k) = prod_(i<=k)
    (1 - d_i / n_i) with integer death/at-risk counts; the product is
    a SCALAR double fold over the k-sorted factor array (the SES fold
    family — DuckDB's list_reduce is safe for scalar accumulators,
    unlike struct ones; both engines multiply in identical order, so
    values hash-match at 6dp).

    Scale posture: everything after the per-customer min/max aggregate
    (one keyed shuffle over orders) operates on a frame bounded by
    CALENDAR MONTHS (~80 rows): the at-risk suffix sum and the fold
    run on that metadata-scale frame, the same boundedness class as
    the driver prefix over partition totals. Censoring derives from an
    in-query one-row corpus-end aggregate (broadcast), so the query is
    replayable on any snapshot."""
    orders = read_table(spark, sf_dir, "orders")
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    c = orders.groupBy("o_custkey").agg(
        F.min(mi).alias("f"), F.max(mi).alias("l")
    )
    c = durable_checkpoint(c, eager=False)  # feeds gmax + lifetimes
    g = c.agg(F.max("l").alias("gmax"))
    life = c.crossJoin(F.broadcast(g)).select(
        (F.col("l") - F.col("f")).cast("bigint").alias("k"),
        ((F.col("gmax") - F.col("l")) <= _KM_CENSOR_M).alias("cens"),
    )
    grp = life.groupBy("k").agg(
        F.sum(F.when(F.col("cens"), 0).otherwise(1)).cast("bigint").alias(
            "churned"
        ),
        F.sum(F.when(F.col("cens"), 1).otherwise(0)).cast("bigint").alias(
            "censored"
        ),
    )
    # suffix sum over the ~80-row month frame: calendar-bounded by
    # construction (same boundedness class as the KMV merged window)
    wk = Window.partitionBy(F.lit(1)).orderBy(F.desc("k")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = grp.withColumn(
        "n_at_risk",
        F.sum(F.col("churned") + F.col("censored")).over(wk).cast("bigint"),
    )
    arr = risk.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("k", "churned", "n_at_risk", "censored"))
        ).alias("a")
    )
    return arr.select(F.posexplode("a").alias("p", "e"), "a").select(
        F.col("e.k").alias("k"),
        F.col("e.n_at_risk").alias("n_at_risk"),
        F.col("e.churned").alias("churned"),
        F.col("e.censored").alias("censored"),
        F.round(
            F.expr(
                "aggregate(slice(a, 1, p + 1), 1.0D,"
                " (acc, x) -> acc * (1.0D - cast(x.churned as double)"
                " / cast(x.n_at_risk as double)))"
            ),
            6,
        ).alias("survival"),
    )


# --- customer-value analytics -------------------------------------------

_RFM_AS_OF = "2002-01-01"

_RFM_ORACLE = f"""
    WITH base AS (
        SELECT o_custkey,
               CAST(date_diff('day', MAX(o_orderdate), DATE '2002-01-01')
                    AS BIGINT) AS recency_days,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT *,
               NTILE(4) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
               NTILE(4) OVER (ORDER BY frequency, o_custkey) AS f_score,
               NTILE(4) OVER (ORDER BY monetary, o_custkey) AS m_score
        FROM base
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CASE WHEN r_score = 4 AND f_score = 4 THEN 'champion'
                WHEN r_score = 4 THEN 'recent'
                WHEN f_score = 4 THEN 'loyal'
                WHEN r_score = 1 AND f_score = 1 THEN 'lost'
                ELSE 'regular' END AS segment
    FROM scored
"""


@query("orders_rfm_segmentation", _RFM_ORACLE)
def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency / frequency / monetary
    quartiles (NTILE with custkey tie-break so both engines bucket
    identically) + a rule-based segment label. One scan, one custkey
    aggregate; the three NTILEs share one unpartitioned sort of the
    per-customer frame — |customers| rows, not |orders| (acceptable
    single-partition step on an aggregate that is orders-of-magnitude
    smaller than the fact table; a scale-out variant would ntile via
    approx quantile boundaries)."""
    orders = read_table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(_RFM_AS_OF).cast("date"), F.max("o_orderdate")
        ).cast("bigint").alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    r = F.ntile(4).over(Window.orderBy(F.desc("recency_days"), "o_custkey"))
    f = F.ntile(4).over(Window.orderBy("frequency", "o_custkey"))
    m = F.ntile(4).over(Window.orderBy("monetary", "o_custkey"))
    scored = base.select(
        "o_custkey", "recency_days", "frequency", "monetary",
        r.alias("r_score"), f.alias("f_score"), m.alias("m_score"),
    )
    seg = (
        F.when((F.col("r_score") == 4) & (F.col("f_score") == 4), "champion")
        .when(F.col("r_score") == 4, "recent")
        .when(F.col("f_score") == 4, "loyal")
        .when((F.col("r_score") == 1) & (F.col("f_score") == 1), "lost")
        .otherwise("regular")
    )
    return scored.select("*", seg.alias("segment"))


# --- cohort analytics ---------------------------------------------------

_COHORT_ORACLE = """
    WITH firsts AS (
        SELECT o_custkey,
               MIN(o_orderdate) AS first_date
        FROM orders GROUP BY o_custkey
    ),
    cohorts AS (
        SELECT o_custkey,
               CAST(date_trunc('quarter', first_date) AS DATE) AS cohort_q
        FROM firsts
    )
    SELECT c.cohort_q,
           COUNT(DISTINCT o.o_custkey) AS n_customers,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_value,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                / COUNT(DISTINCT o.o_custkey) AS DOUBLE) AS ltv_per_customer
    FROM orders o JOIN cohorts c ON o.o_custkey = c.o_custkey
    GROUP BY c.cohort_q
"""


@query("orders_cohort_ltv", _COHORT_ORACLE)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-cohort lifetime value: customers grouped by the
    quarter of their FIRST order, with each cohort's total and
    per-customer value over all subsequent activity. One scan builds
    the first-order frame (keyed aggregate), a second pass joins the
    cohort label back — the join is on the customer key both sides
    already aggregate/shuffle on. Money stays DECIMAL until the final
    cast (repo convention), so LTV is exact-over-exact."""
    orders = read_table(spark, sf_dir, "orders")
    cohorts = (
        orders.groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("first_date"))
        .select(
            "o_custkey",
            F.to_date(F.date_trunc("quarter", "first_date")).alias("cohort_q"),
        )
    )
    dec = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    return (
        orders.join(cohorts, "o_custkey")
        .groupBy("cohort_q")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            dec.cast("double").alias("total_value"),
            (dec / F.countDistinct("o_custkey")).cast("double").alias(
                "ltv_per_customer"
            ),
        )
    )


# --- period-over-period growth ------------------------------------------

_LINEITEM_YOY_BRAND_GROWTH_ORACLE = f"""
    WITH rev AS (
        SELECT p.p_brand AS brand,
               CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS year,
               CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    )
    SELECT brand, year, revenue,
           LAG(revenue) OVER (PARTITION BY brand ORDER BY year)
               AS prev_revenue,
           ROUND((revenue - LAG(revenue) OVER (PARTITION BY brand
                                               ORDER BY year))
                 / LAG(revenue) OVER (PARTITION BY brand ORDER BY year)
                 * 100.0, 6) AS yoy_pct
    FROM rev
    QUALIFY LAG(revenue) OVER (PARTITION BY brand ORDER BY year)
            IS NOT NULL
    """


@query("lineitem_yoy_brand_growth", _LINEITEM_YOY_BRAND_GROWTH_ORACLE)
def lineitem_yoy_brand_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per part brand — the BI staple
    (period-over-period comparison via LAG over the period dimension).
    Revenue aggregates DECIMAL-exact per (brand, year) before the one
    double cast; the growth ratio is a fixed float op sequence over
    those exact sums, rounded at 6dp. The part dimension broadcasts
    into the fact scan (star-join shape); the LAG window partitions on
    brand — years per brand are calendar-bounded, so window state is
    tiny. First year per brand drops (no prior period)."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").cast("int").alias("year"),
        )
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("brand").orderBy("year")
    return (
        rev.withColumn("prev_revenue", F.lag("revenue").over(w))
        .filter(F.col("prev_revenue").isNotNull())
        .select(
            "brand",
            "year",
            "revenue",
            "prev_revenue",
            F.round(
                (F.col("revenue") - F.col("prev_revenue"))
                / F.col("prev_revenue")
                * 100.0,
                6,
            ).alias("yoy_pct"),
        )
    )


# --- k-center coreset sampling -------------------------------------------

KCENTER_K = 8


def _d2_cols_sql(a: str, b: str) -> str:
    """In-order squared-L2 between two DuckDB list columns — the same
    left fold (index order, identical double op sequence) as the Spark
    side's ``_dist2_lit`` zip_with aggregate."""
    diff = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE),"
        f" list_transform(range(1, len({a}) + 1),"
        f" i -> {diff} * {diff})),"
        f" (x, y) -> x + y)"
    )


def _kcenter_oracle(k: int = KCENTER_K) -> str:
    d2 = _d2_cols_sql
    ctes = [
        """c0 AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
    )"""
    ]
    for r in range(1, k):
        prev = [f"c{j}" for j in range(r)]
        dists = [d2("e.embedding", f"{p}.embedding") for p in prev]
        mind = f"LEAST({', '.join(dists)})" if len(dists) > 1 else dists[0]
        not_chosen = " AND ".join(f"e.vec_id <> {p}.vec_id" for p in prev)
        ctes.append(
            f"""c{r} AS (
        SELECT e.vec_id, e.embedding, {mind} AS d
        FROM embeddings e, {', '.join(prev)}
        WHERE {not_chosen}
        ORDER BY d DESC, e.vec_id LIMIT 1
    )"""
        )
    selects = ["SELECT CAST(0 AS INT) AS center_rank, vec_id, CAST(0.0 AS DOUBLE) AS min_dist2 FROM c0"]
    selects += [
        f"SELECT CAST({r} AS INT), vec_id, ROUND(d, 6) FROM c{r}" for r in range(1, k)
    ]
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(selects)


_SAMPLE_KCENTER_ORACLE = _kcenter_oracle()


@query("sample_kcenter_coreset", _SAMPLE_KCENTER_ORACLE)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding corpus
    (farthest-first traversal, k=8): the diversity-sampling primitive
    of training-data selection — coreset construction, active-learning
    seeding, prototype picking. Each round's argmax-of-min-distance is
    a DISTRIBUTED TakeOrdered; only the k chosen centers are collected
    (the iterative-driver-program pattern of the IVF quantizer). Fully
    deterministic (min-id seed, index-order distance folds against
    literal centers, exact min, lowest-id tie-break), so the oracle
    unrolls all k selection rounds in SQL — the PageRank recipe.
    Emits (center_rank, vec_id, min_dist2): the coverage radius at
    selection, i.e. the k-center objective's trajectory."""
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        kcenter_coreset,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    centers = kcenter_coreset(emb, k=KCENTER_K)
    out = spark.createDataFrame(
        centers, "center_rank int, vec_id bigint, min_dist2 double"
    )
    return out.select(
        "center_rank", "vec_id", F.round("min_dist2", 6).alias("min_dist2")
    )


# --- exact-size stratified sampling --------------------------------------

#: exact-size stratified sampling: per-stratum budget = ceil(frac x
#: stratum size) — experiment design needs exact counts per stratum,
#: which the registered rate-based samplers (hash-threshold
#: predicates) only deliver in expectation.
STRAT_FRAC = 0.1


_STRAT_ORACLE = f"""
    SELECT doc_id, lang, rn FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents)
    WHERE rn <= CAST(ceil({STRAT_FRAC} * n) AS BIGINT)
"""


@query("sample_stratified_exact", _STRAT_ORACLE)
def sample_stratified_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-size stratified sample of ``documents`` by language:
    every stratum contributes exactly ceil(0.1 x its size) documents,
    chosen by content-hash order (md5(doc_id), doc_id — deterministic
    on every engine and run, no TABLESAMPLE nondeterminism). The
    counted-budget complement to ``sample_stratified_orders``'s
    rate-based hash predicate: a scan-side filter samples at a RATE
    (exact only in expectation); an eval-set builder or per-language
    training quota needs the exact count. One keyed shuffle (the
    per-stratum window); no driver-side work. Returns
    (doc_id, lang, rn) — rank within stratum kept so downstream can
    tighten the budget without resampling."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    wn = Window.partitionBy("lang")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("__n"),
        )
        .filter(
            F.col("rn")
            <= F.ceil(F.lit(STRAT_FRAC) * F.col("__n")).cast("long")
        )
        .select("doc_id", "lang", "rn")
    )
